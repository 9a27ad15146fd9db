package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Timestamp outputs must land NAIVE (µs, isAdjustedToUTC=false) like
    * the driver's own testdata: the driver's pandas compare reads the
    * oracle side naive, so a tz-annotated µs column (what
    * outputTimestampType=TIMESTAMP_MICROS writes for TimestampType)
    * hash-mismatches on the tz attribute alone. Casting LTZ→NTZ under
    * the UTC session zone is value-identical. */
  def naiveTs(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    // recurse into containers: a TimestampType nested in an
    // array/struct/map would otherwise land tz-adjusted
    // (isAdjustedToUTC=true) and hash-mismatch the driver's naive read
    def swap(dt: DataType): DataType = dt match {
      case TimestampType => TimestampNTZType
      case ArrayType(e, n) => ArrayType(swap(e), n)
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = swap(f.dataType))))
      case MapType(k, v, n) => MapType(swap(k), swap(v), n)
      case other => other
    }
    df.schema.fields.filter(f => swap(f.dataType) != f.dataType)
      .foldLeft(df)((d, f) => d.withColumn(f.name,
        org.apache.spark.sql.functions.col(f.name).cast(swap(f.dataType))))
  }

  /** Usage: runMain graft.Verify <sfDir> <outDir> [name,name,...]
    * A name list dumps only those queries and their oracle SQL, so
    * `scripts/check.py` compares just the queries under iteration; an
    * unknown name fails before Spark starts. */
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [name,name,...]")
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.lift(2).map(SparkEntry.parseNames(_).toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => wanted(kv._1)).foreach { case (name, fn) =>
      try naiveTs(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same between-query session hygiene as Bench: leaked gate state
      // otherwise slows the tail of the 170+ query run
      GraftSession.clearSessionState(spark)
    }
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${JsonOut.q(k)}: ${JsonOut.q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
