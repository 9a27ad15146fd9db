package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Where a staged table lives, and the one way graft reads and writes
  * its own small text files: layout records (`plans.Freshness`), bucket
  * sidecars ([[TabularWriter]]), stats records (`plans.TableStats`) and
  * stream batch markers. Paths are qualified and every file goes
  * through `path.getFileSystem` of the session's Hadoop configuration,
  * so the files land on the warehouse's own filesystem (`file:`,
  * `hdfs:`, `s3a:` …). On `file:` that is Hadoop's checksummed local
  * filesystem: a write adds a hidden `.<name>.crc` and a read checks it. */
object GraftFiles {

  /** Catalog table `table`'s qualified location: the registered one, or
    * where the table would be created when it is not registered. */
  def locationOf(spark: SparkSession, table: String): Path = {
    val (catalog, id) = (spark.sessionState.catalog,
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    new Path(if (catalog.tableExists(id)) catalog.getTableMetadata(id).location
      else catalog.defaultTablePath(id))
  }

  private def fs(spark: SparkSession, p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, p: Path): Boolean = fs(spark, p).exists(p)

  /** The UTF-8 text of file `p`, None when there is no such file. */
  def read(spark: SparkSession, p: Path): Option[String] = Option.when(exists(spark, p)) {
    val in = fs(spark, p).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Replace file `p` with `text` as UTF-8, creating missing parents. */
  def write(spark: SparkSession, p: Path, text: String): Unit = {
    val out = fs(spark, p).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Delete `p` (a directory with its contents); false when absent. */
  def delete(spark: SparkSession, p: Path): Boolean = fs(spark, p).delete(p, true)
}
