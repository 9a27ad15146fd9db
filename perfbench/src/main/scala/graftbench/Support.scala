package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Command-line options of the benchmark JVM. */
final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
    trace: Boolean = false, data: String = "", work: String = "", out: String = "",
    cores: Int = 4, fingerprints: String = "", queries: Seq[String] = Nil)

object Opts {
  def parse(args: Seq[String]): Opts = args.grouped(2).foldLeft(Opts()) {
    case (o, Seq("--workload", v)) => o.copy(workload = v)
    case (o, Seq("--seed", v)) => o.copy(seed = v.toLong)
    case (o, Seq("--seconds", v)) => o.copy(seconds = v.toDouble)
    case (o, Seq("--trace", v)) => o.copy(trace = v == "1")
    case (o, Seq("--data", v)) => o.copy(data = v)
    case (o, Seq("--work", v)) => o.copy(work = v)
    case (o, Seq("--out", v)) => o.copy(out = v)
    case (o, Seq("--cores", v)) => o.copy(cores = v.toInt)
    case (o, Seq("--fingerprints", v)) => o.copy(fingerprints = v)
    case (o, Seq("--queries", v)) => o.copy(queries = v.split(",").toSeq)
    case (_, other) => throw new IllegalArgumentException(s"unknown option: ${other.mkString(" ")}")
  }
}

/** Output fingerprint of a result: row count plus an order-insensitive
  * sum of per-row xxhash64 values (summed as DECIMAL so it cannot
  * overflow). Equal fingerprints mean equal multisets of rows up to
  * hash collisions. */
object Fingerprint {
  def of(df: DataFrame): String = {
    val cols = df.columns.map(c => col(s"`$c`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Recorded fingerprints, one `name<TAB>fingerprint` line each. */
  def load(path: String): Map[String, String] =
    if (path.isEmpty || !Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
}

object Files2 {
  /** Bytes of all regular files under `p`. */
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Data files (not sidecars or markers) under `p`. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
        .filter { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }
      finally s.close()
    }
}
