package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema-inferred Parquet/ORC scans with the inference paid once per
  * file set: every footer-schema read in the engine goes through
  * [[read]].
  *
  * `spark.read.parquet(path)` runs one Spark job per call to infer the
  * schema from the footers (ROADMAP item 2: 105–177 ms per read, vs
  * 19–35 ms with the schema supplied). A long-lived session reads the
  * same unchanged files over and over, so the inferred `StructType` is
  * kept JVM-wide and a later read of the same files supplies it — the
  * metadata half of a catalog, never the data.
  *
  *  - Key: format, qualified paths, reader options, and the session's explicitly
  *    set confs that change what inference returns (see [[InferenceConfs]]).
  *  - Validation: the SHA-1 of the sorted `path length mtime` lines of
  *    every file under the roots — one Hadoop `listStatus` per directory,
  *    no Spark job. Hidden files are listed too: an extra file can only
  *    cause a miss. Spark writers never rewrite a file in place, so an
  *    append, an overwrite or a rewrite under the same name all change
  *    the listing.
  *  - Hit: the read with the schema supplied (no job). Miss: the
  *    uncached read, whose schema replaces the key's entry, so the map
  *    grows with the number of distinct reads, not with appends.
  *  - A missing root, an empty listing or a glob path is read uncached
  *    and stores nothing, so every error stays Spark's own.
  *
  * The listing is taken BEFORE the uncached read: files that change
  * between the two leave a stale digest beside a fresher schema, which
  * the next read's listing misses on.
  *
  * Reference analog: the interactive-session reuse of *Incremental
  * Based Framework for Efficient Top-K Similarity Search in Interactive
  * Data Analysis Sessions* (EDBT 2020, PAPERS.md) — work a session has
  * done is reused by its later queries instead of recomputed.
  */
object FileSchemas {

  /** Conf prefixes (and exact keys) whose explicitly set values enter
    * the cache key: they decide the types inference returns
    * (`nanosAsLong`, `inferTimestampNTZ`, partition-value typing) or
    * which files it reads. Keying on more confs only adds misses. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.", "spark.sql.legacy.parquet.", "spark.sql.orc.",
    "spark.sql.files.ignoreCorruptFiles", "spark.sql.files.ignoreMissingFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  private final case class Key(format: String, paths: Seq[String],
      options: Map[String, String], confs: Map[String, String])

  private final case class Entry(digest: String, schema: StructType)

  private val schemas = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** `spark.read.format(format).options(options).load(paths)`, with the
    * schema supplied from the cache when the files under `paths` are
    * listed exactly as when it was inferred. */
  def read(spark: SparkSession, paths: Seq[String], format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    listed(spark, paths, options) match {
      case None => reader.load(paths: _*)
      case Some((roots, d)) =>
        val confs = spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
          InferenceConfs.exists(k.startsWith)
        }
        val key = Key(format, roots, options, confs)
        Option(schemas.get(key)) match {
          case Some(Entry(`d`, schema)) => reader.schema(schema).load(paths: _*)
          case _ =>
            val df = reader.load(paths: _*)
            schemas.put(key, Entry(d, df.schema))
            df
        }
    }
  }

  /** SHA-1 of the sorted `path length mtime` lines of every file under
    * `paths`; None when a root is missing or a glob, or nothing is
    * listed. One Hadoop listing per directory, no Spark job — also the cheap
    * "did the base change" check of [[graft.Tables]]' redirect guard. */
  def digest(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): Option[String] =
    listed(spark, paths, options).map(_._2)

  /** The fully qualified roots (`/x` and `file:/x` are one key, so a
    * layout's qualified base path and a user's plain one share an entry)
    * and the [[digest]] of the files under them. */
  private def listed(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Option[(Seq[String], String)] = {
    if (paths.isEmpty || paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    // plain `listStatus`, not `listFiles`: its LocatedFileStatus also
    // loads permissions and block locations, which costs a call per
    // file and fails on filesystems that wrap the local one
    def listing(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) listing(fs, st.getPath)
        else Seq(s"${st.getPath} ${st.getLen} ${st.getModificationTime}")
      }
    val roots = try paths.map { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        fs.makeQualified(root).toString -> listing(fs, root)
      }
      catch { case _: java.io.FileNotFoundException => Nil }
    val lines = roots.flatMap(_._2)
    if (lines.isEmpty) None
    else Some(roots.map(_._1) -> java.security.MessageDigest.getInstance("SHA-1")
      .digest(lines.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }
}
