package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  InMemoryFileIndex, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The engine's one answer to "which files make up a dataset, and did
  * they change?", and the schema-inferred Parquet/ORC scans built on it,
  * with the inference paid once per file set: every footer-schema read
  * in the engine goes through [[read]].
  *
  * Spark's own file index is the only lister. A read's entries are
  * those of the `InMemoryFileIndex` its relation holds ([[entriesOf]],
  * no filesystem call); a caller that only lists gets them from a new
  * index over the qualified roots ([[list]]). Either way a file set is
  * what Spark would scan:
  *
  *  - Spark's hidden-name rule applies below each root, never to the
  *    root's own ancestors, so a dataset under `.bench_data/` or a
  *    `_staging` directory is listed in full. `_SUCCESS`, `.crc` files
  *    and graft's own `_graft_*` sidecars are not part of a file set.
  *  - A missing root lists as the empty set (Spark's index logs a WARN
  *    for it); above `spark.sql.sources.parallelPartitionDiscovery.threshold`
  *    directories the index lists in parallel, as it does for a scan.
  *  - Each [[Entry]] is a qualified path, a length and an mtime.
  *  - The [[fingerprint]] is the SHA-1 of the sorted `path length mtime`
  *    lines. The mtime is in it: a file rewritten in place under the
  *    same name at the same length is a different file set. Fingerprints
  *    recorded before the mtime and the qualified path entered the
  *    lines never match a live one, so a layout staged that way is
  *    refused once and re-staged.
  *
  * The schema cache: `spark.read.parquet(path)` runs one Spark job per
  * call to infer the schema from the footers (ROADMAP item 2: 105–177
  * ms per read, vs 19–35 ms with the schema supplied). A long-lived
  * session reads the same unchanged files over and over, so the
  * inferred `StructType` is kept JVM-wide and a later read of the same
  * files supplies it — the metadata half of a catalog, never the data.
  *
  *  - Key: format, qualified roots (`/x` and `file:/x` are one key, so a
  *    layout's qualified base path and a user's plain one share an
  *    entry), reader options, and the session's explicitly set confs
  *    that change what inference returns (see [[InferenceConfs]]).
  *  - Order: with an entry for the key, the frame is built first with
  *    its schema supplied (no job), and the entries of the index Spark
  *    listed for it are fingerprinted. Equal to the entry's: that frame
  *    is the read, one listing in all. Different, or the build threw:
  *    the uncached read. Writing a marker, a checksum or a sidecar
  *    beside the files keeps the hit; a changed `_common_metadata`
  *    (which inference reads first) misses.
  *  - The uncached read's schema replaces the key's entry, with the
  *    fingerprint of the very index inference ran over, so files that
  *    change during a read cannot leave a stale fingerprint beside a
  *    fresher schema. The map grows with the number of distinct reads,
  *    not with appends.
  *  - A glob path is read uncached, and a read that lists no file stores
  *    nothing, so every error stays Spark's own.
  *
  * Reference analog: the interactive-session reuse of *Incremental
  * Based Framework for Efficient Top-K Similarity Search in Interactive
  * Data Analysis Sessions* (EDBT 2020, PAPERS.md) — work a session has
  * done is reused by its later queries instead of recomputed; here the
  * listing the scan makes anyway is the one the cache checks.
  */
object FileSchemas {

  /** One file of a file set: fully qualified path, length, mtime (ms). */
  final case class Entry(path: String, len: Long, mtime: Long) {
    /** The `path length mtime` line a fingerprint hashes and a sidecar records. */
    def line: String = s"$path $len $mtime"
  }

  object Entry {
    private val Line = "(.+) (\\d+) (\\d+)".r

    /** The entry an [[Entry.line]] wrote; None for any other line. */
    def parse(line: String): Option[Entry] = line match {
      case Line(p, len, mtime) => Some(Entry(p, len.toLong, mtime.toLong))
      case _ => None
    }

    private[FileSchemas] def of(st: FileStatus): Entry =
      Entry(st.getPath.toString, st.getLen, st.getModificationTime)
  }

  /** `paths` qualified on their own filesystems (no filesystem call). */
  private def qualified(spark: SparkSession, paths: Seq[String],
      options: Map[String, String]): Seq[Path] = {
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    paths.map { p => val root = new Path(p); root.getFileSystem(conf).makeQualified(root) }
  }

  /** The entries under `paths`, listed by a new Spark file index over
    * the qualified roots (empty for a missing root or a glob). */
  def list(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): Seq[Entry] =
    new InMemoryFileIndex(spark, qualified(spark, paths, options), options, None)
      .allFiles().map(Entry.of)

  /** The entries of a live `FileIndex` — for Spark's own indexes, from
    * the statuses it already holds (no filesystem call); any other index
    * lists its root paths. */
  def entriesOf(idx: FileIndex): Seq[Entry] = idx match {
    case p: PartitioningAwareFileIndex => p.allFiles().map(Entry.of)
    case other => list(SparkSession.active, other.rootPaths.map(_.toString))
  }

  /** Entries of the single file scan under `df`'s analyzed plan, from its
    * index (None when the plan has no or several file scans). */
  def leafEntries(df: DataFrame): Option[Seq[Entry]] =
    df.queryExecution.analyzed.collect { case lr: LogicalRelation => lr.relation }
      .collect { case fs: HadoopFsRelation => fs.location } match {
      case Seq(loc) => Some(entriesOf(loc))
      case _ => None
    }

  /** SHA-1 of the sorted `path length mtime` lines of `entries`. */
  def fingerprint(entries: Seq[Entry]): String = sha1(entries.map(_.line).sorted.mkString("\n"))

  /** Hex SHA-1 of `s`'s UTF-8 bytes — the engine's one content hash. */
  def sha1(s: String): String = sha1Bytes(s).map("%02x".format(_)).mkString

  def sha1Bytes(s: String): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes("UTF-8"))

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

  private final case class Cached(fingerprint: String, schema: StructType)

  /** JVM-wide: an entry describes files, keyed by their roots and the
    * inference confs and checked against their fingerprint, so it holds
    * for any session on any context. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[Key, Cached]()

  /** `spark.read.format(format).options(options).load(paths)`, with the
    * schema supplied from the cache when the index Spark lists for the
    * read holds exactly the files it was inferred from. */
  def read(spark: SparkSession, paths: Seq[String], format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    // a new reader each time: `schema` sets it on the reader it is called on
    def reader = spark.read.format(format).options(options)
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) return reader.load(paths: _*)
    val confs = spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
      InferenceConfs.exists(k.startsWith)
    }
    val key = Key(format, qualified(spark, paths, options).map(_.toString), options, confs)
    val hit = Option(schemas.get(key)).flatMap { cached =>
      try {
        val df = reader.schema(cached.schema).load(paths: _*)
        Option.when(leafEntries(df).map(fingerprint).contains(cached.fingerprint))(df)
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    hit.getOrElse {
      val df = reader.load(paths: _*)
      leafEntries(df).filter(_.nonEmpty)
        .foreach(es => schemas.put(key, Cached(fingerprint(es), df.schema)))
      df
    }
  }
}
