package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/** The engine's one file inventory — which files make up a dataset and
  * whether they changed — and the schema-inferred Parquet/ORC scans
  * built on it, with the inference paid once per file set: every
  * footer-schema read in the engine goes through [[read]].
  *
  * The inventory ([[inventory]], [[entriesOf]], [[fingerprint]]):
  *
  *  - One recursive Hadoop `listStatus` per root, no Spark job. It keeps
  *    exactly the entries Spark's file index keeps: a listed name Spark
  *    skips (`Bridge.hiddenName` — `_`/`.`-prefixed names other than
  *    `_metadata`, `_common_metadata` and `_k=v` directories, and
  *    `._COPYING_` leftovers) is dropped with everything under it. The
  *    rule applies only to entries below a root, never to the root's
  *    own ancestors, so a dataset under `.bench_data/` or a `_staging`
  *    directory is listed in full. `_SUCCESS`, `.crc` files and graft's
  *    own `_graft_*` sidecars are therefore not part of a file set.
  *  - Each [[Entry]] is a qualified path, a length and an mtime.
  *    [[entriesOf]] builds the same entries from a live `FileIndex`'s
  *    statuses, so a rewrite rule can check a plan's leaf without a
  *    filesystem call.
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
  *  - Validation: the inventory's fingerprint. Writing a marker, a
  *    checksum or a sidecar beside the files keeps the hit; a changed
  *    `_common_metadata` (which inference reads first) misses.
  *  - Hit: the read with the schema supplied (no job). Miss: the
  *    uncached read, whose schema replaces the key's entry, so the map
  *    grows with the number of distinct reads, not with appends.
  *  - A missing root, an empty listing or a glob path is read uncached
  *    and stores nothing, so every error stays Spark's own.
  *
  * The listing is taken BEFORE the uncached read: files that change
  * between the two leave a stale fingerprint beside a fresher schema,
  * which the next read's listing misses on.
  *
  * Reference analog: the interactive-session reuse of *Incremental
  * Based Framework for Efficient Top-K Similarity Search in Interactive
  * Data Analysis Sessions* (EDBT 2020, PAPERS.md) — work a session has
  * done is reused by its later queries instead of recomputed.
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

  /** A file set: its fully qualified roots and the entries under them. */
  final case class Inventory(roots: Seq[String], entries: Seq[Entry]) {
    def fingerprint: String = FileSchemas.fingerprint(entries)
  }

  /** The inventory of `paths`: one `listStatus` per directory below each
    * root, Spark's hidden-name rule applied below the roots. None when a
    * path is a glob or a root is missing. */
  def inventory(spark: SparkSession, paths: Seq[String],
      options: Map[String, String] = Map.empty): Option[Inventory] = {
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) return None
    val conf = spark.sessionState.newHadoopConfWithOptions(options)
    // plain `listStatus`, not `listFiles`: its LocatedFileStatus also
    // loads permissions and block locations, which costs a call per
    // file and fails on filesystems that wrap the local one
    def walk(fs: FileSystem, dir: Path): Seq[Entry] =
      fs.listStatus(dir).toSeq.filterNot(st => Bridge.hiddenName(st.getPath.getName))
        .flatMap(st => if (st.isDirectory) walk(fs, st.getPath) else Seq(Entry.of(st)))
    try {
      val listed = paths.map { p =>
        val root = new Path(p)
        val fs = root.getFileSystem(conf)
        val qualified = fs.makeQualified(root)
        qualified.toString -> walk(fs, qualified)
      }
      Some(Inventory(listed.map(_._1), listed.flatMap(_._2)))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** The entries of a live `FileIndex` — for Spark's own indexes, from
    * the statuses it already holds (no filesystem call); any other index
    * lists its root paths. */
  def entriesOf(idx: FileIndex): Seq[Entry] = idx match {
    case p: PartitioningAwareFileIndex => p.allFiles().map(Entry.of)
    case other => inventory(SparkSession.active, other.rootPaths.map(_.toString))
      .toSeq.flatMap(_.entries)
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
    * schema supplied from the cache when the files under `paths` are
    * listed exactly as when it was inferred. */
  def read(spark: SparkSession, paths: Seq[String], format: String = "parquet",
      options: Map[String, String] = Map.empty): DataFrame = {
    val reader = spark.read.format(format).options(options)
    inventory(spark, paths, options).filter(_.entries.nonEmpty) match {
      case None => reader.load(paths: _*)
      case Some(inv) =>
        val confs = spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
          InferenceConfs.exists(k.startsWith)
        }
        val key = Key(format, inv.roots, options, confs)
        val fp = inv.fingerprint
        Option(schemas.get(key)) match {
          case Some(Cached(`fp`, schema)) => reader.schema(schema).load(paths: _*)
          case _ =>
            val df = reader.load(paths: _*)
            schemas.put(key, Cached(fp, df.schema))
            df
        }
    }
  }
}
