package graft.plans

import graft.sources.{FileSchemas, GraftFiles}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTableType
import org.apache.spark.sql.execution.datasources.FileIndex

/** BASE-DATA freshness policy for staged layouts, and the one layout
  * RECORD every staged layout kind writes beside its files: what a
  * layout records about its advice and its base, how a fresh JVM
  * re-attaches it, and when a live base refuses it. Which files make up
  * a base, and its fingerprint, are [[graft.sources.FileSchemas]]' one
  * answer, listed by Spark's own file index.
  *
  * A staged layout (bucketed projection, derived-cents table,
  * materialized join, aggregate rollup) is a PHYSICAL copy of its base
  * tables at stage time. Its record ([[RecordFile]], one per layout,
  * tab-separated fields, the first naming the line's kind; read and
  * written at the table's qualified location through
  * [[graft.sources.GraftFiles]]) has three parts:
  *  - IDENTITY lines, built from the advice by one function per kind
  *    that both the kind's stager and its attach call, so a drifted
  *    advice refuses to attach;
  *  - AUDIT lines: what staging measured — the `finite` stored-cents
  *    audit every kind writes, a denorm's lossless dims, a rollup's
  *    `file` inventory;
  *  - one `base <path> <fingerprint>` line per member, taken from the
  *    FileIndex of the frame the staging write read ([[base]]).
  *
  * The recorded fingerprint is `FileSchemas.fingerprint` of the base's
  * entries: the qualified path, length and mtime of every file the scan
  * reads (Spark's hidden-name rule drops `_SUCCESS`, `.crc` files and
  * graft's own `_graft_*` files). "Live fp == staged fp" means the
  * query would read the same bytes the layout was built from, including
  * after a file was rewritten in place at the same length. Consumers:
  *
  *  - [[attach]], the one fresh-JVM re-attach of every kind: identity,
  *    then every base line, REFUSING (loudly, re-stage is the recovery)
  *    on any mismatch; a layout staged before the record existed has
  *    none and re-stages once;
  *  - [[RewriteMaterializedJoin]] / `RewriteMaterializedAgg` re-check
  *    the members PRESENT in each query against the registered meta at
  *    rewrite time (the leaf's FileIndex is already in hand — no extra
  *    filesystem call) and decline with one logged warning on drift;
  *  - [[graft.Tables.redirect]]'s serving path runs [[drift]] over the
  *    record's base lines on every serve (one listing per member, no
  *    job) and throws on drift instead of silently redirecting a query
  *    at stale rows;
  *  - [[TableStats.analyze]] stamps the measured identity, so a
  *    measured-unique decline is ignored once the table grew past its
  *    measurement.
  *
  * Reference analog: the reference's prep outputs are immutable files
  * (prep_*.py write-once parquet), so it never faces the problem; a
  * long-lived engine serving mutable base directories must prove
  * freshness or decline.
  */
object Freshness {

  /** Fingerprint of a live FileIndex. */
  def ofIndex(idx: FileIndex): String = FileSchemas.fingerprint(FileSchemas.entriesOf(idx))

  /** Fingerprint of the files under `path` (comma-joined roots — the
    * path of a layout record's base line): one listing, no job below
    * Spark's parallel-listing threshold. A missing base fingerprints as
    * the empty file set, which matches no recorded base. */
  def ofPath(spark: SparkSession, path: String): String =
    FileSchemas.fingerprint(FileSchemas.list(spark, path.split(',').toIndexedSeq))

  /** The record file a staged layout writes beside its files. */
  val RecordFile = "_graft_layout"

  /** A staged layout's record at `dir`: its lines, each split into
    * fields (the first is the line's kind). Every accessor that finds
    * a line missing or of the wrong width throws the one re-stage
    * diagnostic. */
  final case class Record(dir: String, lines: Seq[Seq[String]]) {
    /** The fields after the kind of every `kind` line, each `arity` wide. */
    def all(kind: String, arity: Int): Seq[Seq[String]] =
      lines.filter(_.head == kind).map { l =>
        if (l.size != arity + 1) throw malformed(dir, kind)
        l.tail
      }

    /** The fields of the one `kind` line. */
    def one(kind: String, arity: Int): Seq[String] = all(kind, arity) match {
      case Seq(fields) => fields
      case _ => throw malformed(dir, kind)
    }

    /** The comma-separated list of the one single-field `kind` line. */
    def list(kind: String): Seq[String] = one(kind, 1).head.split(",").toSeq.filter(_.nonEmpty)

    /** Member path -> fingerprint at staging. */
    def bases: Seq[(String, String)] = all("base", 2).map(f => f(0) -> f(1))
  }

  private def malformed(dir: String, kind: String) = new IllegalArgumentException(
    s"layout record ${new Path(dir, RecordFile)}: missing or malformed '$kind' line " +
      "— re-stage")

  /** The `finite` audit line: the columns whose stored cents passed the
    * stage-time finiteness audit (empty for a layout without cents). */
  def finite(cols: Seq[String]): Seq[String] = Seq("finite", cols.sorted.mkString(","))

  /** The `base` entry of member `path` as the staging frame `df` read
    * it: the fingerprint of its scan's FileIndex, not a second listing. */
  def base(path: String, df: DataFrame): (String, String) =
    path -> FileSchemas.fingerprint(FileSchemas.leafEntries(df).getOrElse(
      sys.error(s"Freshness.base: $path is not one file scan")))

  /** Write catalog table `table`'s record beside its files (at
    * [[GraftFiles.locationOf]], through [[GraftFiles.write]]): `identity`
    * first (in order — [[attach]] compares it as a prefix), then
    * `audit`, then one base line per member. Returns the record. */
  def write(spark: SparkSession, table: String, identity: Seq[Seq[String]],
      audit: Seq[Seq[String]], bases: Seq[(String, String)]): Record = {
    val dir = GraftFiles.locationOf(spark, table)
    val rec = Record(dir.toString, identity ++ audit ++ bases.map { case (p, h) => Seq("base", p, h) })
    GraftFiles.write(spark, new Path(dir, RecordFile),
      rec.lines.map(_.mkString("\t")).mkString("", "\n", "\n"))
    rec
  }

  /** The record beside the files at `dir` (None when it has none:
    * fixture tables, layouts staged before the record existed). */
  def read(spark: SparkSession, dir: String): Option[Record] =
    GraftFiles.read(spark, new Path(dir, RecordFile)).map(text => Record(dir,
      text.split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t", -1).toSeq)))

  /** The record at `dir`; its absence is the re-stage diagnostic. */
  def recordAt(spark: SparkSession, dir: String): Record = read(spark, dir).getOrElse(
    throw new IllegalArgumentException(s"no layout record ${new Path(dir, RecordFile)} — re-stage"))

  /** The first base line whose live files differ from staging, as a
    * message (None when every member still matches): one listing per
    * member, no job. */
  def drift(spark: SparkSession, rec: Record): Option[String] =
    rec.bases.iterator.map { case (p, staged) => (p, staged, ofPath(spark, p)) }
      .collectFirst { case (p, staged, live) if live != staged =>
        s"base data at $p drifted since staging (staged=$staged live=$live)"
      }

  /** The one fresh-JVM re-attach of a staged layout at `path` as
    * catalog table `name` (the local stand-in for a persistent
    * metastore), for every kind:
    *  1. the record's identity lines must equal `identity`, the
    *     advice's;
    *  2. every base line must still fingerprint as staged;
    *  3. the files are registered: [[graft.sources.TabularWriter.attach]]
    *     when `bucket` (key, count) is set — it refuses files without
    *     their `_graft_buckets`, nothing else proves the hash key — the
    *     one `CREATE TABLE … LOCATION` otherwise;
    *  4. files at `name`'s own warehouse location are registered
    *     MANAGED, as staging left them, so a swap moves them;
    *  5. the RECORDED `finite` columns are marked as stored cents
    *     ([[LayoutAdvisor.markDerived]]; table properties live in the
    *     catalog, not the files).
    * `meta` builds the kind's registration from the record before any
    * file is registered. Any refusal is an IllegalArgumentException
    * naming re-stage, the recovery. */
  def attach[A](spark: SparkSession, name: String, path: String,
      identity: Seq[Seq[String]], bucket: Option[(String, Int)])(meta: Record => A): A = {
    val rec = recordAt(spark, path)
    require(rec.lines.startsWith(identity),
      s"attach($name): the layout record under $path does not match this " +
        "session's advice — re-stage")
    drift(spark, rec).foreach(d => throw new IllegalArgumentException(
      s"attach($name): $d — re-stage"))
    val cents = rec.list("finite")
    val m = meta(rec)
    bucket match {
      case Some((key, buckets)) =>
        graft.sources.TabularWriter.attach(spark, name, path, key, buckets)
      case None =>
        val schema = FileSchemas.read(spark, Seq(path)).schema.toDDL
        spark.sql(s"CREATE TABLE `$name` ($schema) USING parquet LOCATION '$path'")
    }
    val catalog = spark.sessionState.catalog
    val t = catalog.getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
    if (new Path(t.location) == new Path(catalog.defaultTablePath(t.identifier)))
      catalog.alterTable(t.copy(tableType = CatalogTableType.MANAGED))
    if (cents.nonEmpty) LayoutAdvisor.markDerived(spark, name, cents, cents)
    m
  }

  /** True iff the live `idx` matches `expected`; on the first mismatch
    * per `tag` in `spark`'s [[LayoutState]] prints one warning naming
    * the recovery (re-stage). An empty `expected` means "unrecorded"
    * (hand-built test metas) and passes — the stagers always record. */
  def check(spark: SparkSession, tag: String, expected: String, idx: FileIndex): Boolean = {
    if (expected.isEmpty) return true
    val live = ofIndex(idx)
    val ok = live == expected
    if (!ok && LayoutState(spark).warned.add(tag)) System.err.println(
      s"[freshness] $tag: base data drifted since staging " +
        s"(staged=$expected live=$live) — declining; re-stage to recover")
    ok
  }
}
