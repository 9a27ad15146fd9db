package graft.plans

import graft.sources.FileSchemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, BinaryComparison, Cast, Contains, EndsWith, EqualNullSafe, EqualTo, Expression, In, IsNotNull, IsNull, Not, Or, StartsWith}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation

/** Write-time layout selection for a query corpus.
  *
  * Round-8 proved the durable answer to exchange-bound per-key work is
  * bucketing the table on that key at WRITE time (PERF.md: q18 2×
  * faster than DuckDB, q21/q5/q9/q12 all 1.6–3× off their exchange
  * plans) — but applying it meant hand-picking table, key, buckets and
  * the carried column set per query class. This advisor derives those
  * choices FROM the queries themselves:
  *
  *  - walks each query's optimized logical plan (so Catalyst's column
  *    pruning has already happened) and maps every per-key operator —
  *    grouping keys of an [[Aggregate]], both sides of an equi-[[Join]]
  *    — back to the parquet leaf it reads, by attribute id;
  *  - counts hits per (table, key): a key that carries three queries'
  *    aggregates outranks one that carries one join side;
  *  - unions the PRUNED column sets of the hitting queries — the r8
  *    finding "carry only the columns the query class needs" (2.91 vs
  *    1.88 s at x200) becomes enforced: [[stage]] writes exactly these
  *    columns, so a query reading anything else fails loudly instead
  *    of silently paying full width;
  *  - sizes buckets from the relation's on-disk bytes (one bucket ≈
  *    `targetBucketBytes`), the same sizing rule you'd apply per
  *    executor-core at cluster scale.
  *
  * Staging goes through
  * [[graft.sources.TabularWriter.toBucketedTable]] with sorted=true —
  * one sorted file per bucket — so every advised layout also gets the
  * streaming SortAggregate plan (zero exchange, zero sort, O(1) group
  * state; PlanShapeSpec) rather than a groups-sized hash table.
  *
  * Reference analog: the id-partitioned embedding shard layout the
  * reference derives from its lookup keys (embedding/sharding.py:
  * 168-205) — here generalized to any per-key query class and made a
  * one-call product API instead of hand-staging.
  */
object LayoutAdvisor {

  /** One recommended bucketed projection: stage `columns` of the table
    * at `path` bucketed+sorted on `key` into `buckets` files. `hits` =
    * how many per-key operators across the corpus this layout carries
    * (the advisor's ranking signal, kept for reporting). `benefitBytes`
    * = the estimated bytes of this table that cross per-key exchanges
    * per corpus run, i.e. what the layout saves each time the corpus
    * executes (per-hit table bytes discounted by the Selinger-style
    * selectivity of every Filter between the scan and the operator —
    * see [[advise]]'s minBenefitFraction). */
  case class LayoutSpec(path: String, table: String, key: String,
      buckets: Int, columns: Seq[String], hits: Int, benefitBytes: Long = 0L)

  /** One bucket per ~`target` bytes of source data, floored at
    * `minBuckets` so small inputs still exercise the layout, capped at
    * 4096 (a 100 TB table at the 1 GiB default = 4096 buckets ≈ 25 GB
    * each — size `target` down if a single bucket must fit one task's
    * memory). */
  def bucketsFor(bytes: Long, target: Long, minBuckets: Int = 8): Int =
    math.min(4096L, math.max(minBuckets.toLong, (bytes + target - 1) / target)).toInt

  /** The floor every advised bucket count must clear: the session's
    * target parallelism (spark.sql.shuffle.partitions). A bucketed side
    * DICTATES its joins' and aggregates' partition count — a small
    * dimension advised at 8 buckets drags every shuffle that meets it
    * down to 8-way parallelism (measured x200: q13's customer⋈orders
    * went 2.6→3.7 s on an 8-bucket customer — the layout made it WORSE
    * until this floor). Never advise a layout below the parallelism the
    * session plans for; the same rule holds at cluster scale with a
    * bigger constant. */
  private def parallelismFloor(corpus: Seq[DataFrame]): Int = math.max(8,
    corpus.head.sparkSession.conf.get("spark.sql.shuffle.partitions", "8").toInt)

  /** Table identity for a (possibly multi-root) read: the first root's
    * basename. Bucketing advice keys tables by the comma-joined FULL
    * root list (a relation composed from several directories is one
    * table — advising and staging only `rootPaths.head` would silently
    * build the layout from a fraction of the data). */
  private def tableName(path: String): String = {
    val base = path.split(',').head.stripSuffix("/").split('/').last
    base.stripSuffix(".parquet").stripSuffix(".orc")
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case other => other
  }

  private def bump(m: scala.collection.mutable.Map[(String, String), Int])(
      pc: (String, String)): Unit = m(pc) = m.getOrElse(pc, 0) + 1

  /** An equi-join edge between two (path, column) pairs, in one order. */
  private def edge(a: (String, String), b: (String, String)) =
    if (a.toString < b.toString) (a, b) else (b, a)

  /** Propagate leaf attributions through RENAME chains: a grouping or
    * join key that reaches the operator via `select(col("x").as("k"))`
    * carries the Alias's exprId, not the leaf's — without this the
    * advisor silently fails to count the actually-hot key on renamed
    * corpora. Only pure renames (Alias over a bare AttributeReference)
    * are followed; a DERIVED key (`substr(x)`, `x+y`) is correctly NOT
    * attributed — bucketing the source column would not co-locate the
    * derived values. Fixpoint handles multi-level rename chains. */
  private def resolveAliases(plan: LogicalPlan,
      byId: scala.collection.mutable.Map[Long, (String, String)]): Unit = {
    val edges = plan.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case al @ Alias(ar: AttributeReference, _) => al.exprId.id -> ar.exprId.id
      // a rename that only changes type-widening metadata still maps
      // through a cast (e.g. col("x").cast("long").as("k")) — NOT
      // followed: the cast changes the hash of the value
    })
    var changed = true
    while (changed) {
      changed = false
      edges.foreach { case (a, c) =>
        if (!byId.contains(a) && byId.contains(c)) { byId(a) = byId(c); changed = true }
      }
    }
  }

  /** One query's file leaves, read once — the index every advisor walk
    * starts from. `byId` maps each leaf attribute id to its (table,
    * column), renames resolved through [[resolveAliases]]; per table
    * ([[FileLeaf]]'s joined-roots key) it records the columns this plan
    * `used`, the relation's `bytes` and its read `roots`.
    *
    * "What this query reads" is leaf output ∩ plan references: the v1
    * leaf keeps its full-width output in the logical plan (column
    * pruning lands in the Project above / the physical ReadSchema), and
    * leaves are excluded from the references (a LogicalRelation's own
    * output attributes count as its expressions and would mark every
    * column used). A bare scan references nothing above the leaf: full
    * width. */
  private final class Leaves(df: DataFrame) {
    val plan: LogicalPlan = df.queryExecution.optimizedPlan
    val byId = scala.collection.mutable.Map.empty[Long, (String, String)]
    val used = scala.collection.mutable.Map.empty[String, Set[String]]
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val roots = scala.collection.mutable.Map.empty[String, Seq[String]]
    private val refIds = plan.collect {
      case n if n.children.nonEmpty => n.expressions.flatMap(_.references.toSeq)
    }.flatten.map(_.exprId.id).toSet
    plan.foreach {
      case FileLeaf(lr, fs, path) =>
        lr.output.foreach(a => byId(a.exprId.id) = (path, a.name))
        val read = lr.output.filter(a => refIds(a.exprId.id))
        used(path) = used.getOrElse(path, Set.empty) ++
          (if (read.isEmpty) lr.output else read).map(_.name)
        bytes.getOrElseUpdate(path, fs.sizeInBytes)
        roots.getOrElseUpdate(path, fs.location.rootPaths.map(_.toString))
      case _ =>
    }
    resolveAliases(plan, byId)

    /** [[reachFraction]] of the leaf at `path` at operator `at`, NDVs
      * measured where [[TableStats]] has them; 1.0 when not under `at`. */
    def reach(at: LogicalPlan, path: String): Double =
      reachFraction(at, path, ndvResolver(df.sparkSession, path)).getOrElse(1.0)

    /** The per-key operators: every bare grouping attribute of an
      * [[Aggregate]] that resolves to a leaf column (`group`), and every
      * attribute equi-join conjunct with both sides resolved where they
      * can be (`equi`). */
    def keyOps(group: ((String, String), LogicalPlan) => Unit,
        equi: (Option[(String, String)], Option[(String, String)], Join) => Unit): Unit =
      plan.foreach {
        case agg: Aggregate => agg.groupingExpressions.foreach {
          case ar: AttributeReference => byId.get(ar.exprId.id).foreach(group(_, agg))
          case _ =>
        }
        case j: Join => j.condition.toSeq.flatMap(conjuncts).foreach {
          case EqualTo(l: AttributeReference, r: AttributeReference) =>
            equi(byId.get(l.exprId.id), byId.get(r.exprId.id), j)
          case _ =>
        }
        case _ =>
      }

    /** Every Filter conjunct comparing a leaf column against a foldable
      * value (>, >=, <, <=, =; casts unwrapped): one hit per conjunct. */
    def filterHits(hit: ((String, String)) => Unit): Unit = plan.foreach {
      case f: Filter => conjuncts(f.condition).foreach {
        case cmp: BinaryComparison =>
          ((stripCast(cmp.left), stripCast(cmp.right)) match {
            case (a: AttributeReference, r) if r.foldable => Some(a)
            case (l, a: AttributeReference) if l.foldable => Some(a)
            case _ => None
          }).flatMap(a => byId.get(a.exprId.id)).foreach(hit)
        case _ =>
      }
      case _ =>
    }

    /** Every money idiom over a leaf column: ONE matcher, shared with
      * the rewrite rule — advice must count exactly the expressions
      * [[RewriteStoredCents]] will rewrite, or it stages columns the
      * rule never reads (both the long-cents idiom and the q6-shaped
      * decimal idiom). */
    def centsHits(hit: ((String, String)) => Unit): Unit =
      plan.foreach(n => n.expressions.foreach(_.foreach { e =>
        RewriteStoredCents.moneyIdiom(e).flatMap(a => byId.get(a.exprId.id)).foreach(hit)
      }))
  }

  /** Per table over a corpus: the first-seen value (bytes, roots). */
  private def firstSeen[V](per: Seq[scala.collection.Map[String, V]]): Map[String, V] =
    per.reverseIterator.flatMap(_.iterator).toMap

  /** Per table over a corpus: the union of every query's used columns. */
  private def usedBy(leaves: Seq[Leaves]): Map[String, Set[String]] =
    leaves.flatMap(_.used).groupMapReduce(_._1)(_._2)(_ ++ _)

  /** Selectivity guess for a filter predicate. MEASURED where stats
    * exist ([[TableStats]] — stats as product): an equality/IN against
    * a column with a recorded NDV prices at 1/NDV (|list|/NDV), the
    * textbook estimator with a real denominator. Structural
    * Selinger-style constants otherwise: equality ~1/10, range
    * comparison ~1/3, IN ~1/10 per value, IS NULL ~1/20,
    * prefix/substring ~1/4, IS NOT NULL 1 (the optimizer injects one
    * per join/filter column — it must not discount anything), AND
    * multiplies, OR adds. The absolute numbers are crude by design;
    * they only need to separate "the whole table reaches the per-key
    * operator" from "a thin slice does" for the stage/don't-stage
    * threshold — measurement sharpens exactly the cases (point lookups
    * on high-NDV columns) where the constant is most wrong. */
  private[graft] def selectivity(e: Expression,
      ndvOf: String => Option[Long] = _ => None): Double = {
    def eqAttr(l: Expression, r: Expression): Option[AttributeReference] =
      (l, r) match {
        case (a: AttributeReference, v) if v.foldable => Some(a)
        case (v, a: AttributeReference) if v.foldable => Some(a)
        case _ => None
      }
    e match {
      case And(l, r) => selectivity(l, ndvOf) * selectivity(r, ndvOf)
      case Or(l, r) =>
        val (a, b) = (selectivity(l, ndvOf), selectivity(r, ndvOf))
        math.min(1.0, a + b - a * b)
      case Not(c) => math.max(0.0, 1.0 - selectivity(c, ndvOf))
      case EqualTo(l, r) => eqAttr(l, r).flatMap(a => ndvOf(a.name))
        .filter(_ > 0).map(n => math.min(1.0, 1.0 / n.toDouble)).getOrElse(0.1)
      case EqualNullSafe(l, r) => eqAttr(l, r).flatMap(a => ndvOf(a.name))
        .filter(_ > 0).map(n => math.min(1.0, 1.0 / n.toDouble)).getOrElse(0.1)
      case in: In => (in.value match {
        case a: AttributeReference if in.list.forall(_.foldable) => ndvOf(a.name)
        case _ => None
      }).filter(_ > 0).map(n => math.min(1.0, in.list.size.toDouble / n.toDouble))
        .getOrElse(math.min(0.5, 0.1 * in.list.size))
      case _: IsNull => 0.05
      case _: IsNotNull => 1.0
      case _: StartsWith | _: Contains | _: EndsWith => 0.25
      case _: BinaryComparison => 1.0 / 3.0
      case _ => 0.5
    }
  }

  /** Measured-NDV resolver for the leaf read at `path` — None per
    * column until someone has [[TableStats.analyze]]d that identity
    * (the advisor sweep does at stage time). */
  private def ndvResolver(spark: org.apache.spark.sql.SparkSession,
      path: String): String => Option[Long] =
    name => TableStats.lookup(spark, path).flatMap(_.ndv.get(name))

  /** Estimated fraction of the rows of the leaf at `leafPath` that
    * reach `n`: the product of [[selectivity]] over every Filter
    * between that leaf and `n`. None when the leaf is not under `n`;
    * self-joins take the first occurrence (the signal feeds a
    * stage/don't-stage threshold, not an exact cost model). */
  private def reachFraction(n: LogicalPlan, leafPath: String,
      ndvOf: String => Option[Long]): Option[Double] = n match {
    case FileLeaf(_, _, path) if path == leafPath => Some(1.0)
    case f: Filter => reachFraction(f.child, leafPath, ndvOf)
      .map(_ * selectivity(f.condition, ndvOf))
    case other => other.children.flatMap(c => reachFraction(c, leafPath, ndvOf)).headOption
  }

  /** Analyze a corpus and recommend one bucketed layout per table that
    * any per-key operator reads, ranked by hits (ties broken by table
    * name for determinism). Tables whose best key carries fewer than
    * `minHits` operators are dropped — a one-off key does not pay for
    * a write-time shuffle of the whole table.
    *
    * `minBenefitFraction` is the DON'T-STAGE signal from selectivity:
    * each hit is weighted by the estimated fraction of the table's rows
    * that reach its operator ([[reachFraction]] — a per-key aggregate
    * above a one-day equality filter moves a thin slice through its
    * exchange, so bucketing the whole table buys almost nothing; q10's
    * selective-filter class measured exactly this, PERF.md round-10),
    * and a table whose summed weights fall below the threshold is not
    * advised. The unit is "table-scans' worth of exchange avoided per
    * corpus run": staging costs ~one write-time shuffle of the table,
    * so 1.0 means the layout pays for itself every time the corpus
    * runs; repeated corpora amortize, which is why the default keeps
    * every hit (0.0) and the threshold is the caller's run-rate call.
    *
    * Join alignment: a co-located join only stays exchange-free when
    * BOTH sides share the bucket count, so tables whose chosen keys
    * meet in an equi-join are placed in one alignment class and all
    * get the class MAXIMUM of their size-derived counts (the bigger
    * table's count; re-bucketing the smaller side is cheap relative to
    * shuffling the big one per query). Without this, lineitem at 4× the
    * bytes of orders would get 4× the buckets and the order-key join
    * would silently re-shuffle one side at every query. */
  def advise(corpus: Seq[DataFrame], targetBucketBytes: Long = 1L << 30,
      minHits: Int = 1, minBenefitFraction: Double = 0.0): Seq[LayoutSpec] = {
    adviseKeys(corpus, 1, targetBucketBytes, minHits, minBenefitFraction,
      perKeyColumns = false).sortBy(s => (-s.hits, s.table))
  }

  /** Multi-projection advice: up to `perTable` bucketed projections
    * PER TABLE, one per hot key (the column-store projection idea —
    * a fact table queried by order key AND by customer key carries
    * one sorted co-located projection per class; PERF.md "Round-9:
    * the sorted co-located layout re-runs the whole relational probe
    * set" measured the custkey class at 2× beside the orderkey
    * class's wins). [[advise]] is the `perTable = 1` case with one
    * deliberate difference:
    *
    *  - columns are attributed PER KEY — a projection carries the
    *    pruned union of the queries that hit ITS key, not everything
    *    the table serves (secondary projections exist precisely to
    *    serve their own class narrowly; advise()'s table-wide union
    *    stays the right contract when one staged table must replace
    *    the flat read for every query);
    *  - so a table can appear in several alignment classes — each
    *    projection aligns its bucket count within its own join class.
    */
  def adviseProjections(corpus: Seq[DataFrame], perTable: Int,
      targetBucketBytes: Long = 1L << 30, minHits: Int = 1,
      minBenefitFraction: Double = 0.0): Seq[LayoutSpec] = {
    require(perTable > 0, s"adviseProjections: perTable must be positive, got $perTable")
    adviseKeys(corpus, perTable, targetBucketBytes, minHits, minBenefitFraction,
      perKeyColumns = true).sortBy(s => (-s.hits, s.table, s.key))
  }

  /** The selection behind [[advise]] and [[adviseProjections]]: the
    * `perTable` hottest keys per table, carrying the per-key pruned
    * union (`perKeyColumns`) or the table-wide one. */
  private def adviseKeys(corpus: Seq[DataFrame], perTable: Int,
      targetBucketBytes: Long, minHits: Int, minBenefitFraction: Double,
      perKeyColumns: Boolean): Seq[LayoutSpec] = {
    require(corpus.nonEmpty, "LayoutAdvisor.advise/adviseProjections: empty corpus")
    // (path, keyColumn) -> hit count, summed reach fractions (the
    // benefit signal), union of the hitting queries' pruned columns
    val hits = scala.collection.mutable.Map.empty[(String, String), Int]
    val weight = scala.collection.mutable.Map.empty[(String, String), Double]
    val keyCols = scala.collection.mutable.Map.empty[(String, String), Set[String]]
    // equi-join edges between (path, column) pairs, for bucket alignment
    val joinEdges = scala.collection.mutable.Set.empty[((String, String), (String, String))]
    val leaves = corpus.map(new Leaves(_))
    leaves.foreach { l =>
      def hit(pc: (String, String), at: LogicalPlan): Unit = {
        hits(pc) = hits.getOrElse(pc, 0) + 1
        keyCols(pc) = keyCols.getOrElse(pc, Set.empty) ++ l.used.getOrElse(pc._1, Set.empty)
        weight(pc) = weight.getOrElse(pc, 0.0) + l.reach(at, pc._1)
      }
      l.keyOps(hit, { (lp, rp, j) =>
        lp.foreach(hit(_, j)); rp.foreach(hit(_, j))
        for (a <- lp; b <- rp) if (a != b) joinEdges += edge(a, b)
      })
    }
    val bytesOf = firstSeen(leaves.map(_.bytes))
    val tableCols = usedBy(leaves)
    // per-table key choice: most hits wins; ties prefer a key that
    // participates in an equi-join (co-location pays on the join AND
    // every downstream per-key agg, where a tied agg-only key pays
    // once), then the lexicographically FIRST name for determinism
    val joinKeyset: Set[(String, String)] = joinEdges.flatMap(e => Seq(e._1, e._2)).toSet
    val chosen = hits.groupBy(_._1._1).toSeq.flatMap { case (_, keyed) =>
      keyed.toSeq
        .sortBy { case ((p, k), c) => (-c, !joinKeyset((p, k)), k) }
        .take(perTable)
        .filter { case (pc, c) =>
          c >= minHits && weight.getOrElse(pc, c.toDouble) >= minBenefitFraction
        }
    }
    // alignment classes: union-find over join edges between CHOSEN
    // (path, key) pairs; every class member gets the class max buckets
    val parent = scala.collection.mutable.Map.empty[(String, String), (String, String)]
    def find(x: (String, String)): (String, String) = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val chosenSet = chosen.map(_._1).toSet
    joinEdges.foreach { case (a, b) =>
      if (chosenSet(a) && chosenSet(b)) parent(find(a)) = find(b)
    }
    val floor = parallelismFloor(corpus)
    val own = chosen.map { case (pc @ (p, _), _) =>
      pc -> bucketsFor(bytesOf(p), targetBucketBytes, floor)
    }.toMap
    val classMax = own.keys.groupBy(find).map { case (root, ms) => root -> ms.map(own).max }
    chosen.map { case (pc @ (p, k), c) =>
      val cols = if (perKeyColumns) keyCols(pc) else tableCols(p)
      LayoutSpec(p, tableName(p), k, classMax(find(pc)),
        // key first, then the rest of the pruned union in stable order
        (k +: cols.toSeq.filter(_ != k).sorted).distinct, c,
        benefitBytes = (weight.getOrElse(pc, c.toDouble) * bytesOf(p)).toLong)
    }
  }

  /** A STAGED physical projection of one base table, any layout KIND,
    * as [[routeAll]] scores it: optionally hash-BUCKETED on a key
    * (exchange removal), optionally range/z-CLUSTERED on sort columns
    * (footer-stats pruning), optionally carrying stored `<col>_cents`
    * longs for `centsCols` (decode removal via [[RewriteStoredCents]]).
    * `columns` = the base columns it serves (None = the full base
    * schema, e.g. a [[stageDerived]] projection). One staging can be
    * several of these at once — [[stageWithDerived]] emits
    * bucketed+cents, [[stageDerived]] emits clustered+cents. */
  case class Projection(table: String, catalogTable: String,
      bucketKey: Option[String], sortCols: Seq[String],
      centsCols: Seq[String], columns: Option[Seq[String]])

  object Projection {
    def bucketed(spec: LayoutSpec, cat: String,
        cents: Seq[String] = Nil): Projection =
      Projection(spec.table, cat, Some(spec.key), Nil, cents, Some(spec.columns))
    def derived(spec: DerivedSpec, cat: String): Projection =
      Projection(spec.table, cat, None, spec.sortCol.toSeq, spec.sourceCols, None)
    def sorted(spec: SortedSpec, cat: String): Projection =
      Projection(spec.table, cat, None, spec.sortCols, Nil, Some(spec.columns))
  }

  /** PROJECTION ROUTING — the read-side half of the advisor: given ONE
    * query and the staged projections, pick for each base table the
    * projection THIS query's plan wants. A single layout per table is
    * a trade (PERF.md round-10: bucketing orders on o_custkey bought
    * q13/q22 and cost q4/q18 their o_orderkey co-location; round-10's
    * bucketed-only router left q6/q14/q15 on a bucketed table while
    * their proven answer was the shipdate-clustered cents projection);
    * with one projection per ACCESS PATTERN staged, routing lets every
    * query keep its own — the column-store projection model completed
    * across layout kinds.
    *
    * Eligibility: a projection must carry every base column the query
    * reads from that table (None = full schema). Scoring is
    * bytes-denominated, the same unit [[advise]]'s benefitBytes uses,
    * summing what each layout property saves THIS query:
    *
    *  - BUCKET key: for each per-key operator on the key (grouping
    *    key, equi-join side), the exchange it avoids ≈ the table bytes
    *    discounted by [[reachFraction]] at the operator. A join hit
    *    counts ONLY when the join would actually shuffle — if the
    *    other side fits the broadcast threshold, no exchange exists to
    *    remove (q14's lineitem⋈part is broadcast; bucketing lineitem
    *    on l_partkey buys nothing, which is exactly why the cents
    *    projection must outrank it there).
    *  - SORT/cluster columns: footer min/max pruning skips the
    *    complement of the clustered predicate's selectivity —
    *    (1 − sel(conjuncts on sortCols)) × bytes, conjuncts taken from
    *    the Filter directly above the scan (the pushdown position).
    *  - STORED CENTS: each `cast(round(x*100) as bigint)` idiom over a
    *    carried cents column drops a double decode + per-row rounding;
    *    priced at [[CentsHitWeight]] × bytes per hit — a Selinger-style
    *    constant (measured basis: the cents projection moved the
    *    decode-constant class 3.3–4.5× → 1.5–2.0×, PERF.md round-10).
    *    Both candidate kinds usually carry cents, so the constant
    *    cancels where it is least certain and decides only
    *    cents-vs-none.
    *
    * Selection is TIERED: any candidate with positive exchange savings
    * outranks every prune/cents-only candidate (an exchanged byte costs
    * serialize + spill + network + re-sort where a scanned byte costs
    * one decode — measured at x200, round-11: q12/q7 ran ~1.5× slower
    * routed to the clustered cents projection than co-located); within
    * a tier the highest total wins, zero → no redirect (the flat table
    * needs no catalog). Ties: fewer carried columns, then name.
    * Returns tableName → catalog table; install with
    * [[graft.Tables.redirect]] before (re)building the query. */
  def routeAll(query: DataFrame, staged: Seq[Projection]): Map[String, String] =
    scoreAll(query, staged).filter(_.chosen)
      .map(s => s.table -> s.catalogTable).toMap

  /** The scoring behind [[routeAll]], returned whole: one [[RouteScore]]
    * per (table, staged candidate). */
  private def scoreAll(query: DataFrame, staged: Seq[Projection]): Seq[RouteScore] = {
    val spark = query.sparkSession
    val leaves = new Leaves(query)
    val (usedByPath, bytesOf) = (leaves.used, leaves.bytes)
    val broadcastThreshold = spark.sessionState.conf.autoBroadcastJoinThreshold

    // bucket-key benefit: bytes of avoided exchange per (path, key)
    val keyBytes = scala.collection.mutable.Map.empty[(String, String), Double]
    def keyHit(pc: (String, String), at: LogicalPlan): Unit =
      keyBytes(pc) = keyBytes.getOrElse(pc, 0.0) +
        leaves.reach(at, pc._1) * bytesOf.getOrElse(pc._1, 0L)
    leaves.keyOps(keyHit, { (l, r, j) =>
      // the join only shuffles when NEITHER side fits the broadcast
      // threshold — a broadcast join has no exchange for bucketing
      // to remove, on either side
      def big(side: LogicalPlan): Boolean =
        broadcastThreshold <= 0 || side.stats.sizeInBytes > broadcastThreshold
      if (big(j.left) && big(j.right)) { l.foreach(keyHit(_, j)); r.foreach(keyHit(_, j)) }
    })

    // stored-cents benefit: money-idiom hits per (path, source column)
    val centsHits = scala.collection.mutable.Map.empty[(String, String), Int]
    leaves.centsHits(bump(centsHits))

    // pushdown-position predicates: Filter directly above each scan
    val predsByPath = scala.collection.mutable.Map.empty[String, Seq[Expression]]
    def scanPath(n: LogicalPlan): Option[String] = n match {
      case FileLeaf(_, _, path) => Some(path)
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => scanPath(p.child)
      case _ => None
    }
    leaves.plan.foreach {
      case f: Filter => scanPath(f.child).foreach { p =>
        predsByPath(p) = predsByPath.getOrElse(p, Nil) ++ conjuncts(f.condition)
      }
      case _ =>
    }

    staged.groupBy(_.table).flatMap { case (tbl, cands) =>
      usedByPath.keys.find(p => tableName(p) == tbl).flatMap { p =>
        val needed = usedByPath(p)
        val bytes = bytesOf.getOrElse(p, 0L).toDouble
        val ndv = ndvResolver(spark, p)
        def pruneBytes(sortCols: Seq[String]): Double = {
          if (sortCols.isEmpty) return 0.0
          val clustered = predsByPath.getOrElse(p, Nil).filter { c =>
            val names = c.references.toSeq.map(_.name)
            names.nonEmpty && names.forall(sortCols.contains)
          }
          if (clustered.isEmpty) 0.0
          else (1.0 - clustered.map(selectivity(_, ndv)).product) * bytes
        }
        val scored = cands.map { c =>
          val covers = c.columns.forall(cols => needed.subsetOf(cols.toSet))
          val bucket = c.bucketKey.map(k =>
            keyBytes.getOrElse((p, k), 0.0)).getOrElse(0.0)
          val cents = CentsHitWeight * bytes * c.centsCols.map(sc =>
            centsHits.getOrElse((p, sc), 0)).sum
          val scan = pruneBytes(c.sortCols) + cents
          val reason =
            if (!covers) "missing-columns: projection does not carry " +
              (needed -- c.columns.map(_.toSet).getOrElse(needed)).toSeq.sorted.mkString(",")
            else if (bucket <= 0.0 && scan <= 0.0)
              "no-benefit: no per-key operator on the bucket key, no clustered predicate, no cents idiom"
            else ""
          RouteScore(tbl, c.catalogTable, bucket, scan,
            eligible = covers && (bucket > 0.0 || scan > 0.0),
            reason = reason, chosen = false)
        }
        val eligible = scored.filter(_.eligible)
        if (eligible.isEmpty) Some(scored)
        else {
          // TIERED, not summed: ANY exchange removal outranks any
          // scan-side saving. Measured both ways at x200 — q12/q7
          // (shipdate filter + orderkey join) ran 1.5× SLOWER routed to
          // the clustered cents projection than co-located (round-11
          // routed sweep: q12 5.14 s via prune vs ~3.4 s co-located):
          // an exchanged byte costs serialize+spill+network+re-sort,
          // a scanned byte just decode — the same doctrine adviseAll
          // encodes by excluding bucketed tables from sorted advice.
          val bestTable = eligible.sortBy { s =>
            (if (s.exchangeBytes > 0.0) 0 else 1,
              -(s.exchangeBytes + s.scanBytes),
              cands.find(_.catalogTable == s.catalogTable)
                .flatMap(_.columns).map(_.size).getOrElse(Int.MaxValue),
              s.catalogTable)
          }.head.catalogTable
          Some(scored.map(s => s.copy(chosen = s.catalogTable == bestTable,
            reason = if (s.eligible && s.catalogTable != bestTable)
              "outranked: lower tier or smaller benefit than the chosen candidate"
            else s.reason)))
        }
      }
    }.toSeq.flatten
  }

  /** One candidate's scoring in a [[routeAll]] decision: the
    * bytes-denominated benefits, eligibility, the decline/outranked
    * reason, and whether it won — the queryable audit trail (probes and
    * users read the decision instead of log-scraping). */
  case class RouteScore(table: String, catalogTable: String,
      exchangeBytes: Double, scanBytes: Double, eligible: Boolean,
      reason: String, chosen: Boolean)

  /** The full routing decision for `query` as a DataFrame — one row per
    * (table, staged candidate) with scores, eligibility, decline
    * reasons and the winner flagged. EXACTLY the scoring [[routeAll]]
    * applies (both consume [[scoreAll]]). */
  def explainRoutes(query: DataFrame, staged: Seq[Projection]): DataFrame = {
    val spark = query.sparkSession
    import spark.implicits._
    scoreAll(query, staged).toDF()
      .select("table", "catalogTable", "exchangeBytes", "scanBytes",
        "eligible", "chosen", "reason")
      .orderBy(org.apache.spark.sql.functions.col("table"),
        org.apache.spark.sql.functions.col("chosen").desc,
        org.apache.spark.sql.functions.col("catalogTable"))
  }

  /** Per-idiom-hit value of a stored cents column, as a fraction of
    * the table's bytes (see [[routeAll]]'s scoring note). */
  val CentsHitWeight = 0.1

  /** Stage one advised layout as catalog table `name` (parquet read of
    * spec.path → exactly spec.columns → bucketed+sorted on spec.key):
    * [[stageWithDerived]] without cents. The write is the only shuffle
    * this table's per-key query class ever pays. */
  def stage(spark: SparkSession, spec: LayoutSpec, name: String): Unit =
    stageWithDerived(spark, spec, Nil, name)

  /** The identity lines of a bucketed projection's record: base path,
    * key and bucket count, carried columns, requested cents. */
  private def bucketedIdentity(spec: LayoutSpec, cents: Seq[String]): Seq[Seq[String]] = Seq(
    Seq("source", spec.path), Seq("key", spec.key, spec.buckets.toString),
    Seq("columns", spec.columns.mkString(",")),
    Seq("cents", cents.filter(spec.columns.contains).sorted.mkString(",")))

  /** Re-register an already-[[stage]]d / [[stageWithDerived]] layout at
    * `path` as external catalog table `name` (fresh-JVM path) through
    * [[Freshness.attach]]: the record must match `spec` and `cents`,
    * and the stored cents marked are the ones staging kept. Any
    * refusal is an IllegalArgumentException: re-stage. */
  def attach(spark: SparkSession, spec: LayoutSpec, cents: Seq[String],
      name: String, path: String): Unit =
    Freshness.attach(spark, name, path, bucketedIdentity(spec, cents),
      Some(spec.key -> spec.buckets))(_ => ())

  /** One recommended SORT-clustered layout: rewrite `columns` of the
    * table read at `paths`, clustered on `sortCols` — one column →
    * [[graft.sources.TabularWriter.toRangeSorted]] (perfect single-key
    * clustering), two → [[graft.sources.TabularWriter.toZOrdered]]
    * (box-pruning on both). `hits` = range/point predicates across the
    * corpus this layout prunes for. */
  case class SortedSpec(paths: Seq[String], table: String,
      sortCols: Seq[String], numFiles: Int, columns: Seq[String], hits: Int)

  /** ~One output file per `target` bytes, floored at 8 so small inputs
    * still produce a multi-file clustering for pruning to act on. */
  def filesFor(bytes: Long, target: Long): Int =
    math.max(8L, (bytes + target - 1) / target).toInt

  /** Advise SORTED / Z-ORDERED layouts from the corpus's FILTER shapes
    * — the second half of layout selection. [[advise]] serves per-KEY
    * operators (aggregates, joins) with bucketing; this serves range
    * and point PREDICATES with clustering + parquet min/max pruning:
    * each Filter conjunct of the optimized plans that compares a leaf
    * column against a foldable value (>, >=, <, <=, =, BETWEEN's
    * conjuncts — casts unwrapped, renames resolved through
    * [[resolveAliases]]) is a hit for (table, column). Per table the
    * hottest column wins → range-sort; a second column with hits →
    * z-order (box pruning on both, the two-key lakehouse layout).
    * Tables named in `exclude` (e.g. [[advise]]'s bucketing winners —
    * see [[adviseAll]]) are skipped: one physical layout per table, and
    * the exchange a bucketed layout removes dominates the scan a sorted
    * layout prunes whenever both apply.
    *
    * Multi-root relations (a read of several directories) keep ALL
    * their roots in the spec — [[stageSorted]] reads every root, so the
    * advised rewrite covers the same rows the corpus actually read. */
  def adviseSorted(corpus: Seq[DataFrame], targetFileBytes: Long = 256L << 20,
      minHits: Int = 1, exclude: Set[String] = Set.empty): Seq[SortedSpec] = {
    require(corpus.nonEmpty, "LayoutAdvisor.adviseSorted: empty corpus")
    val hits = scala.collection.mutable.Map.empty[(String, String), Int]
    val leaves = corpus.map(new Leaves(_))
    leaves.foreach(_.filterHits(bump(hits)))
    val (rootsOf, bytesOf, usedOf) =
      (firstSeen(leaves.map(_.roots)), firstSeen(leaves.map(_.bytes)), usedBy(leaves))
    hits.groupBy(_._1._1).toSeq.flatMap { case (key, keyed) =>
      val (roots, bytes, cols) = (rootsOf(key), bytesOf(key), usedOf(key))
      val table = tableName(roots.head)
      if (exclude(table)) None
      else {
        // hottest column range-sorts; a SECOND hot column upgrades to
        // z-order. Hits and name tie-break exactly like advise().
        val chosen = keyed.toSeq
          .sortBy { case ((_, c), n) => (-n, c) }
          .takeWhile { case (_, n) => n >= minHits }
          .take(2)
        val top = chosen.map(_._1._2)
        if (top.isEmpty) None
        else {
          // hits = predicates the CHOSEN clustering actually prunes
          // for — summing every filter column's hits would let a table
          // with many lukewarm columns outrank one whose single hot
          // column the layout fully serves
          val n = chosen.map(_._2).sum
          Some(SortedSpec(roots, table, top,
            filesFor(bytes, targetFileBytes),
            (top ++ cols.toSeq.filterNot(top.contains).sorted).distinct, n))
        }
      }
    }.sortBy(s => (-s.hits, s.table))
  }

  /** Stage one sorted advice at `outPath`: every root read, exactly the
    * advised columns carried, clustered by toRangeSorted (one col) or
    * toZOrdered (two). Readers point range queries at `outPath` and get
    * file/row-group pruning from the footer stats (PruningSpec). */
  def stageSorted(spark: SparkSession, spec: SortedSpec, outPath: String): Unit = {
    import org.apache.spark.sql.functions.col
    val df = FileSchemas.read(spark, spec.paths).select(spec.columns.map(col): _*)
    spec.sortCols match {
      case Seq(c) =>
        graft.sources.TabularWriter.toRangeSorted(df, outPath, Seq(c), spec.numFiles)
      case Seq(x, y) =>
        graft.sources.TabularWriter.toZOrdered(df, outPath, x, y, spec.numFiles)
      case other => throw new IllegalArgumentException(
        s"stageSorted: expected 1 or 2 sort columns, got $other")
    }
  }

  /** One recommended DERIVED-COLUMN projection: rewrite the table at
    * `path` carrying `<col>_cents = cast(round(col * 100) as bigint)`
    * for each of `sourceCols`, optionally range-clustered on `sortCol`
    * (the corpus's hottest filter column, so the projection also
    * prunes). Queries keep their exact-money `round(x*100)` arithmetic
    * unchanged — [[RewriteStoredCents]] swaps the expression for the
    * stored column at optimization time and pruning drops the double
    * from the scan. */
  case class DerivedSpec(path: String, table: String, sourceCols: Seq[String],
      sortCol: Option[String], numFiles: Int, hits: Int)

  /** Advise stored-cents projections from the corpus's own money
    * arithmetic: every `cast(round(col * 100) as bigint)` over a leaf
    * column (the engine's exact-money idiom — casts/renames resolved)
    * is a hit for (table, col). The decode-constant class (q1/q6/q14/
    * q15) is made of exactly these expressions over double columns;
    * storing the cents at write time was measured at 1.5–2.0× vs
    * DuckDB where the flat scans sat at 3.3–4.5× (PERF.md round-10). */
  def adviseDerivedCents(corpus: Seq[DataFrame], targetFileBytes: Long = 256L << 20,
      minHits: Int = 1): Seq[DerivedSpec] = {
    require(corpus.nonEmpty, "LayoutAdvisor.adviseDerivedCents: empty corpus")
    val centsHits = scala.collection.mutable.Map.empty[(String, String), Int]
    val filterHits = scala.collection.mutable.Map.empty[(String, String), Int]
    val leaves = corpus.map(new Leaves(_))
    leaves.foreach { l => l.centsHits(bump(centsHits)); l.filterHits(bump(filterHits)) }
    val bytesOf = firstSeen(leaves.map(_.bytes))
    centsHits.groupBy(_._1._1).toSeq.flatMap { case (path, keyed) =>
      val cols = keyed.toSeq.filter(_._2 >= minHits)
        .sortBy { case ((_, c), n) => (-n, c) }.map(_._1._2)
      if (cols.isEmpty) None
      else {
        val sortCol = filterHits.toSeq.filter(_._1._1 == path)
          .sortBy { case ((_, c), n) => (-n, c) }.headOption.map(_._1._2)
        Some(DerivedSpec(path, tableName(path), cols, sortCol,
          filesFor(bytesOf(path), targetFileBytes), keyed.map(_._2).sum))
      }
    }.sortBy(s => (-s.hits, s.table))
  }

  /** The identity lines of a derived-cents projection's record: what
    * the projection physically IS — base path, clustering column and
    * cents source columns (nothing in the files proves which expression
    * the stored longs were computed with). */
  private def derivedIdentity(spec: DerivedSpec): Seq[Seq[String]] = Seq(
    Seq("source", spec.path), Seq("sort", spec.sortCol.getOrElse("-")),
    Seq("cents", spec.sourceCols.sorted.mkString(",")))

  /** Stage one derived-cents projection as catalog table `name`: the
    * FULL source schema plus `<col>_cents` longs computed with the
    * exact expression [[RewriteStoredCents]] rewrites, range-clustered
    * on `sortCol` when advised, and the table property set so the rule
    * (and only it) treats the stored columns as authoritative. */
  def stageDerived(spark: SparkSession, spec: DerivedSpec, name: String): Unit = {
    import org.apache.spark.sql.functions.col
    val base = FileSchemas.read(spark, spec.path.split(',').toIndexedSeq)
    val finite = stageCents(spark, name, base, spec.sourceCols) { withCents =>
      val shaped = spec.sortCol match {
        case Some(sc) => withCents
          .repartitionByRange(spec.numFiles, col(sc)).sortWithinPartitions(sc)
        case None => withCents
      }
      shaped.write.mode("overwrite").saveAsTable(name)
    }
    Freshness.write(spark, name, derivedIdentity(spec), Seq(Freshness.finite(finite)),
      Seq(Freshness.base(spec.path, base)))
  }

  /** Re-register already-[[stageDerived]] files as external catalog
    * table `name` (fresh-JVM path) through [[Freshness.attach]]: the
    * record must match `spec` — attaching files whose stored cents or
    * clustering drifted from this session's advice would silently serve
    * the wrong projection. */
  def attachDerived(spark: SparkSession, spec: DerivedSpec, name: String,
      path: String): Unit =
    Freshness.attach(spark, name, path, derivedIdentity(spec), None)(_ => ())

  /** Stage a BUCKETED advice that also CARRIES stored cents columns —
    * the composition of the two layout answers: the bucket key removes
    * the per-key exchanges, the stored `<col>_cents` longs remove the
    * double decode + per-row rounding ([[RewriteStoredCents]] swaps the
    * expressions, pruning drops the doubles), and both live in ONE
    * physical table so a query class pays one write. `derivedCols` is
    * intersected with the advice's carried columns (a cents column for
    * a column the class never reads would be dead weight). */
  def stageWithDerived(spark: SparkSession, spec: LayoutSpec,
      derivedCols: Seq[String], name: String): Unit = {
    import org.apache.spark.sql.functions.col
    // spec.path is the comma-joined root list of the advised relation:
    // a multi-directory table stages ALL its roots, not just the first
    val base = FileSchemas.read(spark, spec.path.split(',').toIndexedSeq)
    val finite = stageCents(spark, name, base.select(spec.columns.map(col): _*),
        derivedCols.filter(spec.columns.contains)) { withCents =>
      graft.sources.TabularWriter.toBucketedTable(
        withCents, name, spec.key, spec.buckets, sorted = true)
    }
    Freshness.write(spark, name, bucketedIdentity(spec, derivedCols),
      Seq(Freshness.finite(finite)), Seq(Freshness.base(spec.path, base)))
  }

  /** The one stored-cents staging path every cents stager shares
    * ([[stageDerived]], [[stageWithDerived]],
    * [[MaterializedJoins.stageDenorm]]): of the money columns `cols` of
    * `df`,
    *  1. decline (loudly) any whose `<col>_cents` name `df` already
    *     carries — withColumn would silently overwrite real data;
    *  2. decline any the [[auditFinite]] NaN/±Inf audit rejects — a
    *     non-finite column cannot carry either rewrite exactly (the
    *     DECIMAL cast NULLs/errors on NaN while round(NaN*100)→long
    *     stores 0, or throws under ANSI and kills the write);
    *  3. add `<col>_cents = cast(round(col * 100) as bigint)` for the
    *     rest and hand the widened frame to `write`, which creates
    *     catalog table `name`;
    *  4. mark `name` with both cents properties ([[markDerived]]).
    * Returns the columns that got stored cents. */
  private[plans] def stageCents(spark: SparkSession, name: String, df: DataFrame,
      cols: Seq[String])(write: DataFrame => Unit): Seq[String] = {
    import org.apache.spark.sql.functions.{col, round}
    val present = df.columns.map(_.toLowerCase).toSet
    val (collided, candidates) = cols.partition(c => present(c.toLowerCase + "_cents"))
    if (collided.nonEmpty) System.err.println(s"[advise] $name: declining cents " +
      s"for ${collided.mkString(", ")} — a column already uses the derived name")
    val finite = auditFinite(df, candidates)
    if (finite != candidates) System.err.println(s"[advise] $name: declining " +
      s"non-finite money column(s) ${candidates.diff(finite).mkString(", ")} — " +
      "no cents stored for them")
    write(finite.foldLeft(df)((d, c) =>
      d.withColumn(c + "_cents", round(col(c) * 100).cast("long"))))
    if (finite.nonEmpty) markDerived(spark, name, finite, finite)
    finite
  }

  /** The NaN/±Inf audit behind [[RewriteStoredCents.FiniteProperty]]:
    * returns the subset of `cols` with no non-finite value (one narrow
    * aggregate pass; an empty table is vacuously finite). */
  private def auditFinite(df: DataFrame, cols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, isnan, lit, max, when}
    if (cols.isEmpty) return cols
    val flags = cols.map(c => max(when(
      isnan(col(c)) || col(c) === lit(Double.PositiveInfinity) ||
        col(c) === lit(Double.NegativeInfinity), 1).otherwise(0)).as(c))
    val row = df.select(flags: _*).collect()(0)
    cols.zipWithIndex.collect {
      case (c, i) if row.isNullAt(i) || row.getInt(i) == 0 => c
    }
  }

  /** Set both [[RewriteStoredCents]] properties on `table`: `cents`
    * names the source columns whose stored `<col>_cents` the rule treats
    * as authoritative, `finite` the subset whose stage-time finiteness
    * audit passed ([[RewriteStoredCents.FiniteProperty]]). Needed both
    * at stage time and after a fresh-catalog re-attach (table
    * properties live in the catalog, not the files). */
  def markDerived(spark: SparkSession, table: String, cents: Seq[String],
      finite: Seq[String]): Unit =
    spark.sql(s"ALTER TABLE `$table` SET TBLPROPERTIES " +
      s"('${RewriteStoredCents.Property}' = '${cents.mkString(",")}', " +
      s"'${RewriteStoredCents.FiniteProperty}' = '${finite.mkString(",")}')")

  /** One dim of a denormalized (pre-joined) advice: joined to
    * `parentTable` on `parentKey = dimKey`. */
  case class DenormDim(table: String, path: String, parentTable: String,
      parentKey: String, dimKey: String)

  /** A recommended MATERIALIZED JOIN projection: pre-join `fact` with
    * `dims` (inner equi-joins on the recorded keys, in order), carry
    * `columns` (the pruned union over the member tables), store cents
    * for `centsCols`, bucket+sort on `bucketKey`. Staged by
    * [[MaterializedJoins.stageDenorm]], served exactly by
    * [[RewriteMaterializedJoin]]. `hits` = summed corpus hits of the
    * absorbed join edges (the ranking signal). */
  case class DenormSpec(fact: String, factPath: String, dims: Seq[DenormDim],
      columns: Seq[String], bucketKey: Option[String], buckets: Int,
      centsCols: Seq[String], hits: Int)

  /** Advise PRE-JOINED projections from the corpus's own join graph —
    * the third layout kind, after bucketed (exchange removal on one
    * key) and clustered (scan pruning): a materialized join removes the
    * covered exchanges ENTIRELY, for every query whose join subtree the
    * staged table subsumes.
    *
    * Selection: the fact is the corpus's largest-bytes leaf; dims
    * attach greedily along the most-hit equi-join edges, each dim
    * strictly smaller than the fact and at least `minDimBytes` (a dim
    * below that broadcasts at query time — materializing it buys no
    * exchange and pays permanent width; the same
    * would-it-actually-shuffle doctrine [[routeAll]] applies
    * read-side). Edges with fewer than `minHits` corpus hits don't pay
    * for the write.
    *
    * The bucket key serves the RESIDUAL per-key work — grouping keys
    * the corpus applies over member tables after the covered joins are
    * gone. A candidate must be join-connected or measured high-NDV
    * ([[TableStats]]) — a low-cardinality grouping column (q1's
    * returnflag class) would collapse the table to a handful of
    * buckets. Falls back to the hottest absorbed fact-side join key
    * (co-location for the queries that keep joining it, e.g. self
    * semi-joins the rewrite deliberately leaves alone).
    *
    * Reference analog: prep_3_merge.py:41-48 — the reference's own
    * pipeline materializes the behavior⋈sample join at prep time; this
    * derives the same table from the queries instead of by hand. */
  def adviseDenormalized(corpus: Seq[DataFrame],
      targetBucketBytes: Long = 1L << 30, minHits: Int = 2,
      minDimBytes: Long = 16L << 20, maxDims: Int = 4): Seq[DenormSpec] = {
    require(corpus.nonEmpty, "LayoutAdvisor.adviseDenormalized: empty corpus")
    val edgeHits = scala.collection.mutable.Map.empty[((String, String), (String, String)), Int]
    val groupHits = scala.collection.mutable.Map.empty[(String, String), Int]
    val centsHits = scala.collection.mutable.Map.empty[(String, String), Int]
    val leaves = corpus.map(new Leaves(_))
    leaves.foreach { l =>
      l.keyOps((pc, _) => bump(groupHits)(pc), { (lp, rp, j) =>
        if (j.joinType == org.apache.spark.sql.catalyst.plans.Inner)
          for (a <- lp; b <- rp) if (a._1 != b._1) {
            val e = edge(a, b)
            edgeHits(e) = edgeHits.getOrElse(e, 0) + 1
          }
      })
      l.centsHits(bump(centsHits))
    }
    val (bytesOf, usedByPath) = (firstSeen(leaves.map(_.bytes)), usedBy(leaves))
    if (bytesOf.isEmpty) return Nil
    val factPath = bytesOf.toSeq.maxBy(p => (p._2, p._1))._1
    val factBytes = bytesOf(factPath)
    // the floor scales down with small facts (a bench-scale corpus must
    // exercise the same advice a 100 TB one gets) but stays absolute at
    // scale — a dim an eighth of the fact always shuffles if anything does
    val dimFloor = math.min(minDimBytes, factBytes / 8)
    // greedy attach along the hottest eligible edges
    val included = scala.collection.mutable.Map[String, String](
      tableName(factPath) -> factPath) // table -> path
    val dims = scala.collection.mutable.ArrayBuffer.empty[DenormDim]
    var hits = 0
    var done = false
    while (!done && dims.size < maxDims) {
      val cands = edgeHits.toSeq.flatMap { case (((p1, c1), (p2, c2)), n) =>
        val in1 = included.values.toSet.contains(p1)
        val in2 = included.values.toSet.contains(p2)
        // (parent side, dim side) when exactly one endpoint is in
        if (in1 != in2) {
          val ((pp, pk), (dp, dk)) = if (in1) ((p1, c1), (p2, c2)) else ((p2, c2), (p1, c1))
          val db = bytesOf.getOrElse(dp, 0L)
          if (n >= minHits && db >= dimFloor && db < factBytes &&
              !included.contains(tableName(dp)))
            Some((n, pp, pk, dp, dk))
          else None
        } else None
      }
      cands.sortBy(c => (-c._1, tableName(c._4))).headOption match {
        case Some((n, pp, pk, dp, dk)) =>
          dims += DenormDim(tableName(dp), dp, tableName(pp), pk, dk)
          included(tableName(dp)) = dp
          hits += n
        case None => done = true
      }
    }
    if (dims.isEmpty) return Nil
    val memberPaths = included.values.toSet
    val columns = memberPaths.toSeq.sorted
      .flatMap(p => usedByPath.getOrElse(p, Set.empty).toSeq.sorted).distinct
    val cents = centsHits.keys.toSeq
      .filter(pc => memberPaths(pc._1) && columns.contains(pc._2))
      .map(_._2).distinct.sorted
    val totalBytes = memberPaths.toSeq.map(bytesOf).sum
    val buckets = bucketsFor(totalBytes, targetBucketBytes, parallelismFloor(corpus))
    // residual bucket key: hottest member grouping column that is
    // join-connected or measured high-NDV; fallback = the fact-side key
    // of the hottest absorbed edge
    val joinCols: Set[(String, String)] =
      edgeHits.keys.flatMap(e => Seq(e._1, e._2)).toSet
    val spark = corpus.head.sparkSession
    val bucketKey = groupHits.toSeq
      .filter { case ((p, c), _) => memberPaths(p) && columns.contains(c) }
      .filter { case (pc @ (p, c), _) =>
        joinCols(pc) || ndvResolver(spark, p)(c).exists(_ >= buckets.toLong * 16)
      }
      .sortBy { case ((_, c), n) => (-n, c) }.headOption.map(_._1._2)
      .orElse(dims.toSeq.filter(_.parentTable == tableName(factPath))
        .map(d => d.parentKey).headOption)
    Seq(DenormSpec(tableName(factPath), factPath, dims.toSeq, columns,
      bucketKey, buckets, cents, hits))
  }

  /** A recommended MATERIALIZED AGGREGATE rollup (round-12 — the
    * fourth layout kind): `fact GROUP BY key` carrying `measures`
    * (the corpus's own aggregate expressions, stored as final values;
    * conditional counts recorded from semi/anti probes), bucketed on
    * the key. Staged by [[MaterializedAggs.stageRollup]], served
    * exactly by [[RewriteMaterializedAgg]]. */
  case class RollupSpec(fact: String, factPath: String, keys: Seq[String],
      measures: Seq[MaterializedAggs.Measure], buckets: Int, hits: Int)

  /** Advise AGGREGATE ROLLUPS from the corpus's own aggregate-form
    * plans — the class [[adviseDenormalized]] cannot reach (the join
    * rewrite stops at aggregates; q18/q21's per-order multi-aggregate,
    * q17's per-part average, q4's EXISTS probe all re-reduce the fact
    * at every run).
    *
    * A site is recordable iff [[RewriteMaterializedAgg]] would serve
    * it — the advisor and the rule share the peel/inline machinery, so
    * advice never stages a measure the rewrite cannot match:
    *  - an Aggregate whose child peels to a fact leaf, whose grouping
    *    inlines to ONE leaf column, whose non-key filters are absent
    *    (key-only filters re-apply) and whose every aggregate
    *    expression inlines to leaf columns → one measure per aggregate
    *    expression (canonical SQL, deterministic name);
    *  - a semi/anti probe (or a filtered DISTINCT — the shape
    *    [[EagerAggregation]] leaves in optimized corpus plans) of the
    *    fact keyed on one column → one conditional count measure.
    *
    * Keys measured ≈unique ([[TableStats]]) are skipped — a rollup on
    * a unique key reduces nothing and pays a whole-fact write (the
    * same measured decline [[EagerAggregation]] applies query-side).
    * Tables whose (path, key) collect fewer than `minHits` sites are
    * dropped. Bucket counts use the fact's own size so the rollup
    * aligns with the fact's bucketed-projection join class. */
  def adviseAggRollups(corpus: Seq[DataFrame], targetBucketBytes: Long = 1L << 30,
      minHits: Int = 1): Seq[RollupSpec] = {
    require(corpus.nonEmpty, "LayoutAdvisor.adviseAggRollups: empty corpus")
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val bytesOf = scala.collection.mutable.Map.empty[String, Long]
    // (path, keys) -> (measures by agg-sql, hits)
    val sites = scala.collection.mutable.Map.empty[(String, Seq[String]),
      (scala.collection.mutable.LinkedHashMap[String, MaterializedAggs.Measure], Int)]
    def record(path: String, keys: Seq[String],
        ms: Seq[MaterializedAggs.Measure]): Unit = {
      val (map, n) = sites.getOrElseUpdate((path, keys),
        (scala.collection.mutable.LinkedHashMap.empty, 0))
      ms.foreach(m => map.getOrElseUpdate(m.agg, m))
      sites((path, keys)) = (map, n + 1)
    }
    def stripAlias(e: Expression): Expression = e match {
      case al: Alias => al.child
      case other => other
    }
    def measureName(sql: String): String = "m_" + FileSchemas.sha1(sql).take(10)

    corpus.foreach { df =>
      val plan = df.queryExecution.optimizedPlan
      def siteOf(child: LogicalPlan): Option[(MaterializedAggs.PeeledFact, String)] =
        MaterializedAggs.peelFact(child).flatMap { peeled =>
          bytesOf.getOrElseUpdate(peeled.path, peeled.leaf.relation match {
            case fs: HadoopFsRelation => fs.sizeInBytes
            case _ => 0L
          })
          Some((peeled, peeled.path))
        }
      def keyName(peeled: MaterializedAggs.PeeledFact, e: Expression): Option[String] =
        MaterializedAggs.inline(stripAlias(e), peeled.subst) match {
          case a: AttributeReference => peeled.nameOf.get(a.exprId.id)
          case _ => None
        }
      def splitByKey(peeled: MaterializedAggs.PeeledFact, keys: Set[String])
          : (Seq[Expression], Seq[Expression]) =
        peeled.filters.map(f => MaterializedAggs.inline(f, peeled.subst))
          .partition { c =>
            val refs = c.references.toSeq
            refs.nonEmpty && refs.forall(a =>
              peeled.nameOf.get(a.exprId.id).exists(keys.contains))
          }
      def noSubquery(e: Expression): Boolean = !e.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
      def condMeasure(peeled: MaterializedAggs.PeeledFact,
          rest: Seq[Expression]): Option[MaterializedAggs.Measure] = {
        if (rest.isEmpty) return None
        // a conjunct carrying a subquery (q3's runtime-bloom
        // might_contain) has no round-trippable SQL and is not a
        // stageable condition — skip the site
        if (!rest.forall(noSubquery)) return None
        if (!rest.forall(_.references.forall(a =>
          peeled.nameOf.contains(a.exprId.id)))) return None
        val condSql = rest.map(MaterializedAggs.bareSql).sorted.mkString(" AND ")
        val agg = s"count_if($condSql)"
        Some(MaterializedAggs.Measure(measureName(agg), agg, Some(condSql)))
      }
      plan.foreach {
        case agg: Aggregate => siteOf(agg.child).foreach { case (peeled0, path) =>
          // grouping aliases bind exprIds the output references — same
          // substitution merge the rewrite applies
          val peeled = peeled0.copy(subst = peeled0.subst ++
            agg.groupingExpressions.collect {
              case al: Alias => al.exprId.id -> al.child
            })
          val keyOpts = agg.groupingExpressions.map(e => keyName(peeled, e))
          if (keyOpts.forall(_.isDefined)) {
            val groupCols = keyOpts.flatten.distinct
            val keySet = groupCols.toSet
            val (_, rest) = splitByKey(peeled, keySet)
            val inlinedOut = agg.aggregateExpressions
              .map(ne => MaterializedAggs.inline(ne, peeled.subst))
            val aes = inlinedOut.flatMap(_.collect {
              case ae: AggregateExpression => ae
            })
            val underAgg = org.apache.spark.sql.catalyst.expressions
              .AttributeSet(aes.flatMap(_.references))
            val topOk = inlinedOut.flatMap(_.collect {
              case a: AttributeReference => a
            }).filterNot(underAgg.contains).forall(a =>
              peeled.nameOf.get(a.exprId.id).exists(keySet.contains))
            val aesOk = aes.nonEmpty && aes.forall(noSubquery) &&
              aes.forall(_.references.forall(a =>
                peeled.nameOf.contains(a.exprId.id)))
            def measures = aes.map { ae =>
              val sql = MaterializedAggs.bareSql(ae)
              MaterializedAggs.Measure(measureName(sql), sql)
            }
            if (aesOk && topOk && rest.isEmpty && groupCols.nonEmpty) {
              // exact-grain site: keys = the grouping columns; stored
              // FINAL values serve any aggregate function
              record(path, groupCols, measures)
            } else if (aesOk && topOk) {
              // coarser-grain site (round-12b): fold the non-key filter
              // columns into the key — the rewrite re-applies the
              // predicates on the rollup's key columns and
              // RE-AGGREGATES, so every measure must be decomposable
              // (the rewrite's shape-1b terms; the advisor shares them
              // so advice never stages what the rule cannot serve)
              val restOk = rest.forall(c => noSubquery(c) &&
                c.references.toSeq.nonEmpty &&
                c.references.forall(a => peeled.nameOf.contains(a.exprId.id)))
              val decomposable = aes.forall { ae =>
                !ae.isDistinct && ae.filter.isEmpty &&
                (ae.aggregateFunction match {
                  case _: org.apache.spark.sql.catalyst.expressions.aggregate.Sum |
                       _: org.apache.spark.sql.catalyst.expressions.aggregate.Count |
                       _: org.apache.spark.sql.catalyst.expressions.aggregate.Min |
                       _: org.apache.spark.sql.catalyst.expressions.aggregate.Max => true
                  case _ => false
                })
              }
              val restCols = rest.flatMap(_.references.toSeq)
                .flatMap(a => peeled.nameOf.get(a.exprId.id))
                .distinct.filterNot(keySet.contains).sorted
              val allKeys = groupCols ++ restCols
              if (restOk && decomposable && allKeys.nonEmpty)
                record(path, allKeys, measures)
            } else if (rest.nonEmpty && aes.isEmpty && topOk &&
                groupCols.nonEmpty &&
                inlinedOut.forall {
                  case a: AttributeReference =>
                    peeled.nameOf.get(a.exprId.id).exists(keySet.contains)
                  case al: Alias => al.child match {
                    case a: AttributeReference =>
                      peeled.nameOf.get(a.exprId.id).exists(keySet.contains)
                    case _ => false
                  }
                  case _ => false
                }) {
              // the filtered-DISTINCT shape (EagerAggregation's insert)
              condMeasure(peeled, rest).foreach(m =>
                record(path, groupCols, Seq(m)))
            }
          }
        }
        case Join(_, right, org.apache.spark.sql.catalyst.plans.LeftSemi |
            org.apache.spark.sql.catalyst.plans.LeftAnti, Some(cond), _)
            if cond.deterministic =>
          siteOf(right).foreach { case (peeled, path) =>
            val rightRefs = cond.references.toSeq.filter(right.outputSet.contains)
            val keyNames = rightRefs.map(a => keyName(peeled, a))
            if (rightRefs.nonEmpty && keyNames.forall(_.isDefined)) {
              val probeKeys = keyNames.flatten.distinct
              val (_, rest) = splitByKey(peeled, probeKeys.toSet)
              condMeasure(peeled, rest).foreach(m =>
                record(path, probeKeys, Seq(m)))
            }
          }
        case _ =>
      }
    }
    val spark = corpus.head.sparkSession
    val floor = parallelismFloor(corpus)
    sites.toSeq.flatMap { case ((path, keys), (measures, hits)) =>
      def spec = RollupSpec(tableName(path), path, keys, measures.values.toSeq,
        bucketsFor(bytesOf.getOrElse(path, 0L), targetBucketBytes, floor), hits)
      if (hits < minHits) None
      else if (keys.size == 1) {
        // a measured ≈unique key reduces nothing — skip (unmeasured
        // keys pass: the rollup stays correct either way, only cost
        // varies)
        if (ndvResolver(spark, path)(keys.head).exists { ndv =>
          val rows = TableStats.lookup(spark, path)
            .map(_.rowCount).getOrElse(0L)
          rows > 0 && ndv.toDouble >= 0.9 * rows
        }) None else Some(spec)
      } else {
        // COMPOSITE key (predicate columns folded in): stage only when
        // reduction is GUARANTEED — the per-column NDV product bounds
        // the combined key cardinality from above, so product < rows
        // proves the rollup is smaller than the fact, while a
        // (suppkey, shipdate)-style near-fact-grain combination must
        // never stage (the write would cost a fact-sized shuffle for
        // ~no row reduction). NDVs are measured once here if missing —
        // stats as product, persisted for every later advice pass.
        val st = TableStats.analyzePathIfMissing(spark, path, keys)
        val ndvs = keys.map(k => st.ndv.get(k).map(_.toDouble))
        if (st.rowCount > 0 && ndvs.forall(_.isDefined) &&
          ndvs.flatten.product < 0.9 * st.rowCount) Some(spec)
        else None
      }
    }.sortBy(s => (-s.hits, s.fact, s.keys.mkString(",")))
  }

  /** Complete layout advice for a corpus: bucketed layouts for the
    * per-key operator classes first (they remove exchanges — the bigger
    * win), then sorted/z-ordered layouts for tables whose corpus
    * presence is predicate-shaped only. One physical layout per table. */
  def adviseAll(corpus: Seq[DataFrame], targetBucketBytes: Long = 1L << 30,
      targetFileBytes: Long = 256L << 20, minHits: Int = 1,
      minBenefitFraction: Double = 0.0)
      : (Seq[LayoutSpec], Seq[SortedSpec]) = {
    val bucketed = advise(corpus, targetBucketBytes, minHits, minBenefitFraction)
    val sorted = adviseSorted(corpus, targetFileBytes, minHits,
      exclude = bucketed.map(_.table).toSet)
    (bucketed, sorted)
  }
}
