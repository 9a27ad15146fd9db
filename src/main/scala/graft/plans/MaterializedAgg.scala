package graft.plans

import graft.sources.{FileSchemas, GraftFiles}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** MATERIALIZED AGGREGATE ROLLUPS — per-key aggregates of a fact table
  * staged once at WRITE time, served by an exact optimizer rewrite
  * (round-12; the layout kind one level above round-11's materialized
  * joins).
  *
  * The round-11 sweep's residual class is AGGREGATE-FORM queries: the
  * fact enters the plan below an Aggregate — q18/q21's per-order
  * multi-aggregate, q17's per-part average, q4's EXISTS probe — which
  * [[RewriteMaterializedJoin]] correctly refuses to absorb (it stops at
  * aggregates). Those queries recompute the same per-key reduction of
  * 120M rows at every run. A staged ROLLUP — `fact GROUP BY key` with
  * the corpus's own aggregate expressions as columns, bucketed+sorted
  * on the key — collapses each of them to a scan of |keys| rows
  * (~30M orders / ~4M parts at x200, a 4–30× row reduction before the
  * query starts), and the bucket key keeps the downstream key-joins
  * co-located.
  *
  * Reference analog: the reference's prep pipeline materializes grouped
  * aggregates to parquet and every later stage consumes them
  * (docs/tutorial/ranking/taobao/data/prep_2_bahavior.py:50-53 —
  * groupby('user').aggregate(list) written once, read everywhere);
  * here the same move is advised from the query corpus
  * ([[LayoutAdvisor.adviseAggRollups]]), staged audited and
  * fingerprinted ([[MaterializedAggs.stageRollup]]), and served by an
  * exact rewrite ([[RewriteMaterializedAgg]]).
  *
  * EXACTNESS CONTRACT. A staged rollup `R = fact GROUP BY k1…kj AGG
  * m1…mn` serves three plan shapes, all by EXPRESSION-LEVEL equality
  * (never name heuristics):
  *
  *  1. AGGREGATE form, EXACT grain: `Aggregate(G, aggs, fact-leaf)` —
  *     the child peels through pure/computed Projects (aliases
  *     inlined), repartitions and sorts down to the EXACT staged fact
  *     files (path + [[Freshness]] fingerprint); every grouping
  *     expression inlines to a staged key attribute and TOGETHER they
  *     cover the key set; every AggregateExpression inlines to an
  *     expression CANONICALLY EQUAL to a staged measure; every filter
  *     conjunct references key columns only (constant per group, so it
  *     re-applies verbatim on the rollup — this is also where q1-style
  *     date predicates land once the advisor folds the filter column
  *     into the key). Because the query's grouping equals the staged
  *     key set exactly, each output group IS one rollup row, so the
  *     Aggregate is replaced by a Project over the rollup scan — the
  *     measures are stored FINAL values, which is what makes arbitrary
  *     (even non-decomposable) aggregate functions servable.
  *
  *  1b. AGGREGATE form, COARSER grain (round-12b — the classic
  *     materialized-view rewrite): the grouping inlines to a PROPER
  *     SUBSET of the key set (possibly empty — a global aggregate) and
  *     every matched measure is DECOMPOSABLE: `sum(x)` re-aggregates
  *     as `sum(stored)`, `count(x)`/`count(*)` as `sum(stored)`,
  *     `min`/`max` as themselves (cast back to the query's result type
  *     where the re-sum widened a decimal — bit-exact: the direct plan
  *     computes the identical value in the narrower type). The
  *     Aggregate survives but runs over |rollup| rows instead of
  *     |fact| — q6's three-predicate global sum becomes a sum over the
  *     ≤|distinct key combos| filtered rollup rows, q1's two-column
  *     grouping re-aggregates ~10k (flag, status, shipdate) partials.
  *     `avg` needs no special case under the engine's DECIMAL-sum /
  *     count idiom (the division sits ABOVE the two matched
  *     aggregates and is preserved); a bare `Average`, `first`, or any
  *     distinct/filtered aggregate declines. A global `count` over a
  *     filtered-empty rollup coalesces to 0 (matching count's
  *     empty-input semantics where re-sum would yield null).
  *  2. KEY-SET form: a LeftSemi/LeftAnti probe (or an Aggregate-shaped
  *     DISTINCT) whose probe side peels to `Filter(f)` over the fact
  *     leaf projecting only the key, where `f`'s conjunct set equals a
  *     staged CONDITIONAL COUNT's condition: the set of keys with ≥1
  *     qualifying row is exactly `R WHERE count_if(f) > 0` — EXISTS
  *     becomes a filter on the order-grain rollup (q4's shape at 30M
  *     rows instead of 120M), NOT EXISTS the same by the anti join's
  *     own semantics (both joins consume only the key SET, and NULL
  *     keys match nothing on either side). This sidesteps exactly the
  *     fact-grain dim decode that measured the round-11 semi arm off.
  *
  * Anything else — an unmatched measure, a second grouping column, a
  * filter that is not a recorded condition, a drifted base fingerprint
  * — declines the whole rewrite: the rule returns the plan untouched
  * rather than approximate.
  *
  * Scale: the rollup write is one map-side-combined aggregate over the
  * fact (the same shuffle ONE query pays), after which the covered
  * query class never touches fact grain again; at 1000 executors the
  * win is both the removed re-aggregation AND the removed exchange
  * (the rollup is bucketed on the key it serves). Staleness is handled
  * like every staged layout: base fingerprints at stage time, verified
  * at attach and at every rewrite, loud decline on drift.
  */
object MaterializedAggs extends LayoutRegistry with PredicateHelper {

  /** One staged measure: column `name` of the rollup holds `agg`
    * (aggregate-function SQL over the fact schema) evaluated per key.
    * `cond` is set for conditional counts recorded from semi/anti
    * probes — `agg` is then `count_if(<cond>)` and the rewrite matches
    * the PROBE's filter conjuncts against `cond`. */
  case class Measure(name: String, agg: String, cond: Option[String] = None)

  /** A registered rollup the rewrite may serve. `keys` = the staged
    * grouping columns (lowercase; bucketed on the head). `fingerprint`
    * = the fact's base-file fingerprint at stage time (empty =
    * unchecked, hand-built test metas only). */
  case class Meta(catalogTable: String, fact: String, factPath: String,
      keys: Seq[String], measures: Seq[Measure], fingerprint: String = "")

  protected def tableOf(meta: Meta): String = meta.catalogTable
  protected val flag = "spark.graft.materializedAgg.enabled"

  /** A rollup's measures as [[RewriteMaterializedAgg]] matches them,
    * parsed once per meta ([[LayoutState]]): `plain` maps a
    * canonical aggregate expression to its measure column; `conds` pairs
    * normalized conjunct SETS with their conditional-count column. */
  private[plans] final case class Parsed(plain: Map[Expression, String],
      conds: Seq[(Set[Expression], String)])

  /** True while a measure parse is in flight on this thread. The parse
    * itself runs optimizer passes (a GLOBAL aggregate per measure, a
    * filter per condition) and the coarser-grain serve (shape 1b)
    * matches global aggregates — without this guard the rule would
    * re-enter its own parse (stack overflow), and WORSE, a sibling
    * registered rollup could SERVE the parse's aggregate, leaving the
    * measure normalized over rollup column names that can never match
    * a query. The whole rule no-ops during a parse. JVM-wide by nature:
    * it marks a thread, whichever session or context runs on it. */
  private[plans] val inParse = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** The identity lines of a rollup's record: fact, keys (lowercase)
    * and the measure set, sorted by name. */
  private def identity(fact: String, factPath: String, keys: Seq[String],
      measures: Seq[Measure]): Seq[Seq[String]] =
    Seq(Seq("fact", fact, factPath), Seq("keys", keys.mkString(","))) ++
      measures.sortBy(_.name).map(m => Seq("measure", m.name, m.agg, m.cond.getOrElse("")))

  /** The [[Meta]] a rollup's record describes. */
  protected def metaOf(catalogTable: String, rec: Freshness.Record): Meta = {
    val fact = rec.one("fact", 2)
    Meta(catalogTable, fact(0), fact(1), rec.list("keys"),
      rec.all("measure", 3).map(f => Measure(f(0), f(1), Some(f(2)).filter(_.nonEmpty))),
      rec.one("base", 2)(1))
  }

  /** Write the record of rollup `name` over the fact files `files` —
    * the base-file INVENTORY behind the fingerprint, which
    * [[refreshRollup]] diffs against the live listing to find the
    * appended delta — and return the [[Meta]] it describes. */
  private def record(spark: SparkSession, name: String, fact: String, factPath: String,
      keys: Seq[String], measures: Seq[Measure], files: Seq[FileSchemas.Entry]): Meta =
    metaOf(name, Freshness.write(spark, name, identity(fact, factPath, keys, measures),
      Freshness.finite(Nil) +: files.map(_.line).sorted.map(l => Seq("file", l)),
      Seq(factPath -> FileSchemas.fingerprint(files))))

  /** Stage `spec` as bucketed catalog table `name`: ONE aggregate over
    * the fact (`GROUP BY key` with every advised measure), written
    * bucketed+sorted on the key, base fingerprinted, stats measured
    * (the rollup's key is unique BY CONSTRUCTION — recording it lets
    * [[EagerAggregation]]'s measured decline skip useless pre-aggs over
    * the rollup), record written, meta registered. The rewrite is
    * disabled during the staging write — the staging query is itself an
    * aggregate over the fact and a previously registered overlapping
    * rollup must not serve it. */
  def stageRollup(spark: SparkSession, spec: LayoutAdvisor.RollupSpec,
      name: String): Meta = withRuleOff(spark) {
    import org.apache.spark.sql.functions.{col, expr}
    val fact = FileSchemas.read(spark, spec.factPath.split(',').toIndexedSeq)
    val inventory = FileSchemas.leafEntries(fact).getOrElse(
      sys.error(s"stageRollup($name): ${spec.factPath} is not one file scan"))
    val aggs = spec.measures.map(m => expr(m.agg).as(m.name))
    require(aggs.nonEmpty, s"stageRollup($name): no measures advised")
    require(spec.keys.nonEmpty, s"stageRollup($name): no keys advised")
    val rolled = fact.groupBy(spec.keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    // stats as product, measured by the staging write itself: rowCount +
    // per-column NDV of the rollup keys (a single key is unique by
    // construction — the measurement proves it to EagerAggregation;
    // composite key columns measure low individually and claim nothing)
    TableStats.recordWrite(spark, rolled, name, spec.keys)(
      graft.sources.TabularWriter.toBucketedTable(_, name, spec.keys.head, spec.buckets,
        sorted = true))
    val meta = record(spark, name, spec.fact, spec.factPath,
      spec.keys.map(_.toLowerCase), spec.measures, inventory)
    register(spark, meta)
    meta
  }

  /** Fresh-JVM re-attach of an already-staged rollup at `path` as
    * catalog table `name` through [[Freshness.attach]]: the record must
    * match this session's spec (fact path, keys, measure set) AND the
    * fact's LIVE fingerprint must equal the staged one — a base table
    * that grew since staging would be silently served stale per-key
    * values. Refusal is loud; re-stage is the recovery. */
  def attachRollup(spark: SparkSession, spec: LayoutAdvisor.RollupSpec,
      name: String, path: String): Meta = {
    val meta = Freshness.attach(spark, name, path,
      identity(spec.fact, spec.factPath, spec.keys.map(_.toLowerCase), spec.measures),
      Some(spec.keys.head -> spec.buckets))(metaOf(name, _))
    if (TableStats.lookup(spark, name).isEmpty)
      TableStats.analyze(spark, spark.table(name), name, spec.keys)
    register(spark, meta)
    meta
  }

  /** INCREMENTAL rollup maintenance (round-12b): when the base fact
    * gained files since staging (append-only growth — the layout
    * freshness story's common case), aggregate ONLY the delta files and
    * MERGE the partials into the staged rollup, instead of re-staging
    * from scratch. At 100 TB this is the difference between touching
    * the appended day and re-shuffling the whole history: the staged
    * measures are themselves per-key partials, and sum/count partials
    * merge by +, min/max by themselves — the same decomposition the
    * coarser-grain serve exploits. A distinct or non-decomposable
    * measure refuses loudly (full re-stage is the recovery), as does
    * any non-append drift (a staged file missing, resized or rewritten — the
    * delta is then not well-defined).
    *
    * One co-partitioned pass: only the delta moves. Its raw rows are
    * repartitioned on the staged bucket column into the staged bucket
    * count before their per-key aggregate, so they land in the hash
    * partitioning the staged rollup's bucketed scan already reports
    * (pinned on by `TabularWriter.withBucketedScan`). The union of the
    * two then reports that partitioning too
    * (`spark.sql.unionOutputPartitioning`, on by default), which
    * satisfies the merge aggregate's clustering on all keys (the bucket
    * column is the first key) and `toBucketedTable`'s own repartition:
    * the plan is one shuffle of the delta's rows and one task per
    * bucket that merges, sorts and writes it. The rollup's
    * stats come from that write ([[TableStats.recordWrite]]), not from
    * a re-scan. Driver cost per refresh: one listing of the fact (its
    * schema from `FileSchemas`), the frames' analysis — which also
    * classifies every measure's merge ([[mergeKinds]]) — and the swap's
    * two renames and drop.
    *
    * The swap is [[graft.sources.TabularWriter.swap]]'s rename-aside
    * (`__refreshing`/`__prerefresh`): every crash window keeps both
    * copies on disk, and the post-swap window before the new record
    * lands is safe by construction — the registered fingerprint no longer
    * matches the live base, so the rewrite declines rather than serve
    * a half-refreshed table. Returns (and registers) the refreshed
    * Meta; a no-op when the base is unchanged. */
  def refreshRollup(spark: SparkSession, meta: Meta): Meta = {
    import graft.sources.TabularWriter
    import org.apache.spark.sql.functions.{col, expr, max, min, sum}
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(meta.catalogTable)
    val cat = spark.sessionState.catalog.getTableMetadata(ident)
    // the staged base-file inventory (absent without a record)
    val staged = Freshness.read(spark, GraftFiles.locationOf(spark, meta.catalogTable).toString)
      .toSeq.flatMap(_.all("file", 1))
      .flatMap(f => FileSchemas.Entry.parse(f.head)).toSet
    require(staged.nonEmpty,
      s"refreshRollup(${meta.catalogTable}): no layout record of its file " +
        "inventory — re-stage")
    val factDf = FileSchemas.read(spark, meta.factPath.split(',').toIndexedSeq)
    val live = FileSchemas.leafEntries(factDf).getOrElse(sys.error(
      s"refreshRollup(${meta.catalogTable}): ${meta.factPath} is not one file scan"))
    if (staged == live.toSet) return meta // fresh — no-op
    val missing = staged -- live
    require(missing.isEmpty,
      s"refreshRollup(${meta.catalogTable}): base files changed or " +
        s"disappeared (${missing.take(3).map(_.line).mkString("; ")}) — growth is not " +
        "append-only, re-stage")
    val spec = cat.bucketSpec.getOrElse(sys.error(
      s"refreshRollup(${meta.catalogTable}): not a bucketed table"))
    val bucketCol = spec.bucketColumnNames.head
    // the merge plans below must not be served by a registered rollup
    withRuleOff(spark) {
      val deltaFiles = live.filterNot(staged).map(_.path)
      val deltaAggs = meta.measures.map(ms => expr(ms.agg).as(ms.name))
      val delta = spark.read.schema(factDf.schema)
        .parquet(deltaFiles.toIndexedSeq: _*)
        .repartition(spec.numBuckets, col(bucketCol))
        .groupBy(meta.keys.map(col): _*).agg(deltaAggs.head, deltaAggs.tail: _*)
      val kinds = meta.measures.zip(mergeKinds(delta, meta.measures)).map {
        case (ms, k) => ms -> k.getOrElse(throw new IllegalArgumentException(
          s"refreshRollup(${meta.catalogTable}): measure ${ms.name} = " +
            s"${ms.agg} does not merge (distinct or non-decomposable) — re-stage"))
      }
      TabularWriter.withBucketedScan(spark) {
        val old = spark.table(meta.catalogTable)
        val orderedCols = old.columns.toSeq.map(col)
        val mergeExprs = kinds.map { case (ms, k) =>
          val storedType = old.schema(ms.name).dataType
          (k match {
            // a re-sum widens (decimals) — cast back to the stored type,
            // bit-exact by the same argument as the coarser-grain serve
            case "sum" => sum(col(ms.name)).cast(storedType)
            case "min" => min(col(ms.name))
            case "max" => max(col(ms.name))
          }).as(ms.name)
        }
        val merged = old.unionByName(delta.select(orderedCols: _*))
          .groupBy(meta.keys.map(col): _*)
          .agg(mergeExprs.head, mergeExprs.tail: _*)
          .select(orderedCols: _*)
        TableStats.recordWrite(spark, merged, meta.catalogTable, meta.keys) { m =>
          TabularWriter.swap(spark, meta.catalogTable, "__refreshing", "__prerefresh") {
            TabularWriter.toBucketedTable(m, _, bucketCol, spec.numBuckets, sorted = true)
          }
        }
      }
      val fresh = record(spark, meta.catalogTable, meta.fact, meta.factPath,
        meta.keys, meta.measures, live)
      register(spark, fresh)
      fresh
    }
  }

  /** How each staged measure's per-key partials MERGE across delta
    * batches, read off the delta aggregate's analyzed plan (no extra
    * analysis or optimizer pass): sum/count (filtered or not — the
    * filter applies inside each partial) merge by sum, min/max by
    * themselves; distinct and everything else do not merge. A
    * runtime-replaceable aggregate (`count_if`, `bool_and`…) is judged
    * by the aggregate the optimizer replaces it with. */
  private def mergeKinds(delta: org.apache.spark.sql.DataFrame,
      measures: Seq[Measure]): Seq[Option[String]] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Max, Min, Sum}
    def kind(f: Expression): Option[String] = f match {
      case _: Sum | _: Count => Some("sum")
      case _: Min => Some("min")
      case _: Max => Some("max")
      case r: RuntimeReplaceableAggregate => kind(r.replacement)
      case _ => None
    }
    val byName = delta.queryExecution.analyzed.collectFirst { case ag: Aggregate => ag }
      .toSeq.flatMap(_.aggregateExpressions).collect { case al: Alias => al.name -> al }.toMap
    measures.map { ms =>
      byName.get(ms.name).flatMap { al =>
        al.collect { case ae: AggregateExpression => ae } match {
          case Seq(ae) if !ae.isDistinct => kind(ae.aggregateFunction)
          case _ => None
        }
      }
    }
  }

  // ------------------------------------------------- shared machinery

  /** Inline a Project-alias substitution map to fixpoint: expressions
    * recorded per alias exprId are expressed over DEEPER attributes, so
    * chains (alias over alias over leaf) resolve in ≤ depth passes. */
  private[plans] def inline(e: Expression, subst: Map[Long, Expression]): Expression = {
    var cur = e
    var changed = true
    var guard = 0
    while (changed && guard < 32) {
      val next = cur.transformUp {
        case a: AttributeReference if subst.contains(a.exprId.id) => subst(a.exprId.id)
      }
      changed = !next.fastEquals(cur)
      cur = next
      guard += 1
    }
    cur
  }

  /** A fact-leaf peel for aggregate shapes: walks Projects (collecting
    * alias substitutions — COMPUTED aliases included, they inline),
    * Filters (collected raw; callers inline + match them), repartitions
    * and sorts (row-set no-ops for aggregation) down to a single
    * HadoopFs leaf. */
  private[plans] case class PeeledFact(leaf: LogicalRelation, path: String,
      filters: Seq[Expression], subst: Map[Long, Expression]) {
    lazy val nameOf: Map[Long, String] =
      leaf.output.map(a => a.exprId.id -> a.name.toLowerCase).toMap
    /** The column of `keys` that `e` reads as a bare leaf attribute. */
    def keyOf(e: Expression, keys: Set[String]): Option[String] = e match {
      case a: AttributeReference => nameOf.get(a.exprId.id).filter(keys.contains)
      case _ => None
    }
    def index: org.apache.spark.sql.execution.datasources.FileIndex =
      leaf.relation.asInstanceOf[HadoopFsRelation].location
  }

  private[plans] def peelFact(p: LogicalPlan): Option[PeeledFact] = {
    val subst = scala.collection.mutable.Map.empty[Long, Expression]
    val filters = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def walk(p: LogicalPlan): Option[(LogicalRelation, String)] = p match {
      case FileLeaf(lr, _, path) => Some((lr, path))
      case prj: Project =>
        prj.projectList.foreach {
          case al: Alias => subst(al.exprId.id) = al.child
          case _ =>
        }
        walk(prj.child)
      case f: Filter if f.condition.deterministic =>
        filters ++= splitConjunctivePredicates(f.condition)
        walk(f.child)
      case r: RepartitionOperation => walk(r.child)
      case s: Sort => walk(s.child)
      case _ => None
    }
    walk(p).map { case (lr, path) => PeeledFact(lr, path, filters.toSeq, subst.toMap) }
  }

  /** Normalize an expression over leaf attributes into a comparable
    * canonical form: every AttributeReference is replaced by a
    * deterministic per-NAME attribute (same name ⟹ same ExprId on both
    * the staged and the query side), then canonicalized. None when any
    * attribute fails to resolve to the leaf (a column from elsewhere). */
  private[plans] def normalize(e: Expression,
      nameOf: Long => Option[String]): Option[Expression] = {
    var ok = true
    val t = e.transformUp {
      case a: AttributeReference =>
        nameOf(a.exprId.id) match {
          case Some(n) =>
            val name = n.toLowerCase
            val id = java.nio.ByteBuffer.wrap(FileSchemas.sha1Bytes(name)).getLong.abs
            AttributeReference(name, a.dataType, nullable = true)(exprId = ExprId(id))
          case None => ok = false; a
        }
    }
    if (ok) Some(t.canonicalized) else None
  }

  /** Strip qualifiers so `.sql` round-trips against a raw parquet read
    * (optimized-plan attributes may carry catalog qualifiers). */
  private[plans] def bareSql(e: Expression): String =
    e.transformUp {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql
}

/** The optimizer rule serving [[MaterializedAggs]] registrations. See
  * the companion's scaladoc for the exactness contract. Injected after
  * [[RewriteMaterializedJoin]] and before [[EagerAggregation]]: the
  * aggregate shapes are matched as authored, and the key-set form also
  * matches the DISTINCT pre-aggregate EagerAggregation inserts below
  * semi/anti joins (so the two rules compose in either firing order). */
case class RewriteMaterializedAgg(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  import MaterializedAggs._

  /** `m`'s measures, parsed + optimized + normalized on first use and
    * kept in the context's [[LayoutState]] while the table's meta is
    * equal (parsing costs analyzer and optimizer runs). */
  private def parsed(m: Meta): Parsed = Option(LayoutState(spark).parsed.get(m.catalogTable))
      .collect { case (`m`, p) => p }.getOrElse {
    inParse.set(java.lang.Boolean.TRUE)
    val p = try {
      val df = FileSchemas.read(spark, m.factPath.split(',').toIndexedSeq)
      val leafName: Map[Long, String] = df.queryExecution.analyzed.collect {
        case lr: LogicalRelation => lr.output
      }.flatten.map(a => a.exprId.id -> a.name.toLowerCase).toMap
      // measures parse through the OPTIMIZED plan so constant folding
      // and cast simplification shape them exactly like the query
      // side's optimized expressions they must equal
      val plain = m.measures.filter(_.cond.isEmpty).flatMap { ms =>
        val qe = df.groupBy().agg(
          org.apache.spark.sql.functions.expr(ms.agg).as("__m"))
          .queryExecution
        val nameAt: Map[Long, String] = qe.optimizedPlan.collect {
          case lr: LogicalRelation => lr.output
        }.flatten.map(a => a.exprId.id -> a.name.toLowerCase).toMap
        qe.optimizedPlan.collectFirst { case ag: Aggregate => ag } match {
          case Some(ag) =>
            val aes = ag.aggregateExpressions.flatMap(_.collect {
              case ae: AggregateExpression => ae
            })
            if (aes.size != 1) None
            else normalize(aes.head, nameAt.get).map(_ -> ms.name)
          case None => None
        }
      }.toMap
      val conds = m.measures.flatMap { ms =>
        ms.cond.flatMap { c =>
          val cond = df.filter(org.apache.spark.sql.functions.expr(c))
            .queryExecution.optimizedPlan.collectFirst {
              case f: Filter => f.condition
            }
          cond.flatMap { e =>
            val norm = splitConjunctivePredicates(e)
              .map(cj => normalize(cj, id => leafName.get(id)))
            if (norm.forall(_.isDefined)) Some(norm.flatten.toSet -> ms.name)
            else None
          }
        }
      }
      Parsed(plain, conds)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[rollup] ${m.catalogTable}: measure parse failed " +
          s"(${e.getMessage.take(120)}) — rollup unusable until its meta changes")
        Parsed(Map.empty, Nil)
    } finally inParse.set(java.lang.Boolean.FALSE)
    LayoutState(spark).parsed.put(m.catalogTable, (m, p))
    p
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val registered = MaterializedAggs.all(spark)
    if (registered.isEmpty || !MaterializedAggs.enabled(conf) || inParse.get())
      return plan
    plan.transformDown {
      case agg: Aggregate =>
        registered.view.flatMap(tryServe(agg, _)).headOption.getOrElse(agg)
      case j @ Join(_, _, org.apache.spark.sql.catalyst.plans.LeftSemi |
          org.apache.spark.sql.catalyst.plans.LeftAnti, Some(_), _) =>
        registered.view.flatMap(trySemiServe(j, _)).headOption.getOrElse(j)
    }
  }

  /** The rollup's scan + lowercase-name attribute map, or None when the
    * catalog no longer has the table. */
  private def scanOf(m: Meta): Option[(LogicalPlan, Map[String, Attribute])] = {
    if (!spark.catalog.tableExists(m.catalogTable)) return None
    val scan = EliminateSubqueryAliases(
      spark.table(m.catalogTable).queryExecution.analyzed)
    Some((scan, scan.output.map(a => a.name.toLowerCase -> a).toMap))
  }

  /** Split the peeled filters into KEY-ONLY conjuncts (references ⊆
    * key set — functionally determined by the group, so they re-apply
    * VERBATIM on the rollup with the key attributes mapped; this is
    * also where Catalyst's inferred `isnotnull(key)` from join
    * constraints and q1/q6's folded predicate columns land) and the
    * REST (must match a recorded condition, or — for shape 1 — be
    * absent). Conjuncts are inlined through the Project substitutions
    * first. */
  private def splitKeyFilters(peeled: PeeledFact, keys: Set[String])
      : (Seq[Expression], Seq[Expression]) =
    peeled.filters.map(f => inline(f, peeled.subst)).partition { c =>
      val refs = c.references.toSeq
      refs.nonEmpty && refs.forall(a =>
        peeled.nameOf.get(a.exprId.id).exists(keys.contains))
    }

  /** Re-aggregate one matched AggregateExpression over its stored
    * partial for the COARSER-grain serve (shape 1b): sum → sum,
    * count → sum, min/max → themselves; a widened re-sum casts back to
    * the query's result type (bit-exact — the direct plan computes the
    * identical value in the narrower type). None = not decomposable
    * (distinct, filtered, or any other function) → the serve declines.
    * `global` marks an empty query grouping, where a re-summed count
    * over a filtered-empty rollup must coalesce to count's 0. */
  private def reaggregate(ae: AggregateExpression, stored: Attribute,
      global: Boolean): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Count, Max, Min, Sum}
    if (ae.isDistinct || ae.filter.isDefined) return None
    def fit(e: Expression): Expression =
      if (e.dataType == ae.dataType) e
      else Cast(e, ae.dataType, Some(conf.sessionLocalTimeZone))
    ae.aggregateFunction match {
      case _: Sum => Some(fit(Sum(stored).toAggregateExpression()))
      case _: Count =>
        val re = fit(Sum(stored).toAggregateExpression())
        Some(if (global) Coalesce(Seq(re, Literal(0L, LongType))) else re)
      case _: Min => Some(fit(Min(stored).toAggregateExpression()))
      case _: Max => Some(fit(Max(stored).toAggregateExpression()))
      case _ => None
    }
  }

  /** Serve `agg` from rollup `m` (shapes 1/1b of the contract, plus
    * the DISTINCT-over-filtered-fact variant of shape 2). */
  private def tryServe(agg: Aggregate, m: Meta): Option[LogicalPlan] = {
    val peeled = servedFact(agg.child, m).getOrElse(return None)
    val nameOf = peeled.nameOf
    val keySet = m.keys.toSet
    def keyNameOf(e: Expression): Option[String] = peeled.keyOf(e, keySet)
    def isKeyAttr(e: Expression): Boolean = keyNameOf(e).isDefined
    // grouping ALIASES (groupBy(col("k").as("x"))) bind new exprIds the
    // output references — they join the substitution map like Project
    // aliases do
    val subst = peeled.subst ++ agg.groupingExpressions.collect {
      case al: Alias => al.exprId.id -> al.child
    }
    val peeledG = peeled.copy(subst = subst)
    // every grouping expression must inline to A staged key column
    val groupings = agg.groupingExpressions.map(e => inline(stripAlias(e), subst))
    if (!groupings.forall(isKeyAttr)) return None
    val groupNames = groupings.flatMap(keyNameOf)

    val p = parsed(m)
    val (keyOnly, rest) = splitKeyFilters(peeledG, keySet)

    def applyKeyFilters(scan: LogicalPlan, byName: Map[String, Attribute]) =
      keyFiltered(scan, byName, keyOnly, peeled, keySet)

    if (rest.isEmpty) {
      // shapes 1/1b: match every AggregateExpression against a staged
      // measure. Key-only filters drop whole GROUPS (key columns are
      // constant per group), so re-applying them on the rollup's key
      // columns is exact.
      val (scan, byName) = scanOf(m).getOrElse(return None)
      if (!m.keys.forall(byName.contains)) return None
      val inlinedOut = agg.aggregateExpressions.map(ne => ne -> inline(ne, subst))
      val aes = inlinedOut.flatMap(_._2.collect { case ae: AggregateExpression => ae })
      val matchedCol: Map[AggregateExpression, Attribute] = aes.map { ae =>
        val col = normalize(ae, nameOf.get).flatMap(p.plain.get)
          .flatMap(n => byName.get(n.toLowerCase)).getOrElse(return None)
        ae -> col
      }.toMap
      // attributes OUTSIDE the aggregates must all be key columns (they
      // pass through the grouping)
      val underAgg = AttributeSet(aes.flatMap(_.references))
      val topAttrs = inlinedOut.flatMap(_._2.collect {
        case a: AttributeReference => a
      }).filterNot(underAgg.contains)
      if (!topAttrs.forall(isKeyAttr)) return None

      if (groupings.nonEmpty && groupNames.toSet == keySet) {
        // shape 1 — EXACT grain: each output group IS one rollup row;
        // stored FINAL values replace the aggregates wholesale.
        for ((ae, col) <- matchedCol) if (col.dataType != ae.dataType) return None
        val projList: Seq[NamedExpression] = inlinedOut.map { case (ne, e) =>
          // transformDOWN: each matched AggregateExpression is swapped
          // wholesale BEFORE its children could be rewritten from under
          // it (a bottom-up pass would rewrite key attrs inside the agg
          // first and break the equality match)
          val replaced = e.transformDown {
            case ae: AggregateExpression if matchedCol.contains(ae) => matchedCol(ae)
            case a: AttributeReference if isKeyAttr(a) => byName(nameOf(a.exprId.id))
          }
          replaced match {
            case al: Alias if al.exprId == ne.exprId => al
            case other => Alias(other, ne.name)(exprId = ne.exprId)
          }
        }
        Some(Project(projList, applyKeyFilters(scan, byName)))
      } else if (aes.nonEmpty) {
        // shape 1b — COARSER grain: the grouping is a proper subset of
        // the keys (possibly empty). Re-aggregate decomposable stored
        // partials; the Aggregate survives at |rollup| rows.
        val reagged: Map[AggregateExpression, Expression] = matchedCol.map {
          case (ae, col) =>
            ae -> reaggregate(ae, col, global = groupings.isEmpty)
              .getOrElse(return None)
        }
        val aggExprs: Seq[NamedExpression] = inlinedOut.map { case (ne, e) =>
          val replaced = e.transformDown {
            case ae: AggregateExpression if reagged.contains(ae) => reagged(ae)
            case a: AttributeReference if isKeyAttr(a) => byName(nameOf(a.exprId.id))
          }
          replaced match {
            case al: Alias if al.exprId == ne.exprId => al
            case other => Alias(other, ne.name)(exprId = ne.exprId)
          }
        }
        val rollupGroupings: Seq[Expression] =
          groupNames.distinct.map(byName)
        Some(Aggregate(rollupGroupings, aggExprs, applyKeyFilters(scan, byName)))
      } else None
    } else {
      // DISTINCT-over-filtered-fact (EagerAggregation's inserted
      // pre-aggregate, or a hand-written one): outputs cover the key
      // set exactly (else the projection would not be distinct) and
      // the REST filter set equals a staged condition → key-set serve.
      // This is how the rollup and EagerAggregation compose in either
      // firing order.
      val hasAgg = agg.aggregateExpressions.exists(_.exists(
        _.isInstanceOf[AggregateExpression]))
      if (hasAgg) return None
      val outs = agg.aggregateExpressions.map(ne => inline(stripAlias(ne), subst))
      if (!outs.forall(isKeyAttr)) return None
      if (outs.flatMap(keyNameOf).toSet != keySet) return None
      keySetScan(m, p, peeledG, rest).map { case (scan, byName) =>
        Project(agg.aggregateExpressions.map { ne =>
          val n = keyNameOf(inline(stripAlias(ne), subst)).get
          Alias(byName(n), ne.name)(exprId = ne.exprId)
        }, applyKeyFilters(scan, byName))
      }
    }
  }

  /** The fact leaf under `p` when it is `m`'s fact, read from the files
    * `m` was staged from (a drifted base declines with one warning). */
  private def servedFact(p: LogicalPlan, m: Meta): Option[PeeledFact] =
    peelFact(p).filter(pf => pf.path == m.factPath && Freshness.check(spark,
      s"${m.catalogTable}:${m.factPath}", m.fingerprint, pf.index))

  /** `scan` under the key-only conjuncts `keyOnly`, their key attributes
    * mapped onto the rollup's columns `byName`. */
  private def keyFiltered(scan: LogicalPlan, byName: Map[String, Attribute],
      keyOnly: Seq[Expression], peeled: PeeledFact, keys: Set[String]): LogicalPlan =
    if (keyOnly.isEmpty) scan
    else Filter(keyOnly.map(_.transform {
      case a: AttributeReference if peeled.keyOf(a, keys).isDefined =>
        byName(peeled.nameOf(a.exprId.id))
    }).reduce(And), scan)

  private def stripAlias(e: Expression): Expression = e match {
    case al: Alias => al.child
    case other => other
  }

  /** `Filter(count_if(f) > 0, rollup)` when the (inlined, key-only-
    * stripped) conjunct set `rest` matches a staged condition — the
    * qualifying KEY SET. */
  private def keySetScan(m: Meta, p: Parsed, peeled: PeeledFact, rest: Seq[Expression])
      : Option[(LogicalPlan, Map[String, Attribute])] = {
    if (rest.isEmpty) return None
    val norm = rest.map(cj => normalize(cj, peeled.nameOf.get))
    if (!norm.forall(_.isDefined)) return None
    val normSet = norm.flatten.toSet
    val condCol = p.conds.collectFirst {
      case (set, name) if set == normSet => name
    }.getOrElse(return None)
    val (scan, byName) = scanOf(m).getOrElse(return None)
    if (!m.keys.forall(byName.contains)) return None
    byName.get(condCol.toLowerCase).map(cnt =>
      (Filter(GreaterThan(cnt, Literal(0L, LongType)), scan), byName))
  }

  /** Shape 2: a semi/anti probe of the fact reduced to the rollup's
    * qualifying key set. Probe columns may be any SUBSET of a composite
    * key: the projected key set then carries duplicates, which
    * semi/anti join semantics tolerate (they only test existence). */
  private def trySemiServe(j: Join, m: Meta): Option[LogicalPlan] = {
    val cond = j.condition.getOrElse(return None)
    if (!cond.deterministic) return None
    val peeled = servedFact(j.right, m).getOrElse(return None)
    // every probe-side attribute the condition reads must be A key
    // column (at probe grain the key set is all the join consumes)
    val rightRefs = cond.references.toSeq.filter(j.right.outputSet.contains)
    if (rightRefs.isEmpty) return None
    val keySet = m.keys.toSet
    val refKey: Map[Attribute, String] = rightRefs.map(a =>
      a -> peeled.keyOf(inline(a, peeled.subst), keySet).getOrElse(return None)).toMap
    val p = parsed(m)
    val (keyOnly, rest) = splitKeyFilters(peeled, keySet)
    keySetScan(m, p, peeled, rest).map { case (scan, byName) =>
      // key-only probe filters (inferred isnotnull(key), user key
      // bounds) re-apply on the rollup keys — exact, keys survive
      // grouping verbatim
      val filtered = keyFiltered(scan, byName, keyOnly, peeled, keySet)
      // expose the original right-side exprIds the condition references;
      // the probe-side hint described the FLAT fact read and is dropped
      // (the rollup probes at key grain — let the planner pick the
      // co-located/broadcast shape)
      val aliases = rightRefs.map(a =>
        Alias(byName(refKey(a)), a.name)(exprId = a.exprId))
      Join(j.left, Project(aliases, filtered), j.joinType, j.condition,
        org.apache.spark.sql.catalyst.plans.logical.JoinHint(j.hint.leftHint, None))
    }
  }
}

