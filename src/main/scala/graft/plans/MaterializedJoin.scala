package graft.plans

import graft.sources.FileSchemas
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** MATERIALIZED JOIN PROJECTIONS — the pre-joined (denormalized) star
  * as a staged layout, served by an exact optimizer rewrite.
  *
  * The round-11 routed sweep's residual is one shape: fact⋈dim joins
  * whose non-broadcast side re-keys 30–120M rows per query (q3/q4/q5/
  * q8/q9/q10/q21 all pay the orders-side exchange; PERF.md). Bucketing
  * co-locates ONE key; a pre-joined projection removes the join
  * entirely — the write is the join, paid once. Because parquet is
  * columnar, a query over the wide table reads exactly the columns it
  * would have read from the base tables, minus both join keys' shuffle.
  *
  * Reference analog: the reference's own pipeline PRE-JOINS user
  * behavior onto samples at prep time (docs/tutorial/ranking/taobao/
  * data/prep_3_merge.py:41-48 — left join + fill, materialized before
  * training ever runs); here the same move is product: advise from the
  * corpus ([[LayoutAdvisor.adviseDenormalized]]), stage audited
  * ([[MaterializedJoins.stageDenorm]]), rewrite exactly
  * ([[RewriteMaterializedJoin]]).
  *
  * EXACTNESS CONTRACT. A registered table `D = fact ⋈ d1 ⋈ … ⋈ dn`
  * (inner equi-joins on recorded keys) replaces a query's inner-join
  * subtree when:
  *  - the subtree (flattened through inner joins, pure-column Projects
  *    and interleaved Filters — all equivalent to one big
  *    filter-over-cross-product for INNER joins) contains the fact leaf
  *    exactly once, reading the exact base path;
  *  - a subset S of D's dims is present, each connected to its recorded
  *    parent by exactly the recorded key equality (extra predicates
  *    between members are kept as filters over D — they commute);
  *  - every dim in D∖S is LOSSLESS — stage-time-audited unique key +
  *    total foreign key ([[MaterializedJoins.stageDenorm]]) — so
  *    joining it neither drops nor duplicates rows: D projected onto
  *    the S-columns IS fact⋈S, row for row;
  *  - every column the replaced leaves expose to the rest of the plan
  *    is carried by D.
  * The replacement subtree aliases D's columns back to the ORIGINAL
  * exprIds, so nothing above the join changes; leaf filters and
  * non-absorbed conjuncts are re-applied above the scan (pushdown
  * re-sinks them), and the remaining inputs re-join on their original
  * conditions. Any unplaceable condition or would-be cross join
  * declines the whole rewrite — the rule returns the plan untouched
  * rather than approximate.
  *
  * STORED CENTS THROUGH THE REWRITE. [[RewriteStoredCents]] runs at
  * post-hoc resolution and only sees base scans, so a denorm staged
  * with `<col>_cents` longs would never serve the money idioms above a
  * rewritten join. This rule therefore carries the stored cents
  * attributes through its alias projection and runs the same
  * shared-matcher idiom rewrite over the ancestors (scope-validated,
  * with a no-cents fallback) — one staged table serves both the join
  * removal and the decode removal.
  *
  * Scale: at 1000 executors the removed exchange is the win that
  * compounds — the fact table never crosses the network for the
  * covered join classes, and the denorm's bucket key keeps the
  * residual per-key aggregate co-located. The redundancy cost is
  * disk (dim columns repeat per fact row — RLE/dictionary encoding
  * absorbs most of it), paid once at stage time.
  */
object MaterializedJoins extends LayoutRegistry {

  /** One dim of a staged denorm: joined to `parentTable` (the fact or
    * an earlier dim) on `parentKey = dimKey`. `lossless` = stage-time
    * audit proved dimKey unique in the dim AND every parentKey value
    * present (see [[stageDenorm]]) — the precondition for serving
    * queries that do NOT join this dim. */
  case class DimMeta(table: String, path: String, parentTable: String,
      parentKey: String, dimKey: String, lossless: Boolean)

  /** A registered materialized join the rewrite may serve. `columns` =
    * lowercase base columns carried; `cents` = lowercase source columns
    * with a stored `<col>_cents` sibling; `finite` = the subset of
    * `cents` whose stage-time finiteness audit passed (the DECIMAL
    * idiom's precondition — [[RewriteStoredCents.FiniteProperty]]).
    * `fingerprints` = member path → [[Freshness]] fingerprint of that
    * base table AT STAGE TIME (the record's base lines). The rewrite
    * re-checks the members present in each query against the live
    * FileIndex and declines on drift; [[attachDenorm]] checks ALL
    * members (including dims the queries omit — their lossless audits
    * rot with the data). Empty map = unrecorded (hand-built test
    * metas) — unchecked by contract. */
  case class Meta(catalogTable: String, fact: String, factPath: String,
      dims: Seq[DimMeta], columns: Set[String], cents: Set[String],
      finite: Set[String], fingerprints: Map[String, String] = Map.empty)

  protected def tableOf(meta: Meta): String = meta.catalogTable
  protected val flag = "spark.graft.materializedJoin.enabled"

  /** The (comma-joined) root path of `df`'s single file scan — the
    * identity [[Meta.factPath]]/[[DimMeta.path]] match against. */
  def leafPath(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.optimizedPlan.collectFirst { case FileLeaf(_, _, path) => path }
      .getOrElse(sys.error("MaterializedJoins.leafPath: no file scan in plan"))

  /** The identity lines of a denorm's record: fact, bucketing,
    * carried columns, requested cents and the dim chain, in order. */
  private def identity(spec: LayoutAdvisor.DenormSpec): Seq[Seq[String]] = {
    val carried = spec.columns.map(_.toLowerCase)
    Seq(Seq("fact", spec.fact, spec.factPath),
      Seq("bucket", spec.bucketKey.getOrElse("-"), spec.buckets.toString),
      Seq("columns", carried.sorted.mkString(",")),
      Seq("cents", spec.centsCols.map(_.toLowerCase).filter(carried.contains).sorted
        .mkString(","))) ++
      spec.dims.map(d => Seq("dim", d.table, d.path, d.parentTable, d.parentKey, d.dimKey))
  }

  /** The [[Meta]] a denorm's record describes: the identity lines, the
    * `finite` and `lossless` audits and one fingerprint per member. */
  protected def metaOf(catalogTable: String, rec: Freshness.Record): Meta = {
    val fact = rec.one("fact", 2)
    val lossless = rec.list("lossless").toSet
    val finite = rec.list("finite").toSet
    Meta(catalogTable, fact(0), fact(1),
      rec.all("dim", 5).map(f => DimMeta(f(0), f(1), f(2), f(3), f(4), lossless(f(0)))),
      rec.list("columns").toSet, finite, finite, rec.bases.toMap)
  }

  /** Stage `spec` as bucketed catalog table `name`: run the inner
    * equi-join chain over the base paths, carry exactly the advised
    * columns plus stored `<col>_cents` for the advised money columns
    * ([[LayoutAdvisor.stageCents]] — the same declines and audit as
    * every cents stager), bucket+sort on the advised key,
    * and AUDIT each dim's losslessness:
    *  - unique: max per-key multiplicity of `dimKey` in the dim is 1;
    *  - total: zero parent rows whose `parentKey` misses the dim
    *    (an anti-join count — NULL foreign keys can never match, so
    *    they fail totality and correctly mark the dim lossy).
    * Both audits are one aggregate each over narrow columns. A lossy
    * dim stays usable for queries that join it themselves; only
    * subset rewrites need the proof. Returns the registered [[Meta]].
    *
    * The rewrite rule is DISABLED for the duration of the staging
    * write — the staging query is itself a fact⋈dims join and a
    * previously registered overlapping denorm must not serve it. */
  def stageDenorm(spark: SparkSession, spec: LayoutAdvisor.DenormSpec,
      name: String): Meta = withRuleOff(spark) {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    def read(path: String) = FileSchemas.read(spark, path.split(',').toIndexedSeq)
    val tables: Map[String, org.apache.spark.sql.DataFrame] =
      (Seq(spec.fact -> spec.factPath) ++ spec.dims.map(d => d.table -> d.path))
        .map { case (t, p) => t -> read(p) }.toMap
    // column-name disjointness: the rewrite maps attributes by NAME,
    // so a collision across members would be ambiguous — decline loudly
    val allCols = tables.toSeq.sortBy(_._1).flatMap { case (t, df) =>
      df.columns.map(c => c.toLowerCase -> t)
    }
    val dup = allCols.groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1)
    require(dup.isEmpty, s"stageDenorm($name): column name(s) " +
      s"${dup.keys.toSeq.sorted.mkString(", ")} appear in several member tables")

    // audits per dim (narrow scans, before the wide write)
    val audited = spec.dims.map { d =>
      val dim = tables(d.table)
      val parent = tables(d.parentTable)
      val unique = dim.groupBy(col(d.dimKey)).agg(count(lit(1)).as("n"))
        .agg(max(col("n")).as("m")).collect()(0) match {
        case r if r.isNullAt(0) => true // empty dim is vacuously unique
        case r => r.getLong(0) <= 1L
      }
      val total = parent.select(col(d.parentKey))
        .join(dim.select(col(d.dimKey)),
          col(d.parentKey) === col(d.dimKey), "left_anti")
        .limit(1).count() == 0L
      DimMeta(d.table, d.path, d.parentTable, d.parentKey, d.dimKey,
        lossless = unique && total)
    }

    val joined = spec.dims.foldLeft(tables(spec.fact)) { (acc, d) =>
      acc.join(tables(d.table), col(d.parentKey) === col(d.dimKey), "inner")
    }
    val carried = spec.columns.map(_.toLowerCase)
    val finite = LayoutAdvisor.stageCents(spark, name,
        joined.select(carried.map(col): _*),
        spec.centsCols.map(_.toLowerCase).filter(carried.contains)) { withCents =>
      spec.bucketKey match {
        case Some(k) =>
          graft.sources.TabularWriter.toBucketedTable(
            withCents, name, k, spec.buckets, sorted = true)
        case None => withCents.write.mode("overwrite").saveAsTable(name)
      }
    }
    // freshness: every member's base files AS STAGED — the audits and
    // the join itself are only valid for these bytes
    val meta = metaOf(name, Freshness.write(spark, name, identity(spec),
      Seq(Freshness.finite(finite),
        Seq("lossless", audited.filter(_.lossless).map(_.table).mkString(","))),
      (Seq(spec.fact -> spec.factPath) ++ spec.dims.map(d => d.table -> d.path))
        .map { case (t, p) => Freshness.base(p, tables(t)) }.distinct))
    register(spark, meta)
    meta
  }

  /** Fresh-JVM re-attach of already-staged denorm files at `path` as
    * catalog table `name` through [[Freshness.attach]]: the record must
    * prove the files were staged from the SAME spec — fact path, dim
    * chain, bucketing, carried columns and cents — from base files that
    * are still the bytes of EVERY member (an omitted dim's lossless
    * audit rots with its data too), or we re-stage rather than
    * silently serve a drifted projection. Returns the re-registered
    * [[Meta]]. */
  def attachDenorm(spark: SparkSession, spec: LayoutAdvisor.DenormSpec,
      name: String, path: String): Meta = {
    val meta = Freshness.attach(spark, name, path, identity(spec),
      spec.bucketKey.map(_ -> spec.buckets))(metaOf(name, _))
    register(spark, meta)
    meta
  }
}

/** The optimizer rule serving [[MaterializedJoins]] registrations. See
  * the companion's scaladoc for the exactness contract. Injected FIRST
  * among the engine's optimizer rules (before [[EagerAggregation]]) so
  * the join subtree is matched before any other rewrite reshapes it. */
case class RewriteMaterializedJoin(spark: SparkSession) extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val metas = MaterializedJoins.all(spark)
    if (metas.isEmpty || !MaterializedJoins.enabled(conf)) return plan
    // original source-attr exprId -> (stored cents attr, finite) across
    // every substitution this pass makes — consumed by the ancestors'
    // money-idiom rewrite below
    val centsMap = scala.collection.mutable.Map.empty[Long, (Attribute, Boolean)]
    var fired = false
    val substituted = plan.transformDown {
      case j @ Join(_, _, Inner, _, _) =>
        tryRewrite(j, metas, centsMap) match {
          case Some(n) => fired = true; n
          case None => j
        }
    }
    if (!fired) return plan
    rewriteAncestorCents(substituted, centsMap.toMap)
  }

  // ---------------------------------------------------------- matching

  /** Inner-join flattening: the subtree as (inputs, conjuncts), peeling
    * interleaved Filters and pure-column Projects (for INNER joins the
    * whole region is one filter-over-cross-product, so both commute;
    * widening an intermediate Project's output is safe — parents
    * reference by exprId and pruning re-narrows). Stops at anything
    * else: a non-inner join, an aggregate, a leaf. */
  private def hasJoinBelow(p: LogicalPlan): Boolean = p match {
    case Join(_, _, Inner, _, _) => true
    case f: Filter => hasJoinBelow(f.child)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[Attribute]) =>
      hasJoinBelow(pr.child)
    case _ => false
  }

  /** Flattened inputs carry their join-side hint ONLY when the side
    * flattens to that single input — `broadcast(dim)` must survive the
    * rewrite (or the re-joined dim could sort-merge and re-shuffle the
    * very scan the projection was staged to keep exchange-free), but a
    * hint spanning a MULTI-input side described a join the rewrite
    * absorbs and is obsolete: q5's `shuffle_hash` on its
    * orders⋈customer⋈nation side, re-attached to the rebuilt
    * denorm⋈customer join, forced a 120M-row exchange where an
    * unhinted plan broadcasts the customer slice. */
  private def flatten(p: LogicalPlan,
      inherited: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo] = None)
      : (Seq[(LogicalPlan, Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo])],
         Seq[Expression]) =
    p match {
      case Join(l, r, Inner, cond, hint) =>
        def side(child: LogicalPlan,
            h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]) = {
          val (ins, cs) = flatten(child, None)
          val hinted = if (ins.size == 1 && h.isDefined)
            Seq((ins.head._1, ins.head._2.orElse(h))) else ins
          (hinted, cs)
        }
        val (li, lc) = side(l, hint.leftHint.orElse(inherited))
        val (ri, rc) = side(r, hint.rightHint.orElse(inherited))
        (li ++ ri, lc ++ rc ++ cond.toSeq.flatMap(splitConjunctivePredicates))
      case f: Filter if hasJoinBelow(f.child) && f.condition.deterministic =>
        // non-deterministic conjuncts (rand(), input_file_name(), …) are
        // NOT absorbed: re-applying them above the denorm scan would
        // re-evaluate them at a different grain / over different files —
        // the same guard Catalyst's own PushPredicateThroughJoin applies.
        // A non-det Filter becomes a region BOUNDARY instead (the
        // subtree below it is simply not servable).
        val (i, c) = flatten(f.child, inherited)
        (i, c ++ splitConjunctivePredicates(f.condition))
      case pr: Project if pr.projectList.forall(_.isInstanceOf[Attribute]) &&
          hasJoinBelow(pr.child) =>
        flatten(pr.child, inherited)
      case other => (Seq((other, inherited)), Nil)
    }

  /** One flattened input, peeled: `path` is defined iff the input is a
    * chain of Filters / pure-column Projects over a single HadoopFs
    * leaf — the shape the rewrite can absorb. `outputs` = what the input exposes to the join
    * region; `filters` = its local predicates (re-applied over the
    * denorm); `filterRefs` = attributes those predicates read (they may
    * include columns the input's Project already dropped). */
  /** A semi/anti join peeled off a member input: like the leaf's
    * Filters, it is a ROW FILTER on the member's rows (EXISTS / NOT
    * EXISTS decided per row by the row's own columns against an
    * independent probe subtree), so it commutes with the region's inner
    * joins and re-applies exactly above the denorm scan — at fact grain
    * instead of member grain, same predicate per row (q8's ASIA
    * membership semi-chain on orders, q21's self semi/anti on the order
    * key). The probe subtree is kept verbatim. */
  private case class SemiWrapper(probe: LogicalPlan,
      joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      cond: Option[Expression], hint: JoinHint)

  private case class Peeled(input: LogicalPlan, path: Option[String],
      outputs: Seq[Attribute], filters: Seq[Expression],
      wrappers: Seq[SemiWrapper], filterRefs: Seq[Attribute],
      leafByName: Map[String, Attribute],
      hint: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo],
      leafIndex: Option[org.apache.spark.sql.execution.datasources.FileIndex] = None)

  private def peel(input: LogicalPlan,
      hint: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo]): Peeled = {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    def walk(p: LogicalPlan, filters: Seq[Expression], wrappers: Seq[SemiWrapper])
        : Option[(LogicalRelation, Seq[Expression], Seq[SemiWrapper])] = p match {
      case FileLeaf(lr, _, _) => Some((lr, filters, wrappers))
      case f: Filter if f.condition.deterministic =>
        // non-det leaf filters (rand() sampling, input_file_name())
        // must evaluate once per MEMBER row over the member's files;
        // re-applying them at fact grain over denorm files silently
        // changes results — decline the peel (the mirror of
        // PushPredicateThroughJoin's deterministic guard)
        walk(f.child, filters ++ splitConjunctivePredicates(f.condition), wrappers)
      case pr: Project if pr.projectList.forall(_.isInstanceOf[Attribute]) =>
        walk(pr.child, filters, wrappers)
      case jn @ Join(x, probe, LeftSemi | LeftAnti, cond, h)
          if cond.forall(_.deterministic) =>
        // outer-to-inner traversal; keep original order for re-apply
        walk(x, filters, SemiWrapper(probe, jn.joinType, cond, h) +: wrappers)
      case _ => None
    }
    walk(input, Nil, Nil) match {
      case Some((lr @ FileLeaf(_, fs, path), filters, wrappers)) =>
        val leafOut = lr.outputSet
        // wrapper conditions read member columns too — they must be
        // carried and aliased like the plain filters' references
        val wrapperRefs = wrappers.flatMap(_.cond.toSeq.flatMap(_.references))
          .filter(leafOut.contains)
        Peeled(input, Some(path), input.output,
          filters, wrappers,
          (filters.flatMap(_.references) ++ wrapperRefs).distinct,
          lr.output.map(a => a.name.toLowerCase -> a).toMap, hint,
          Some(fs.location))
      case _ => Peeled(input, None, input.output, Nil, Nil, Nil, Map.empty, hint)
    }
  }

  /** Attempt to serve the flattened join region from one registered
    * meta; metas are tried best-coverage-first. */
  private def tryRewrite(j: Join, metas: Seq[MaterializedJoins.Meta],
      centsMap: scala.collection.mutable.Map[Long, (Attribute, Boolean)])
      : Option[LogicalPlan] = {
    val (inputs, conds) = flatten(j)
    if (inputs.size < 2) return None
    // join conditions are re-applied at fact grain / re-bound onto the
    // rebuilt joins — a non-deterministic conjunct would re-evaluate
    // differently (same doctrine as the Filter guards in flatten/peel)
    if (conds.exists(!_.deterministic)) return None
    val peeled = inputs.map { case (in, h) => peel(in, h) }
    // candidate metas whose fact path appears EXACTLY once (a self-join
    // of the fact is ambiguous — decline)
    val candidates = metas.flatMap { m =>
      peeled.zipWithIndex.filter(_._1.path.contains(m.factPath)) match {
        case Seq((_, i)) => Some((m, i))
        case _ => None
      }
    }
    candidates
      .map { case (m, fi) => (m, fi, connectedDims(m, fi, peeled, conds)) }
      .filter { case (m, _, inc) =>
        inc.nonEmpty &&
          // every OMITTED dim must be lossless for the subset rewrite
          m.dims.forall(d => inc.exists(_._1.table == d.table) || d.lossless)
      }
      .sortBy { case (m, _, inc) => (-inc.size, m.catalogTable) }
      .view
      .flatMap { case (m, fi, inc) =>
        rebuild(m, fi, inc, peeled, conds, centsMap)
      }
      .headOption
  }

  /** The dims of `m` present in the region and connected to their
    * recorded parent by the recorded key equality: (dim, inputIdx,
    * absorbed condition). Processed in meta order so parents resolve
    * before children. A dim whose path appears twice is ambiguous and
    * treated as omitted. */
  private def connectedDims(m: MaterializedJoins.Meta, factIdx: Int,
      peeled: Seq[Peeled], conds: Seq[Expression])
      : Seq[(MaterializedJoins.DimMeta, Int, Expression)] = {
    // (table -> input index) of already-included members
    val included = scala.collection.mutable.Map[String, Int](m.fact -> factIdx)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(MaterializedJoins.DimMeta, Int, Expression)]
    m.dims.foreach { d =>
      val dimIdxs = peeled.zipWithIndex.filter(_._1.path.contains(d.path)).map(_._2)
      (dimIdxs, included.get(d.parentTable)) match {
        case (Seq(di), Some(pi)) =>
          val pLeaf = peeled(pi).leafByName
          val dLeaf = peeled(di).leafByName
          val cond = conds.collectFirst {
            case eq @ EqualTo(a: AttributeReference, b: AttributeReference)
                if (pLeaf.get(d.parentKey.toLowerCase).exists(_.exprId == a.exprId) &&
                     dLeaf.get(d.dimKey.toLowerCase).exists(_.exprId == b.exprId)) ||
                   (pLeaf.get(d.parentKey.toLowerCase).exists(_.exprId == b.exprId) &&
                     dLeaf.get(d.dimKey.toLowerCase).exists(_.exprId == a.exprId)) => eq
          }
          cond.foreach { c => included(d.table) = di; out += ((d, di, c)) }
        case _ =>
      }
    }
    out.toSeq
  }

  // -------------------------------------------------------- rebuilding

  private def rebuild(m: MaterializedJoins.Meta, factIdx: Int,
      inc: Seq[(MaterializedJoins.DimMeta, Int, Expression)],
      peeled: Seq[Peeled], conds: Seq[Expression],
      centsMap: scala.collection.mutable.Map[Long, (Attribute, Boolean)])
      : Option[LogicalPlan] = {
    if (!spark.catalog.tableExists(m.catalogTable)) return None
    val replacedIdx = (factIdx +: inc.map(_._2)).toSet
    val replaced = replacedIdx.toSeq.sorted.map(peeled)
    // FRESHNESS: the members this query reads must still be the bytes
    // the layout was staged from (the leaf's own FileIndex is in hand —
    // no extra filesystem call); drift declines loudly, once per table
    if (!replaced.forall(p => (p.path, p.leafIndex) match {
      case (Some(path), Some(idx)) => Freshness.check(spark,
        s"${m.catalogTable}:$path", m.fingerprints.getOrElse(path, ""), idx)
      case _ => true
    })) return None
    // attributes the replaced leaves expose: join-visible outputs plus
    // local-filter references (a Filter below a pruning Project can
    // read columns the Project drops)
    val exposed = replaced.flatMap(p => p.outputs ++ p.filterRefs)
      .groupBy(_.exprId).map(_._2.head).toSeq
    if (!exposed.forall(a => m.columns.contains(a.name.toLowerCase))) return None
    // name-ambiguity guard (stage() validates member disjointness; a
    // query could still alias two leaves onto one name via self-reads)
    if (exposed.map(_.name.toLowerCase).distinct.size != exposed.size) return None

    val scan = EliminateSubqueryAliases(
      spark.table(m.catalogTable).queryExecution.analyzed)
    val byName = scan.output.map(a => a.name.toLowerCase -> a).toMap
    if (!exposed.forall(a => byName.contains(a.name.toLowerCase))) return None

    val absorbed = inc.map(_._3).toSet
    val replacedOut = AttributeSet(exposed)
    // remaining conjuncts: over-the-region filters stay above the scan;
    // cross conditions go back onto the rebuilt joins
    val (regionConds, crossConds) = conds.filterNot(absorbed.contains)
      .partition(_.references.subsetOf(replacedOut))

    val aliases: Seq[NamedExpression] = exposed.map(a =>
      Alias(byName(a.name.toLowerCase), a.name)(exprId = a.exprId))
    // carry the stored cents siblings of exposed money columns through,
    // under their own exprIds, for the ancestors' idiom rewrite
    val centsThrough: Seq[NamedExpression] = exposed.flatMap { a =>
      val n = a.name.toLowerCase
      if (m.cents.contains(n)) byName.get(n + "_cents").map { c =>
        centsMap(a.exprId.id) = (c, m.finite.contains(n)); c
      } else None
    }
    var node: LogicalPlan = Project(aliases ++ centsThrough, scan)
    val localFilters = replaced.flatMap(_.filters) ++ regionConds
    if (localFilters.nonEmpty) node = Filter(localFilters.reduce(And), node)
    // the members' semi/anti wrappers re-apply above the scan — same
    // per-row predicate at fact grain (see SemiWrapper). Only the
    // PROBE-side hint survives: the left hint described the member
    // subtree (often small enough to broadcast), not the wide scan
    replaced.foreach(_.wrappers.foreach { w =>
      node = Join(node, w.probe, w.joinType, w.cond, JoinHint(None, w.hint.rightHint))
    })

    // re-join the remaining inputs left-deep in original order; every
    // step must bind at least one condition (no cross joins) and every
    // condition must eventually bind
    val remaining = peeled.zipWithIndex.filterNot(p => replacedIdx(p._2)).map(_._1)
    var pending = crossConds
    var tree = node
    for (r <- remaining) {
      val outs = AttributeSet(tree.output ++ r.input.output)
      val (now, later) = pending.partition(_.references.subsetOf(outs))
      if (now.isEmpty) return None
      tree = Join(tree, r.input, Inner, Some(now.reduce(And)),
        JoinHint(None, r.hint)) // the input's original side hint survives
      pending = later
    }
    if (pending.nonEmpty) return None
    Some(tree)
  }

  // ------------------------------------------- ancestors' money idioms

  /** Rewrite `cast(round(x*100) as bigint)` / `cast(x as decimal(p,2))`
    * over substituted source attributes to the carried stored-cents
    * attributes through [[RewriteStoredCents.rewriteMoney]], the rule's
    * own rewrite (the rule runs at post-hoc resolution and never sees
    * this plan shape), tracking which cents attributes it used.
    * Pure-column pruning Projects between the new scan and the
    * idiom are widened to forward the cents attribute; if any usage
    * still fails to resolve (an unexpected blocker), the whole cents
    * pass is abandoned and the join substitution alone is kept. */
  private def rewriteAncestorCents(plan: LogicalPlan,
      centsMap: Map[Long, (Attribute, Boolean)]): LogicalPlan = {
    if (centsMap.isEmpty) return plan
    val used = scala.collection.mutable.Set.empty[Attribute]
    val rewritten = RewriteStoredCents.rewriteMoney(plan, centsMap) { (_, cents) =>
      used += cents
      true
    }
    if (used.isEmpty) return plan
    val widened = rewritten.transformUp {
      // ANY Project may be widened — appending an attribute its child
      // already outputs is always safe (parents bind by exprId and the
      // later pruning pass re-narrows). Round-12 fix: the pure-attr
      // restriction made every computed-grouping query (q9/q7's
      // year(o_orderdate) — PullOutGroupingExpressions inserts a
      // computed Project below the Aggregate) silently revert the whole
      // cents pass and decode raw doubles at fact grain.
      case p: Project =>
        val add = used.toSeq.sortBy(_.exprId.id)
          .filter(a => !p.outputSet.contains(a) && p.child.outputSet.contains(a))
        if (add.isEmpty) p else p.copy(projectList = p.projectList ++ add)
    }
    val usedIds = used.map(_.exprId).toSet
    val broken = widened.collectFirst {
      case n if n.missingInput.exists(a => usedIds.contains(a.exprId)) => n
    }
    if (broken.nonEmpty) plan else widened
  }
}
