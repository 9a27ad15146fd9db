package graft

import graft.plans.{LayoutAdvisor, MaterializedAggs, MaterializedJoins}
import org.apache.spark.sql.SparkSession

/** The advisor END-TO-END relational sweep (round-10): feed the FULL
  * 17-query q* suite to LayoutAdvisor as its corpus, stage exactly what
  * it advises, redirect the engine's table resolution at the staged
  * layouts (Tables.redirect — zero query changes), and run all 17 over
  * them. This replaces the per-shape hand-staged layouts (PERF.md
  * "Round-8: layout experiments" and "Round-9: the sorted co-located
  * layout") with the product path a user would actually run:
  * advise(corpus) → stage → query.
  *
  * Staging is one-time: a fresh JVM re-ATTACHES the already-written
  * bucketed files as external tables (TabularWriter.attach — the
  * local-mode stand-in for a persistent metastore), so
  * process-interleaved protocol runs (fresh JVM per rep) don't re-pay
  * the layout write.
  *
  * Usage: runMain graft.ProbeAdvisorSweep [dataDir] [reps] [mode] [names]
  * A mode is a layout setup × an action ([[Modes]]); unknown modes and
  * names and `reps < 1` fail before Spark starts.
  */
object ProbeAdvisorSweep {

  /** One sweep invocation's arguments and session. */
  private[graft] final case class Run(spark: SparkSession, d: String, mode: String,
      names: Seq[String], reps: Int)

  /** A staged layout under test. `routes(n)` computes query `n`'s
    * redirects on its flat plan; `metas`/`rollups` are the materialized
    * tables registered for the whole run, which the flat control steps
    * out of. */
  private[graft] final case class Setup(spark: SparkSession, d: String,
      routes: String => Map[String, String],
      metas: Seq[MaterializedJoins.Meta] = Nil,
      rollups: Seq[MaterializedAggs.Meta] = Nil) {
    def routeAll(names: Seq[String]): Map[String, Map[String, String]] =
      names.map { n => Tables.clearRedirects(spark); n -> routes(n) }.toMap

    def serve(redirects: Map[String, String]): Unit = {
      Tables.clearRedirects(spark)
      redirects.foreach { case (t, ct) => Tables.redirect(spark, d, t, ct) }
    }

    /** No redirects and nothing of this setup registered. */
    def release(): Unit = {
      Tables.clearRedirects(spark)
      metas.foreach(m => MaterializedJoins.deregister(spark, m.catalogTable))
      rollups.foreach(m => MaterializedAggs.deregister(spark, m.catalogTable))
    }

    /** `body` over the flat tables, then re-register. */
    def flat[A](body: => A): A = {
      release()
      try body finally {
        metas.foreach(MaterializedJoins.register(spark, _))
        rollups.foreach(MaterializedAggs.register(spark, _))
      }
    }
  }

  /** `flat`: nothing staged (the A/B control in the same harness). */
  private def flatLayout(r: Run): Setup = Setup(r.spark, r.d, _ => Map.empty)

  /** `advised`: [[ensureAdvised]]'s redirects, the same for every query. */
  private def advisedLayout(r: Run): Setup = {
    val redirects = ensureAdvised(r.spark, r.d).toMap
    Setup(r.spark, r.d, _ => redirects)
  }

  /** `routed`: one projection per hot key staged; each query's
    * redirects come from ITS OWN flat plan (LayoutAdvisor.routeAll). */
  private def routedLayout(r: Run): Setup = {
    val staged = ensureProjections(r.spark, r.d)
    Setup(r.spark, r.d, { n =>
      val routes = LayoutAdvisor.routeAll(SparkEntry.queries(n)(r.spark, r.d), staged)
      println(s"[route] $n -> ${routes.map { case (t, c) => s"$t=$c" }.mkString(" ")}")
      routes
    })
  }

  /** `denorm`: BOTH materialized registries are live for the whole run
    * (RewriteMaterializedJoin serves the join regions,
    * RewriteMaterializedAgg the aggregate-form and key-set shapes), and
    * projection routing covers the rest ([[denormAwareRoutes]]). */
  private def denormLayout(r: Run): Setup = {
    val staged = ensureProjections(r.spark, r.d)
    val metas = ensureDenorm(r.spark, r.d)
    val rollups = ensureRollups(r.spark, r.d)
    Setup(r.spark, r.d, denormAwareRoutes(r.spark, r.d, _, staged, metas, rollups), metas, rollups)
  }

  /** Time every query over the setup (the [[BenchBig]] loop); print one
    * BenchBig-shaped `advisor_sweep` line. */
  private def time(r: Run, s: Setup): Unit = println(
    s"""{"metric":"advisor_sweep","mode":${JsonOut.q(r.mode)},""" +
      s""""queries":${BenchBig.json(timed(r, s, r.reps))},"sf":${JsonOut.q(r.d)}}""")

  private def timed(r: Run, s: Setup, reps: Int): Seq[(String, Double)] = {
    val routes = s.routeAll(r.names)
    BenchBig.bestOf(r.names, reps) { n =>
      s.serve(routes(n))
      BenchBig.timeReduced(r.spark)(SparkEntry.queries(n)(r.spark, r.d))
    }
  }

  /** Run every query BOTH ways and require row-identical results (the
    * rel suite is integer-exact by construction, so exact equality is
    * the contract, not a tolerance). Throws when any query differs. */
  private def check(r: Run, s: Setup): Unit = {
    def rows(n: String): Seq[String] =
      SparkEntry.queries(n)(r.spark, r.d).collect().map(_.toString).sorted.toSeq
    val routes = s.routeAll(r.names)
    val bad = r.names.count { n =>
      s.serve(routes(n))
      val served = rows(n)
      val flat = s.flat(rows(n))
      println(s"[check] $n: ${if (served == flat) "IDENTICAL"
        else s"MISMATCH (${served.size} vs ${flat.size} rows)"}")
      served != flat
    }
    println(s"""{"metric":"advisor_check","bad":$bad,"n":${r.names.size}}""")
    if (bad > 0) throw new IllegalStateException(
      s"$bad of ${r.names.size} queries differ from the flat tables")
  }

  /** Plan audit over the setup (e.g. q8: every dim must BROADCAST onto
    * the bucketed fact join — a dim that sort-merges would re-shuffle
    * the fact side and void the layout). */
  private def explain(r: Run, s: Setup): Unit = {
    val routes = s.routeAll(r.names)
    r.names.foreach { n =>
      s.serve(routes(n))
      println(s"===== $n (${r.mode}) =====")
      SparkEntry.queries(n)(r.spark, r.d).explain("formatted")
    }
  }

  /** SAME-STATE A/B: the setup WITH its aggregate rollups registered vs
    * WITHOUT (routes recomputed, everything else identical, same session,
    * same page cache) — the honest decomposition of what the rollups
    * alone buy. */
  private def rollupAb(r: Run, s: Setup): Unit = {
    val reps = math.max(r.reps, 2)
    val on = timed(r, s, reps).toMap
    s.rollups.foreach(m => MaterializedAggs.deregister(r.spark, m.catalogTable))
    val off = try timed(r, s, reps).toMap
      finally s.rollups.foreach(MaterializedAggs.register(r.spark, _))
    val qs = r.names.map(n => JsonOut.q(n) +
      s""":{"on":${on(n)},"off":${off(n)}}""").mkString("{", ",", "}")
    println(s"""{"metric":"rollup_ab","queries":$qs,"sf":${JsonOut.q(r.d)}}""")
  }

  /** Every mode: a layout setup and the action run over it.
    *  - `flat`, `layout`, `routed`, `denorm`: time each setup;
    *  - `check`, `routedcheck`, `denormcheck`: rows vs the flat tables;
    *  - `explain`, `denormexplain`: print each query's formatted plan;
    *  - `rollupab`: time `denorm` with its rollups on, then off. */
  private[graft] val Modes: Map[String, (Run => Setup, (Run, Setup) => Unit)] = Map(
    "flat" -> (flatLayout _, time _),
    "layout" -> (advisedLayout _, time _),
    "routed" -> (routedLayout _, time _),
    "denorm" -> (denormLayout _, time _),
    "check" -> (advisedLayout _, check _),
    "routedcheck" -> (routedLayout _, check _),
    "denormcheck" -> (denormLayout _, check _),
    "explain" -> (advisedLayout _, explain _),
    "denormexplain" -> (denormLayout _, explain _),
    "rollupab" -> (denormLayout _, rollupAb _))

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("benchdata/x200")
    val reps = if (args.length > 1) args(1).toInt else 1
    val mode = if (args.length > 2) args(2) else "layout"
    val names = if (args.length > 3) SparkEntry.parseNames(args(3)) else BenchBig.Rel
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val (layout, action) = Modes.getOrElse(mode, throw new IllegalArgumentException(
      s"unknown mode $mode (one of ${Modes.keys.toSeq.sorted.mkString(", ")})"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // stopping the context also ends every registration and redirect
    try {
      val r = Run(spark, d, mode, names, reps)
      action(r, layout(r))
    } finally spark.stop()
  }

  /** This query's redirects under the denorm+routing composition: the
    * registry is live, so the plan ALREADY shows which tables the
    * materialized join absorbed — route only what still reads flat.
    * Member tables of a FIRED meta are excluded from routing entirely
    * (their remaining flat reads, e.g. q21's self-join branches, must
    * keep the base path the meta records). */
  def denormAwareRoutes(spark: org.apache.spark.sql.SparkSession, d: String,
      n: String, staged: Seq[graft.plans.LayoutAdvisor.Projection],
      metas: Seq[graft.plans.MaterializedJoins.Meta],
      rollups: Seq[graft.plans.MaterializedAggs.Meta] = Nil): Map[String, String] = {
    val df = SparkEntry.queries(n)(spark, d)
    val firedMetas = metas.filter(m => graft.plans.MaterializedJoins.fired(df, m.catalogTable))
    val firedRollups = rollups.filter(m => graft.plans.MaterializedAggs.fired(df, m.catalogTable))
    // members of a FIRED rewrite keep their flat base paths: redirecting
    // them would point the leaf at a projection and void the match on
    // the next (per-execution) optimization
    val members = firedMetas.flatMap(m => m.fact +: m.dims.map(_.table)).toSet ++
      firedRollups.map(_.fact)
    val routes = graft.plans.LayoutAdvisor.routeAll(df, staged)
      .filterNot { case (t, _) => members(t) }
    println(s"[route] $n denorm=${firedMetas.map(_.catalogTable).mkString(",")} " +
      s"rollup=${firedRollups.map(_.catalogTable).mkString(",")} " +
      s"routes=${routes.map { case (t, c) => s"$t=$c" }.mkString(" ")}")
    routes
  }

  /** Advise, stage (or fresh-JVM re-attach) and REGISTER the corpus's
    * materialized-join projections. Registration stays live in this
    * Spark context — this is the product mode where
    * [[graft.plans.RewriteMaterializedJoin]] serves every query whose
    * join subtree the staged star subsumes. */
  def ensureDenorm(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.MaterializedJoins.Meta] = {
    Tables.clearRedirects(spark)
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseDenormalized(corpus,
      targetBucketBytes = 64L << 20, minHits = 2)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    specs.map { spec =>
      val t = s"adv_denorm_${spec.fact}$tag"
      println(s"[advise] denorm ${spec.fact} + ${spec.dims.map(_.table).mkString("+")} " +
        s"bucket=${spec.bucketKey.getOrElse("-")}/${spec.buckets} " +
        s"cols=${spec.columns.size} cents=${spec.centsCols.mkString(",")} hits=${spec.hits}")
      stageOrAttach(spark, t, graft.plans.MaterializedJoins.all(spark).find(_.catalogTable == t))(
        graft.plans.MaterializedJoins.attachDenorm(spark, spec, t, _)) {
        val m = graft.plans.MaterializedJoins.stageDenorm(spark, spec, t)
        println(s"[advise] $t lossless=${m.dims.map(dd => s"${dd.table}:${dd.lossless}").mkString(",")}")
        m
      }
    }
  }

  /** Advise, stage (or fresh-JVM re-attach) and REGISTER the corpus's
    * materialized AGGREGATE rollups (round-12): per-orderkey and
    * per-partkey reductions of the fact that serve the aggregate-form
    * residual class (q18/q21's per-order multi-aggregate, q17's
    * per-part average, q4's EXISTS as a key-set filter at order
    * grain). minHits=1: a rollup write is one aggregate over the fact
    * — the same work ONE covered query pays per run — so even a
    * single-query key amortizes immediately. */
  def ensureRollups(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.MaterializedAggs.Meta] = {
    Tables.clearRedirects(spark)
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseAggRollups(corpus,
      targetBucketBytes = 64L << 20, minHits = 1)
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    specs.map { spec =>
      val t = s"adv_rollup_${spec.fact}_${spec.keys.mkString("_")}$tag"
      println(s"[advise] rollup ${spec.fact}.(${spec.keys.mkString(",")}) buckets=${spec.buckets} " +
        s"hits=${spec.hits} measures=${spec.measures.map(_.name).mkString(",")}")
      stageOrAttach(spark, t, graft.plans.MaterializedAggs.all(spark).find(_.catalogTable == t))(
        graft.plans.MaterializedAggs.attachRollup(spark, spec, t, _))(
        graft.plans.MaterializedAggs.stageRollup(spark, spec, t))
    }
  }

  /** Advise over the 17-query corpus (flat reads), stage or re-attach
    * every advised layout, and install the redirects. 64 MB bucket
    * target ≈ 32 buckets on the x200 lineitem — one bucket per core in
    * the local harness, the same per-task sizing rule a cluster run
    * would apply with a bigger constant. minHits=2: a single-query key
    * does not pay for a whole-table rewrite. */
  def ensureAdvised(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[(String, String)] = {
    Tables.clearRedirects(spark)
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.advise(corpus,
      targetBucketBytes = 64L << 20, minHits = 2)
    // the COMPOSITION: the advised bucketed tables also carry stored
    // cents for every money column the corpus rounds (the decode
    // constant and the exchanges fall out of the same one-time write)
    val derived = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
      .map(ds => ds.table -> ds.sourceCols).toMap
    specs.foreach(s => println(
      s"[advise] ${s.table} key=${s.key} buckets=${s.buckets} hits=${s.hits} " +
        s"cols=${s.columns.size} cents=${derived.getOrElse(s.table, Nil).mkString(",")}"))
    // dir-tagged names (GateFixtures discipline): the same JVM-spanning
    // warehouse serves several data dirs — an untagged name would
    // silently serve sf0.1's staging to an x200 run
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    specs.map { spec =>
      val t = s"adv_sweep_${spec.table}$tag"
      val cents = derived.getOrElse(spec.table, Nil).filter(spec.columns.contains)
      ensureBucketed(spark, spec, cents, t)
      Tables.redirect(spark, d, spec.table, t)
      spec.table -> t
    }
  }

  /** Stage (or re-attach, [[graft.plans.LayoutAdvisor.attach]]) `spec`
    * as catalog table `t`, composing stored cents. */
  private def ensureBucketed(spark: org.apache.spark.sql.SparkSession,
      spec: graft.plans.LayoutAdvisor.LayoutSpec, cents: Seq[String], t: String): Unit =
    if (!spark.catalog.tableExists(t)) {
      // stats as product: measure (rowCount, NDV per advised column) of
      // the base table once — EagerAggregation's unique-key declines and
      // the advisor's equality selectivity then come from MEASUREMENT on
      // both the flat path and (via the alias) the staged catalog table
      val stats = graft.plans.TableStats.analyzePathIfMissing(
        spark, spec.path, spec.key +: spec.columns)
      graft.plans.TableStats.alias(spark, stats, t)
      println(s"[stats] ${spec.table}: rows=${stats.rowCount} " +
        stats.ndv.toSeq.sortBy(_._1).map { case (c, n) => s"$c=$n" }.mkString(" "))
      stageOrAttach(spark, t, None)(
        graft.plans.LayoutAdvisor.attach(spark, spec, cents, t, _))(
        graft.plans.LayoutAdvisor.stageWithDerived(spark, spec, cents, t))
    }

  /** One projection per ACCESS PATTERN per table: the bucketed hot-key
    * projections (adviseProjections, perTable=2, cents composed) PLUS
    * one derived-cents CLUSTERED projection per adviseDerivedCents
    * table — the heterogeneous candidate set
    * [[graft.plans.LayoutAdvisor.routeAll]] picks among per query
    * (round-10's router scored bucketed specs only, so the
    * decode-constant class q6/q14/q15 never reached its proven
    * shipdate-clustered cents answer). No redirects installed here:
    * routing is per-query by construction. */
  def ensureProjections(spark: org.apache.spark.sql.SparkSession, d: String)
      : Seq[graft.plans.LayoutAdvisor.Projection] = {
    Tables.clearRedirects(spark)
    val corpus = BenchBig.Rel.map(n => SparkEntry.queries(n)(spark, d))
    val specs = graft.plans.LayoutAdvisor.adviseProjections(corpus,
      perTable = 2, targetBucketBytes = 64L << 20, minHits = 2)
    val derivedSpecs = graft.plans.LayoutAdvisor.adviseDerivedCents(corpus)
    val derived = derivedSpecs.map(ds => ds.table -> ds.sourceCols).toMap
    val tag = d.replaceAll("[^A-Za-z0-9]", "_")
    val bucketed = specs.map { spec =>
      val t = s"adv_proj_${spec.table}_${spec.key}$tag"
      println(s"[advise] projection ${spec.table}.${spec.key} buckets=${spec.buckets} " +
        s"hits=${spec.hits} cols=${spec.columns.size}")
      val cents = derived.getOrElse(spec.table, Nil).filter(spec.columns.contains)
      ensureBucketed(spark, spec, cents, t)
      graft.plans.LayoutAdvisor.Projection.bucketed(spec, t, cents)
    }
    val clustered = derivedSpecs.map { ds =>
      val t = s"adv_cents_${ds.table}$tag"
      println(s"[advise] cents projection ${ds.table} sort=${ds.sortCol.getOrElse("-")} " +
        s"cols=${ds.sourceCols.mkString(",")} hits=${ds.hits}")
      stageOrAttach(spark, t, Option.when(spark.catalog.tableExists(t))(()))(
        graft.plans.LayoutAdvisor.attachDerived(spark, ds, t, _))(
        graft.plans.LayoutAdvisor.stageDerived(spark, ds, t))
      graft.plans.LayoutAdvisor.Projection.derived(ds, t)
    }
    bucketed ++ clustered
  }

  /** The one attach-or-restage path every staged layout kind shares.
    * A layout already `present` in this session is returned as is.
    * Otherwise, when a previous JVM's staging is on disk at `t`'s
    * warehouse location (the in-memory catalog forgot it, the files
    * live on), `attach` re-registers it — every kind's attach is
    * [[graft.plans.Freshness.attach]], which checks the layout record
    * against THIS session's advice and base data and throws
    * IllegalArgumentException on any mismatch (a drifted advice, a base
    * that grew, no record or a malformed line); the refusal's whole
    * message is printed. Everything else clears the stale table and
    * location and stages from scratch: re-staging is the one recovery. */
  private def stageOrAttach[A](spark: org.apache.spark.sql.SparkSession, t: String,
      present: => Option[A])(attach: String => A)(stage: => A): A = present.getOrElse {
    val loc = graft.sources.GraftFiles.locationOf(spark, t)
    val t0 = System.nanoTime()
    def secs = (System.nanoTime() - t0) / 1e9
    val attached =
      if (!spark.catalog.tableExists(t) && graft.sources.GraftFiles.exists(spark,
          new org.apache.hadoop.fs.Path(loc, "_SUCCESS"))) {
        try {
          val a = attach(loc.toString)
          println(f"[advise] attached $t ($secs%.1f s)")
          Some(a)
        } catch {
          case e: IllegalArgumentException =>
            println(s"[advise] $t not attached: ${e.getMessage}")
            None
        }
      } else None
    attached.getOrElse {
      graft.sources.TabularWriter.clearStale(spark, t)
      val a = stage
      println(f"[advise] staged $t (one-time write, $secs%.1f s)")
      a
    }
  }
}
