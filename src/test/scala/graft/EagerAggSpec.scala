package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.plans.EagerAggregation]]: partial aggregates pushed below
  * joins and distinct below semi/anti builds — every test compares the
  * rewritten result against the same query with the rule disabled, so
  * the rewrite's exactness (not just its firing) is what's pinned. */
class EagerAggSpec extends GraftSpec {
  import graft.plans.EagerAggregation

  private val FLAG = "spark.graft.eagerAggregation.enabled"

  private def withRuleOff[T](f: => T): T = {
    spark.conf.set(FLAG, "false")
    try f finally spark.conf.set(FLAG, "true")
  }

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** true iff an Aggregate node sits strictly BELOW a Join. */
  private def aggBelowJoin(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.right.collectFirst {
          case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
        }.getOrElse(false)
    }.exists(identity)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq.toIndexedSeq).toIndexedSeq
      .sortBy(_.mkString(""))

  private def sameOnOff(build: => DataFrame): Unit = {
    val on = rows(build)
    val off = withRuleOff(rows(build))
    assert(on === off, "rewritten result must equal the rule-off plan's")
  }

  test("q13 shape: count over LEFT OUTER join pre-aggregates the orders side") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    def q = c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
    assert(aggBelowJoin(q), s"rule must fire:\n${optimized(q)}")
    assert(withRuleOff(!aggBelowJoin(q)), "flag must disable the rewrite")
    sameOnOff(q)
    // unmatched customers exist (every-URGENT customers) and must
    // report count 0, not be lost or NULLed
    assert(q.filter(col("c_count") === 0L).count() ===
      withRuleOff(q.filter(col("c_count") === 0L).count()))
  }

  test("inner join: sum/min/max over the fact side recombine exactly") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    def q = c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
        min(col("o_orderdate")).as("first_order"),
        max(col("o_orderdate")).as("last_order"),
        count(col("o_orderkey")).as("n"))
    assert(aggBelowJoin(q), s"rule must fire:\n${optimized(q)}")
    sameOnOff(q)
  }

  test("decimal sums recombine to the original result type, bit-exact") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    def q = c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .groupBy(col("c_nationkey"))
      .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("total"))
    assert(aggBelowJoin(q), s"rule must fire:\n${optimized(q)}")
    assert(q.schema("total").dataType ===
      withRuleOff(q.schema("total").dataType),
      "recombined decimal must keep the un-rewritten result type")
    sameOnOff(q)
  }

  test("does not fire: agg over LEFT columns (join multiplicity), distinct, global agg") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    val j = c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
    // left-side agg input sees multiplicity
    assert(!aggBelowJoin(j.groupBy(col("c_nationkey"))
      .agg(sum(col("c_acctbal")).as("s"))))
    // distinct aggregates don't decompose by sum-of-partials
    assert(!aggBelowJoin(j.groupBy(col("c_custkey"))
      .agg(countDistinct(col("o_orderpriority")).as("n"))))
    // a global aggregate emits a row even over an empty join (count=0);
    // a recombining sum would emit NULL — excluded by guard
    assert(!aggBelowJoin(j.agg(count(col("o_orderkey")).as("n"))))
    // grouping on a right-side (NULL-extended) column
    assert(!aggBelowJoin(j.groupBy(col("o_orderpriority"))
      .agg(count(col("o_orderkey")).as("n"))))
    // decimal averages carry result-precision rules the rewrite does
    // not reproduce
    assert(!aggBelowJoin(j.groupBy(col("c_custkey"))
      .agg(avg(col("o_totalprice").cast("decimal(12,2)")).as("a"))))
    // avg of a CONSTANT evaluates on NULL-extended rows too (1.0, not
    // NULL) — a pre-aggregate has no row for unmatched keys, so the
    // shape must not fire
    assert(!aggBelowJoin(j.groupBy(col("c_custkey"))
      .agg(avg(lit(1.0)).as("a"))))
  }

  test("count(*) and avg decompose: NULL-extended row counts 1; avg is sum/count") {
    import spark.implicits._
    val left = Seq(1L, 2L, 3L).toDF("k")
    val right = Seq((1L, 10.0), (1L, 11.0)).toDF("rk", "v")
    def starOuter = left.join(right, col("k") === col("rk"), "left_outer")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    assert(aggBelowJoin(starOuter), s"count(*) must fire:\n${optimized(starOuter)}")
    assert(starOuter.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((1L, 2L), (2L, 1L), (3L, 1L)),
      "a NULL-extended row is one joined row")
    def avgOuter = left.join(right, col("k") === col("rk"), "left_outer")
      .groupBy(col("k")).agg(avg(col("v")).as("a"))
    assert(aggBelowJoin(avgOuter), s"avg must fire:\n${optimized(avgOuter)}")
    val got = avgOuter.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.asInstanceOf[Double]))).sortBy(_._1).toSeq
    assert(got === Seq((1L, Some(10.5)), (2L, None), (3L, None)),
      "unmatched groups average to NULL, matched to the exact mean")
    // and at table scale: mixed avg/count(*)/sum, inner + outer —
    // integer columns exact vs the rule-off plan, the double average
    // within 1 ULP-scale relative tolerance (sum-of-sums reassociates
    // the float addition, the same documented caveat as any
    // shuffle-order change; the engine's exact-money queries use the
    // DECIMAL/cents discipline, which the rule recombines bit-exact)
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    for (jt <- Seq("inner", "left_outer")) {
      def q = c.join(o, c("c_custkey") === o("o_custkey"), jt)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("rows"),
          avg(col("o_totalprice")).as("avg_price"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy(col("c_nationkey"))
      assert(aggBelowJoin(q))
      val on = q.collect()
      val off = withRuleOff(q.collect())
      assert(on.length === off.length)
      on.zip(off).foreach { case (a, b) =>
        assert(a.get(0) === b.get(0))
        assert(a.getLong(1) === b.getLong(1))
        assert(a.getLong(3) === b.getLong(3), "integer cents must be exact")
        val (x, y) = (a.getDouble(2), b.getDouble(2))
        assert(math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)),
          s"avg drift beyond reassociation tolerance: $x vs $y")
      }
    }
  }

  test("LEFT OUTER + null-TOLERANT inputs decline; null-intolerant trees still fire") {
    import spark.implicits._
    // the round-10 reported defect: sum(coalesce(v, 5)) over a LEFT
    // OUTER join evaluates to 5 on every NULL-extended row in the
    // original plan, but a pushed pre-aggregate has no row for
    // unmatched keys — the recombined sum silently returned NULL
    val left = Seq(1L, 2L, 3L).toDF("k")
    val right = Seq((1L, 10L), (1L, 11L)).toDF("rk", "v")
    val j = left.join(right, col("k") === col("rk"), "left_outer")
    def check(agg: org.apache.spark.sql.Column, fire: Boolean): Unit = {
      def q = j.groupBy(col("k")).agg(agg.as("x"))
      assert(aggBelowJoin(q) === fire,
        s"${if (fire) "must fire" else "must decline"}:\n${optimized(q)}")
      sameOnOff(q)
    }
    check(sum(coalesce(col("v"), lit(5L))), fire = false)
    check(avg(coalesce(col("v").cast("double"), lit(5.0))), fire = false)
    check(sum(when(col("v") > 10L, 1L).otherwise(0L)), fire = false)
    check(min(when(col("v").isNull, 99L).otherwise(col("v"))), fire = false)
    // count over a never-null input is normalized by Catalyst to
    // count(1) BEFORE this rule runs — it fires via the count(*) arm,
    // whose coalesce-to-1 recombination counts NULL-extended rows
    // exactly like the original count of a non-null value
    check(count(coalesce(col("v"), lit(0L))), fire = true)
    // value checks, not just parity: unmatched keys 2 and 3 contribute 5
    val got = j.groupBy(col("k")).agg(sum(coalesce(col("v"), lit(5L))).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got === Seq((1L, 21L), (2L, 5L), (3L, 5L)))
    // null-INTOLERANT trees over attributes keep firing: arithmetic and
    // casts propagate NULL, so unmatched rows contribute nothing either way
    check(sum(col("v") * 2L + 1L), fire = true)
    check(sum(col("v").cast("double")), fire = true)
    check(avg(col("v") - 1L), fire = true)
    // ...and the same null-tolerant shapes over an INNER join still fire
    // (no NULL-extended rows exist to lose)
    def inner = left.join(right, col("k") === col("rk"))
      .groupBy(col("k")).agg(sum(coalesce(col("v"), lit(5L))).as("s"))
    assert(aggBelowJoin(inner), s"inner must fire:\n${optimized(inner)}")
    sameOnOff(inner)
  }

  test("unique-key table names match exactly or as advised-layout bases, never by substring") {
    import spark.implicits._
    val uk = "spark.graft.eagerAggregation.uniqueKeys"
    val saved = spark.conf.get(uk)
    val root = java.nio.file.Files.createTempDirectory("ea_uk")
    try {
      spark.conf.set(uk, "rampart.p_partkey")
      // a table whose name merely CONTAINS the declared table must not
      // inherit its constraint: `grampartly` ⊃ `rampart` but is not it
      val dir = root.resolve("grampartly.parquet").toString
      (1L to 50L).map(i => (i % 7, i)).toDF("p_partkey", "v")
        .write.parquet(dir)
      val fact = Seq((0L, 1L), (1L, 2L)).toDF("fk", "m")
      def q = fact.join(spark.read.parquet(dir),
          col("fk") === col("p_partkey"))
        .groupBy(col("fk")).agg(sum(col("v")).as("s"))
      assert(aggBelowJoin(q),
        s"substring-only name match must NOT block:\n${optimized(q)}")
      // the exact name DOES block
      val exact = root.resolve("rampart.parquet").toString
      (1L to 50L).map(i => (i % 7, i)).toDF("p_partkey", "v").write.parquet(exact)
      def qe = fact.join(spark.read.parquet(exact), col("fk") === col("p_partkey"))
        .groupBy(col("fk")).agg(sum(col("v")).as("s"))
      assert(!aggBelowJoin(qe), s"exact name must block:\n${optimized(qe)}")
      // an advised-layout name (`adv_<kind>_<table>[_suffix]`) inherits
      val adv = root.resolve("adv_sweep_rampart_x200.parquet").toString
      (1L to 50L).map(i => (i % 7, i)).toDF("p_partkey", "v").write.parquet(adv)
      def qa = fact.join(spark.read.parquet(adv), col("fk") === col("p_partkey"))
        .groupBy(col("fk")).agg(sum(col("v")).as("s"))
      assert(!aggBelowJoin(qa), s"advised layout must inherit:\n${optimized(qa)}")
    } finally {
      spark.conf.set(uk, saved)
      GateFixtures.deleteRecursively(root)
    }
  }

  test("unmatched keys count 0, not NULL — the recombination coalesce must survive optimization") {
    import spark.implicits._
    val left = Seq(1L, 2L, 3L).toDF("k")
    val right = Seq((1L, 10L), (1L, 11L)).toDF("rk", "v")
    def q = left.join(right, col("k") === col("rk"), "left_outer")
      .groupBy(col("k")).agg(count(col("v")).as("n"))
    assert(aggBelowJoin(q), s"rule must fire:\n${optimized(q)}")
    // regression trap: the recombination input must carry the JOIN's
    // nullability. With the pre-aggregate's nullable=false attribute,
    // NullPropagation deletes the coalesce AND codegen skips the null
    // check, reading the zeroed value slot of NULL-extended rows —
    // 0 or NULL depending on the session (observed round 10)
    assert(optimized(q).contains("coalesce"),
      s"count recombination must keep its NULL->0 coalesce:\n${optimized(q)}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      .toSeq === Seq((1L, 2L), (2L, 0L), (3L, 0L)))
  }

  test("semi/anti joins get a distinct build side; non-equi residuals do not") {
    val c = Tables.customer(spark, sf)
    val o = Tables.orders(spark, sf)
    def anti = c.join(o.select(col("o_custkey")),
      c("c_custkey") === col("o_custkey"), "left_anti")
    def semi = c.join(o.select(col("o_custkey")),
      c("c_custkey") === col("o_custkey"), "left_semi")
    // the arm is size-guarded: a broadcastable build has no exchange to
    // shrink, so at test scale it must NOT fire...
    assert(!aggBelowJoin(anti),
      s"broadcastable build must not dedup:\n${optimized(anti)}")
    // ...and with broadcasting off (every build shuffles) it must
    val thr = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(thr)
    try {
      spark.conf.set(thr, "-1")
      assert(aggBelowJoin(anti), s"anti build must dedup:\n${optimized(anti)}")
      assert(aggBelowJoin(semi), s"semi build must dedup:\n${optimized(semi)}")
      sameOnOff(anti)
      sameOnOff(semi)
      // a single-side residual is PUSHED below the join by Catalyst
      // before this rule runs, so the dedup still fires — over the
      // filtered rows, which is exact
      def pushed = c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_totalprice") > 1000.0, "left_semi")
      assert(aggBelowJoin(pushed))
      sameOnOff(pushed)
      // a two-sided residual cannot leave the join condition and blocks
      // the dedup (the probe needs the non-key column per row)
      def guarded = c.join(o, c("c_custkey") === o("o_custkey") &&
        o("o_totalprice") > c("c_acctbal"), "left_semi")
      assert(!aggBelowJoin(guarded))
      // an already-distinct build side is left alone (fixed-point safety)
      def predistinct = c.join(o.select(col("o_custkey")).distinct(),
        c("c_custkey") === col("o_custkey"), "left_anti")
      val n = predistinct.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.size
      assert(n === 1, s"must not stack distincts:\n${optimized(predistinct)}")
    } finally spark.conf.set(thr, saved)
  }

  test("declared unique keys decline provably-useless fires (q12's shape)") {
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    // the declared conf decides only while no measured stats exist
    Seq(li, o).foreach(graft.plans.TableStats.forget(spark, _))
    // q12 shape: grouping on the left, agg input on the right, pre-agg
    // key = o_orderkey — declared unique in GraftSession, so every
    // group is a singleton and the fire is pure cost → must decline
    def q12ish = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n"))
    assert(!aggBelowJoin(q12ish),
      s"unique-key pre-agg must be declined:\n${optimized(q12ish)}")
    // the same shape keyed on a NON-unique column (o_custkey) fires
    val c = Tables.customer(spark, sf)
    def byCust = c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)).as("n"))
    assert(aggBelowJoin(byCust))
    // clearing the constraint restores the (cost-blind) fire
    val uk = "spark.graft.eagerAggregation.uniqueKeys"
    val saved = spark.conf.get(uk)
    try {
      spark.conf.set(uk, "")
      assert(aggBelowJoin(q12ish))
    } finally spark.conf.set(uk, saved)
  }

  test("duplicate equi-conjuncts on one key dedup in the pre-aggregate") {
    import spark.implicits._
    val left = Seq((1L, 1L), (2L, 3L)).toDF("a", "b")
    val right = Seq((1L, 10L), (1L, 11L)).toDF("rk", "v")
    // both conjuncts target rk: the pre-agg must group by ONE rk, not
    // emit a duplicate output attribute
    def q = left.join(right, col("a") === col("rk") && col("b") === col("rk"))
      .groupBy(col("a")).agg(sum(col("v")).as("s"))
    assert(aggBelowJoin(q), s"rule must fire:\n${optimized(q)}")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((1L, 21L)))
  }

  test("rule is visible to plain SQL through the session extensions") {
    Tables.customer(spark, sf).createOrReplaceTempView("ea_c")
    Tables.orders(spark, sf).createOrReplaceTempView("ea_o")
    try {
      val q = spark.sql(
        """SELECT c_custkey, count(o_orderkey) AS n FROM ea_c
          |LEFT JOIN ea_o ON c_custkey = o_custkey GROUP BY c_custkey""".stripMargin)
      assert(aggBelowJoin(q), s"rule must fire on SQL:\n${optimized(q)}")
      sameOnOff(q)
    } finally {
      spark.catalog.dropTempView("ea_c")
      spark.catalog.dropTempView("ea_o")
    }
  }

  test("EagerAggregation object is the injected rule (registration smoke)") {
    // the suite session is built withExtensions(GraftExtensions); a
    // q13-shaped plan firing (asserted above) plus the flag round-trip
    // here pins that the injection point stays wired
    assert(EagerAggregation(spark).ruleName.contains("EagerAggregation"))
  }
}
