package graft

import graft.operators.Sampling
import org.apache.spark.sql.functions._

class SamplingSpec extends GraftSpec {

  lazy val events = Tables.events(spark, sf)

  test("bernoulliByKey is deterministic and layout-invariant") {
    val a = Sampling.bernoulliByKey(events, col("event_id"), 0.3, 7L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.bernoulliByKey(events.repartition(13), col("event_id"), 0.3, 7L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    // fraction is approximately honored
    val frac = a.size.toDouble / events.count()
    assert(frac > 0.2 && frac < 0.4, s"got $frac")
    // different seed -> different subset
    val c = Sampling.bernoulliByKey(events, col("event_id"), 0.3, 8L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a !== c)
  }

  test("splitAssign partitions exactly, near the fractions, stable under growth") {
    val docs = Tables.documents(spark, sf)
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitAssign(docs.select(col("doc_id")), col("doc_id"), fr, 7L)
    // total partition: every row gets exactly one label
    assert(out.count() === docs.count())
    val byLabel = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = docs.count().toDouble
    assert(byLabel.keySet === Set("train", "val", "test"))
    assert(math.abs(byLabel("train") / n - 0.8) < 0.1)
    // layout invariance
    val re = Sampling.splitAssign(docs.select(col("doc_id")).repartition(17),
      col("doc_id"), fr, 7L)
    assert(out.exceptAll(re).count() === 0)
    // growth stability: assignments computed on a subset agree with the
    // full corpus (a doc's split never changes when new docs arrive)
    val sub = Sampling.splitAssign(
      docs.select(col("doc_id")).filter(col("doc_id") < 30), col("doc_id"), fr, 7L)
    assert(sub.exceptAll(out.filter(col("doc_id") < 30)).count() === 0)
  }

  test("weightedByKeyModP: NaN weight means drop, not keep-always") {
    import spark.implicits._
    val rows = Seq((1L, 1.0), (2L, Double.NaN), (3L, 1.0), (4L, Double.NaN))
      .toDF("k", "w")
    val kept = Sampling.weightedByKeyModP(rows, col("k"), col("w"), seed = 5L)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
  }

  test("downsampleNegatives keeps every positive") {
    val labeled = events.withColumn("y", col("event_type") === "error")
    val out = Sampling.downsampleNegatives(labeled, col("y"), col("event_id"), 0.1, 1L)
    val posIn = labeled.filter(col("y")).count()
    val posOut = out.filter(col("y")).count()
    assert(posOut === posIn)
    assert(out.filter(!col("y")).count() < labeled.filter(!col("y")).count() / 5)
  }

  test("stratified honors per-stratum fractions") {
    val out = Sampling.stratified(events, col("event_type"), col("event_id"),
      Map("click" -> 0.0, "view" -> 1.0), 3L)
    assert(out.filter(col("event_type") === "click").count() === 0)
    assert(out.filter(col("event_type") === "view").count() ===
      events.filter(col("event_type") === "view").count())
  }

  test("bernoulliByKeyModP is deterministic, layout-invariant, near the fraction") {
    val a = Sampling.bernoulliByKeyModP(events, col("event_id"), 0.3, 7L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Sampling.bernoulliByKeyModP(events.repartition(13), col("event_id"), 0.3, 7L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    val frac = a.size.toDouble / events.count()
    assert(frac > 0.2 && frac < 0.4, s"got $frac")
    val c = Sampling.bernoulliByKeyModP(events, col("event_id"), 0.3, 8L)
      .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a !== c)
  }

  test("negativesPerKey: k true negatives per row, layout-invariant") {
    def run(df: org.apache.spark.sql.DataFrame) =
      Sampling.negativesPerKey(df, col("event_id"), pmod(col("user_id"), lit(50L)),
        k = 4, itemCount = 50L, seed = 9L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val out = run(events)
    assert(out.size === events.count() * 4)
    // every draw lands in-domain and never equals the positive
    assert(out.forall { case (_, pos, _, neg) => neg >= 0 && neg < 50 && neg != pos })
    // deterministic under relayout
    assert(run(events.repartition(13)) === out)
  }

  test("stratifiedModP keeps unlisted strata intact and honors 0/1 fractions") {
    val out = Sampling.stratifiedModP(events, col("event_type"), col("event_id"),
      Map("click" -> 0.0, "view" -> 1.0), 3L)
    assert(out.filter(col("event_type") === "click").count() === 0)
    assert(out.filter(col("event_type") === "view").count() ===
      events.filter(col("event_type") === "view").count())
    assert(out.filter(col("event_type") === "error").count() ===
      events.filter(col("event_type") === "error").count())
  }
}
