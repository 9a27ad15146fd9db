package graft

import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** `Verify <sfDir> <outDir> name,name` — the subset mode `scripts/check.py`
  * uses to compare just the queries under iteration. Verify.main stops
  * the session it ran on, so this suite never touches the shared
  * `spark`; the next suite's `GraftSession.local` starts a fresh one. */
class VerifySpec extends GraftSpec {

  private val picked = Seq("metric_mrr", "text_fingerprint")

  private def entries(dir: Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("an unknown name fails before any result is written") {
    val out = Files.createTempDirectory("graft_verify_spec").resolve("out")
    val e = intercept[IllegalArgumentException](
      Verify.main(Array(sf, out.toString, s"${picked.head},no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
    assert(!Files.exists(out), entries(out.getParent))
  }

  test("a name list writes exactly those results and their oracle SQL") {
    val out = Files.createTempDirectory("graft_verify_spec").resolve("out")
    Verify.main(Array(sf, out.toString, picked.mkString(",")))
    assert(entries(out) == picked.toSet + "oracle_sql.json")
    picked.foreach(n => assert(Files.exists(out.resolve(n).resolve("_SUCCESS")), n))
    val json = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
    val keys = json.fieldNames.asScala.toSet
    assert(keys == picked.toSet)
    keys.foreach(k => assert(json.get(k).asText == SparkEntry.oracleSql(k), k))
  }
}
