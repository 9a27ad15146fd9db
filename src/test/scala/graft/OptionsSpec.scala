package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every `spark.graft.*` session option the engine reads, pinned: each
  * independent on/off option doubles the configurations tests and
  * benchmarks must cover, so a new knob must show up here as a failing
  * spec, not slip in silently. */
class OptionsSpec extends AnyFunSuite {

  test("the engine reads exactly the pinned spark.graft.* options") {
    val literal = "\"(spark\\.graft\\.[^\"]*)\"".r
    val root = java.nio.file.Paths.get("src", "main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val stream = java.nio.file.Files.walk(root)
    val found = try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap(p => literal.findAllMatchIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).map(_.group(1)))
        .toSet
    } finally stream.close()
    assert(found === Set(
      "spark.graft.materializedJoin.enabled",
      "spark.graft.materializedAgg.enabled",
      "spark.graft.eagerAggregation.enabled",
      "spark.graft.eagerAggregation.uniqueKeys",
      "spark.graft.bloomReduce.enabled"))
  }
}
