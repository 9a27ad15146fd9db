package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every footer-schema read goes through `sources.FileSchemas`: a
  * direct `read.parquet(` pays one schema-inference job per call, so a
  * new read path must show up here as a failing spec, not quietly bring
  * per-read inference back. */
class SchemaReadsSpec extends AnyFunSuite {

  test("no read.parquet( outside FileSchemas.scala under src/main") {
    val root = java.nio.file.Paths.get("src", "main")
    assert(java.nio.file.Files.isDirectory(root), s"$root not found")
    val comment = "^\\s*(//|\\*|/\\*)".r
    val stream = java.nio.file.Files.walk(root)
    val found = try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "FileSchemas.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains("read.parquet(") &&
                comment.findFirstIn(line).isEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
    assert(found.isEmpty, found.mkString("\n"))
  }
}
