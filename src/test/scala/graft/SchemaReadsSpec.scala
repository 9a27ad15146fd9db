package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every footer-schema read goes through `sources.FileSchemas`: a
  * direct `read.parquet(` pays one schema-inference job per call, so a
  * new read path must show up here as a failing spec, not quietly bring
  * per-read inference back. */
class SchemaReadsSpec extends AnyFunSuite {

  test("no read.parquet( outside FileSchemas.scala under src/main") {
    val found = SourceGuard.hits("read.parquet(", Set("FileSchemas.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
