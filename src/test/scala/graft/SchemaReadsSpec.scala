package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every footer-schema read goes through `sources.FileSchemas`: a
  * direct `read.parquet(` pays one schema-inference job per call, so a
  * new read path must show up here as a failing spec, not quietly bring
  * per-read inference back. The same file owns the one answer to "which
  * files, and have they changed?": a second content hash, a
  * hand-written hidden-file rule or a directory walk of graft's own
  * beside Spark's file index is a second answer. */
class SchemaReadsSpec extends AnyFunSuite {

  test("no read.parquet( outside FileSchemas.scala under src/main") {
    val found = SourceGuard.hits("read.parquet(", Set("FileSchemas.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("SHA-1 and the hidden-file rule live only in FileSchemas.scala under src/main") {
    val found = Seq("MessageDigest.getInstance", "startsWith(\"_\")", "startsWith(\".\")")
      .flatMap(SourceGuard.hits(_, Set("FileSchemas.scala")))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no listStatus( under src/main outside StreamingOps.scala") {
    // StreamingOps lists a stream's version directories, not a file set
    val found = SourceGuard.hits("listStatus(", Set("StreamingOps.scala"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
