package graft

import scala.jdk.CollectionConverters._

/** Grep over the sources for the guard specs that keep one concern in
  * one file ([[SchemaReadsSpec]], [[StagingLifecycleSpec]]). */
object SourceGuard {

  private val comment = "^\\s*(//|\\*|/\\*)".r

  /** `path:line: text` of every non-comment line under `root` (by
    * default `src/main`) containing `needle`, outside the files named
    * in `allowed`. */
  def hits(needle: String, allowed: Set[String],
      root: java.nio.file.Path = java.nio.file.Paths.get("src", "main")): List[String] = {
    require(java.nio.file.Files.isDirectory(root), s"$root not found")
    val stream = java.nio.file.Files.walk(root)
    try {
      stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed(p.getFileName.toString))
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if line.contains(needle) &&
                comment.findFirstIn(line).isEmpty => s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
    } finally stream.close()
  }
}
