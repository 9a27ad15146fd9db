package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Every main the docs and scripts tell a user to run must exist: a
  * `runMain graft.X` or `"graft.X"` class name in README.md, in the
  * `.py`/`.sh` files of scripts/ or in the `.py` files of perfbench/
  * resolves to an object with a `main(Array[String])`. Deleting or
  * renaming a main otherwise strands a documented command with no test
  * noticing. */
class MainsSpec extends AnyFunSuite {

  private val root = Paths.get(sys.props("user.dir"))

  private def files(dir: String, exts: String*): Seq[Path] = {
    val d = root.resolve(dir)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator.asScala.filter(p => exts.exists(p.toString.endsWith)).toList
      finally s.close()
    }
  }

  private val Named = """(?:runMain\s+|")graft\.([A-Z]\w*)""".r

  private def documentedMains: Map[String, Seq[Path]] =
    (Seq(root.resolve("README.md")) ++ files("scripts", ".py", ".sh") ++
      files("perfbench", ".py"))
      .flatMap(p => Named.findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> p))
      .groupMap(_._1)(_._2)

  test("every documented graft main resolves to an object with main(Array[String])") {
    val found = documentedMains
    // the scan must see the commands it guards, or it passes vacuously
    assert(Set("Verify", "Bench", "Explain", "ProbeTail", "ProbeAdvisorSweep", "BenchBig")
      .subsetOf(found.keySet), found.keySet)
    val stranded = found.toSeq.sortBy(_._1).filterNot { case (name, _) =>
      try {
        val m = Class.forName(s"graft.$name").getMethod("main", classOf[Array[String]])
        java.lang.reflect.Modifier.isStatic(m.getModifiers)
      } catch { case _: ClassNotFoundException | _: NoSuchMethodException => false }
    }
    assert(stranded.isEmpty, stranded.map { case (n, ps) =>
      s"graft.$n (named in ${ps.distinct.map(root.relativize).mkString(", ")})" }.mkString("; "))
  }
}
