package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import org.apache.spark.launcher.JavaModuleOptions

/** A main of this JVM's classpath run in a child JVM: for checks that
  * need a SparkContext, static confs or a JVM of their own. The child
  * prints one `RESULT <name> <verdict>` line per check. */
object ChildJvm {

  /** Runs `main` with `args` in working directory `dir`, with `env`
    * added to this JVM's environment; returns the RESULT verdicts by
    * name and the child's whole output (for a failure message). The
    * output goes to a temporary file outside `dir`. */
  def run(main: String, args: Seq[String], dir: Path,
      env: Map[String, String] = Map.empty): (Map[String, String], String) = {
    val log = Files.createTempFile("graft_child", ".log")
    try {
      val cp = System.getProperty("java.class.path").split(File.pathSeparator)
        .map(Paths.get(_).toAbsolutePath.toString).mkString(File.pathSeparator)
      val cmd = Seq(Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
        JavaModuleOptions.defaultModuleOptionArray() ++ Seq("-Xmx1g", "-cp", cp, main) ++ args
      val pb = new ProcessBuilder(cmd: _*).directory(dir.toFile)
        .redirectErrorStream(true).redirectOutput(log.toFile)
      env.foreach { case (k, v) => pb.environment().put(k, v) }
      val p = pb.start()
      if (!p.waitFor(10, TimeUnit.MINUTES)) { p.destroyForcibly(); p.waitFor() }
      val out = Files.readString(log)
      val results = out.linesIterator.map(_.split(" ", 3)).collect {
        case Array("RESULT", name, verdict) => name -> verdict
      }.toMap
      (results, out)
    } finally Files.deleteIfExists(log)
  }

  def report(name: String, verdict: String): Unit = println(s"RESULT $name $verdict")
}
