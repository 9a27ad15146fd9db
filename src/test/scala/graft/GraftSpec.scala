package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites (one JVM-wide session). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf: String = "/root/testdata/sf0.001"

  /** A copy of staged catalog table `table`'s files in a new temporary
    * directory (deleted at exit): what a fresh JVM finds on disk, with
    * this session's table left in place. */
  def copyAside(table: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(graft.plans.TableStats.warehouseOf(spark), table)
    val aside = Files.createTempDirectory(table + "_aside")
    sys.addShutdownHook(GateFixtures.deleteRecursively(aside))
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = aside.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
    aside
  }
}
