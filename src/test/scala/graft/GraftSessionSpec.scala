package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The one session factory and the one query filter: every main builds
  * its session through `GraftSession`, the suites run under the same
  * configuration, and `SPARK_GRAFT_ONLY` never narrows a run silently.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val sources = {
    val s = Files.walk(Paths.get("src/main/scala"))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq finally s.close()
  }

  test("src/main builds a SparkSession in exactly one place: GraftSession.scala") {
    def hits(p: Path) = Files.readAllLines(p).asScala.count(_.contains("SparkSession.builder"))
    val builders = sources.filter(hits(_) > 0)
    assert(builders.map(_.getFileName.toString) == Seq("GraftSession.scala"),
      s"SparkSession.builder outside the factory: ${builders.mkString(", ")}")
    assert(hits(builders.head) == 1)
  }

  test("src/main has four mains: Bench, Verify, Smoke and Profile") {
    // a one-off instrument is a spec or a Profile mode, not another main
    val mains = sources.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      "def main\\(".r.findAllMatchIn(text).map { m =>
        "object (\\w+)".r.findAllMatchIn(text.take(m.start)).map(_.group(1)).toSeq.last
      }
    }
    assert(mains.sorted == Seq("Bench", "Profile", "Smoke", "Verify"), s"mains: ${mains.sorted}")
  }

  test("the test session runs GraftSession's engine configuration") {
    val conf = TestSpark.spark.conf
    assert(TestSpark.spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.extensions") == "graft.extensions.GraftExtensions")
    assert(conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("the session's warehouse dir is deleted at JVM exit") {
    val wh = new org.apache.hadoop.fs.Path(
      TestSpark.spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath
    assert(Files.isDirectory(Paths.get(wh)), s"no warehouse dir at $wh")
    assert(org.apache.spark.GraftSparkTestAccess.deletedAtExit(wh),
      s"$wh is not registered with Spark's shutdown-delete hook")
  }

  private val known = Set("q01_a", "q02_b", "q03_c")

  test("query filter: an unknown name is rejected and listed") {
    val e = intercept[IllegalArgumentException](
      QueryFilter.select(Seq("q01_a", "q02_typo", "q03_c", "q9_x"), known))
    assert(e.getMessage.contains("q02_typo, q9_x"), e.getMessage)
    intercept[IllegalArgumentException](QueryFilter.select(Seq("q01"), known)) // no substring match
  }

  test("query filter: blank entries are ignored, names keep their order once each") {
    assert(QueryFilter.select("q03_c,, q01_a ,,q03_c, ".split(",").toSeq, known) == Seq("q03_c", "q01_a"))
    intercept[IllegalArgumentException](QueryFilter.select(Seq(" ", ""), known))
  }
}
