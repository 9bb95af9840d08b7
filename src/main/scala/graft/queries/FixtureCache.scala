package graft.queries

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.function.{Function => JFunction}

import org.apache.spark.GraftSparkAccess

/** Build-once cache for on-disk query fixtures (JSON landing zones, scrape
  * drop dirs) keyed by (fixture, sf dir).
  *
  * Bench invokes every query four times (untimed warmup + three timed
  * passes) and Verify fans queries across a thread pool; without the
  * cache each invocation re-materializes its fixture, so the timed
  * numbers measure fixture IO instead of the operator under test. A
  * failed build propagates and caches nothing, so a later pass retries
  * rather than reading a half-written dir. Each dir is deleted at JVM
  * exit. It stays in `java.io.tmpdir` under a short name, because plan
  * strings abbreviate a scan's path and specs find fixture scans by name.
  */
object FixtureCache {
  private val cache = new ConcurrentHashMap[String, String]()

  /** The fixture dir for `name` at `sfDir`, building it on first use. */
  def dir(name: String, sfDir: String)(build: String => Unit): String =
    cache.computeIfAbsent(s"$name|$sfDir", new JFunction[String, String] {
      override def apply(k: String): String = {
        val d = Files.createTempDirectory(s"graft_${name}_").toString
        GraftSparkAccess.deleteAtExit(d)
        build(d)
        d
      }
    })
}
