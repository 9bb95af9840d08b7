package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The one engine configuration: every main and the test session build
  * their SparkSession here, so tests run under exactly the settings that
  * Verify and Bench use.
  *
  * `cpus` is the local width and the shuffle partition count
  * (`SPARK_GRAFT_CPUS`, else every available core). `taskMaxFailures` > 1
  * lets a failed task retry, for the `faults` test group that kills tasks
  * on purpose; everything else runs Spark's local default of no retry.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cpus: Int = defaultCpus, taskMaxFailures: Int = 1): SparkSession = {
    val master =
      if (taskMaxFailures > 1) s"local[$cpus, $taskMaxFailures]" else s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      // Session artifact isolation (Spark 4 default) keys the codegen
      // cache on a per-session/query classloader, so every STREAMING
      // query start recompiled all its generated classes (~14 Janino
      // compiles, ~0.4-0.6 s per invocation). No runtime artifacts are
      // ever added here; disable it so the cache hits across queries.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // Generated-class cache sized to the workload (r18): the default
      // spark.sql.codegen.cache.maxEntries=100 holds ~100 codegen units,
      // but one session runs 307 distinct queries (~thousands of
      // whole-stage/projection fragments) round-robin — every pass
      // evicted everything and re-ran Janino on each fragment (~20-100 ms
      // apiece), measured as a systematic gap between in-bench timings
      // and single-query reruns (q116: 1.48 s in-bench vs 0.74 s
      // isolated). Not local-specific: any long-lived multi-query session
      // wants the cache to cover its working set; ~30 KB/class keeps
      // 8192 entries under ~250 MB of the 8 GiB heap.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
