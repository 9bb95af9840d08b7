package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY (QueryFilter) restricts the run (and the dumped
    // oracle map) to the named queries. Contract runs never set it, so the
    // contract run is always the full suite — and a leaked filter is made
    // detectable: a loud stderr banner plus a RESTRICTED_RUN.txt marker in
    // the output dir, so a narrowed run can never masquerade as full-suite
    // coverage in the artifacts.
    val only = QueryFilter.fromEnv.map(_.toSet)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // Queries run on a small thread pool: Spark schedules concurrent jobs
    // from one context fine, and the per-query fixed costs (planning, small
    // stages, streaming micro-batch lifecycles) overlap — cuts t2
    // wall-clock roughly in half across the full query suite.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(10)
    only match {
      case Some(names) =>
        System.err.println(
          s"[verify] *** RESTRICTED RUN: SPARK_GRAFT_ONLY limits this dump to " +
            s"${names.size} queries (${names.toSeq.sorted.mkString(",")}) — NOT the full suite ***")
        Files.writeString(Paths.get(s"$outDir/RESTRICTED_RUN.txt"),
          names.toSeq.sorted.mkString("\n") + "\n"): Unit
      case None =>
        // a FULL run into a previously-narrowed outDir must clear the
        // stale marker, or the artifact check brands a genuine full dump
        // as restricted
        Files.deleteIfExists(Paths.get(s"$outDir/RESTRICTED_RUN.txt")): Unit
    }
    def selected[A](m: Map[String, A]): Map[String, A] =
      only.fold(m)(names => m.view.filterKeys(names).toMap)
    val tasks = selected(SparkEntry.queries).toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected(SparkEntry.oracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
