package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run measured and checked. `e2e` and `layers` are keyed
  * by metric name; `record` holds extra run-record fields. */
final case class Outcome(attempted: Long, failed: Long, e2e: Map[String, Double],
                         layers: Map[String, Double], record: Map[String, Double])

/** Run context shared by the workloads. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, data: Path, sessionStartS: Double) {
  def dir(name: String): String = work.resolve(name).toString

  /** Runs `body` repeatedly until `seconds` of wall time have passed, at
    * least `min` times. */
  def repeat(min: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || (System.nanoTime() - t0) / 1e9 < seconds) { body(i); i += 1 }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Entry point of the benchmark JVM; `run.py` builds it and passes the
  * work, data and output directories. */
object Main {
  val e2eUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "work_s" -> "s", "op_p50_ms" -> "ms", "op_p90_ms" -> "ms",
    "op_geomean_ms" -> "ms", "peak_rss_mb" -> "MB")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val load1 = Host.load1()
    val ticks0 = Host.cpuTicks()
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val (spark, sessionS) = Stats.seconds(session(work))
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      work, Paths.get(opt("data")).toAbsolutePath, sessionS)
    val tracer = new Tracer(ctx.trace, spark)

    val outcome = workload match {
      case "pipeline" => Pipeline.run(ctx, tracer)
      case "query_suite" => QuerySuite.run(ctx, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val steal = Host.stealPct(ticks0, Host.cpuTicks())
    val rss = Host.peakRssMb()
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (ctx.trace) Layers.catalog.map { case (n, u) => (n, outcome.layers.getOrElse(n, 0.0), u) }
      else e2eUnits.map { case (n, u) =>
        (n, if (n == "peak_rss_mb") rss else outcome.e2e(n), u)
      }
    val correct = outcome.failed == 0
    metrics.foreach { case (n, v, u) => println(f"$workload%-15s $n%-36s $v%14.4f $u") }
    println(f"$workload%-15s ${"failed_ops_ratio"}%-36s ${outcome.failed.toDouble / outcome.attempted}%14.4f " +
      s"(${outcome.failed}/${outcome.attempted})")
    println(f"$workload%-15s host: load1_at_start=$load1%.2f steal_pct=$steal%.2f")

    val metricJson = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    val result = s"""{"correct":$correct,"attempted":${outcome.attempted},""" +
      s""""failed":${outcome.failed},"metrics":$metricJson}"""
    Files.write(Paths.get(opt("result")), result.getBytes("UTF-8"))

    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val stem = s"$workload-seed${ctx.seed}-trace${opt("trace")}"
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val details = outcome.record ++ Layers.codegen() +
      ("failed_ops_ratio" -> outcome.failed.toDouble / outcome.attempted)
    Files.write(out.resolve(s"$stem.json"),
      (s"""{"workload":${Json.str(workload)},"seed":${ctx.seed},"seconds":${ctx.seconds},""" +
        s""""trace":${ctx.trace},"host":${obj(Map("load1_at_start" -> load1, "steal_pct" -> steal))},""" +
        s""""end_to_end":${obj(outcome.e2e + ("peak_rss_mb" -> rss))},"details":${obj(details)},""" +
        s""""result":$result}""" + "\n").getBytes("UTF-8"))
    if (ctx.trace) Files.write(out.resolve(s"$stem-spans.json"), tracer.toJson.getBytes("UTF-8"))
  }

  /** One single-process local[4] session with `Bench`'s engine settings
    * (no artifact isolation, a codegen cache that holds the working set);
    * every scratch location lives in the run's work directory. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Per-layer metric names and units, in report order. */
object Layers {
  val catalog: Seq[(String, String)] = Seq(
    "trace.overhead_s" -> "s",
    "sources.landing_write_s" -> "s", "sources.scan_files" -> "count",
    "sources.scan_mb" -> "MB",
    "ops.clean_s" -> "s", "ops.clean_rows_in" -> "count", "ops.clean_rows_out" -> "count",
    "enrich.score_calls" -> "count", "enrich.rows_scored" -> "count",
    "enrich.score_busy_s" -> "s", "enrich.rows_scored_per_clean_row" -> "ratio",
    "graph.vertices_s" -> "s", "graph.edges_s" -> "s", "graph.write_s" -> "s",
    "graph.vertex_rows" -> "count", "graph.edge_rows" -> "count",
    "graph.shuffle_write_mb" -> "MB",
    "pipeline.rollups_s" -> "s", "pipeline.actions" -> "count",
    "streaming.batches" -> "count", "streaming.drain_s" -> "s",
    "streaming.rows_scored_per_clean_row" -> "ratio",
    "streaming.start_ms" -> "ms", "streaming.stop_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.rows_per_batch" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "codegen.compile_ms" -> "ms", "codegen.compiles" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.tasks_failed" -> "count", "spark.task_time_s" -> "s", "spark.task_gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.input_mb" -> "MB", "spark.output_mb" -> "MB", "spark.spill_mb" -> "MB") ++
    QuerySuite.names.flatMap(q => Seq(s"queries.${q}_s" -> "s", s"queries.$q.stages" -> "count"))

  /** Engine-layer metrics (catalyst, spark) for the work submitted in the
    * picked spans, divided by `units` (repetitions or passes). */
  def engine(l: LayerListeners, tracer: Tracer, pick: String => Boolean,
             units: Int): Map[String, Double] = {
    l.drain()
    val within = tracer.intervals(pick)
    l.total(pick).map { case (k, v) => s"spark.$k" -> v / units } ++ Map(
      "catalyst.analysis_ms" -> l.phaseMs(within, "analysis") / units,
      "catalyst.optimization_ms" -> l.phaseMs(within, "optimization") / units,
      "catalyst.planning_ms" -> l.phaseMs(within, "planning") / units)
  }

  /** Janino compile time and count over the whole run: compiling happens in
    * set-up and warm-up, so that is where a codegen change shows. */
  def codegen(): Map[String, Double] = {
    val (ms, n) = codegenNow()
    Map("codegen.compile_ms" -> ms.toDouble, "codegen.compiles" -> n.toDouble)
  }

  /** (Janino compile time in ms, compile count) so far in this JVM. */
  def codegenNow(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1000000L,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** What the counting scorer saw since its last reset. */
  def enrich(cleanRows: Double): Map[String, Double] = Map(
    "enrich.score_calls" -> CountingScorer.calls.get.toDouble,
    "enrich.rows_scored" -> CountingScorer.rows.get.toDouble,
    "enrich.score_busy_s" -> CountingScorer.busyNs.get / 1e9,
    "enrich.rows_scored_per_clean_row" -> CountingScorer.rows.get.toDouble / math.max(cleanRows, 1.0))
}

/** Small output helpers. */
object Out {
  val vertices = "id STRING, label STRING"
  val edges = "src STRING, dst STRING, rel STRING"

  /** Reads a table the pipeline wrote, with its schema given so the read
    * starts no schema-inference job. */
  def read(spark: SparkSession, path: String, ddl: String): org.apache.spark.sql.DataFrame =
    spark.read.schema(ddl).parquet(path)

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Every file under `p`, closing the directory stream. */
  def walk(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.toArray.toSeq.map(_.asInstanceOf[Path]) finally s.close()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)
}
