package perfbench

import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.enrich.Enrich

/** One day of the paper's pipeline: the daily batch over landed parquet
  * (`DailyBatch`), then a 15-minute refresh drain of small JSON drop files
  * (`StreamRefresh`), repeated. Both legs share the clean/enrich/graph code
  * but stress it differently: the batch is volume-bound, the refresh pays
  * per-micro-batch fixed costs. Operations are daily-batch repetitions and
  * micro-batches. */
object Pipeline {
  val setupReps = 3

  def run(ctx: Ctx, tracer: Tracer): Outcome = {
    var landed: DailyBatch.Landed = null
    val landingS = Seq.newBuilder[Double]
    val drops = mutable.Queue[StreamRefresh.Drop]()
    var dropIndex = 0
    def nextDrop(): StreamRefresh.Drop = {
      dropIndex += 1
      if (drops.nonEmpty) drops.dequeue() else StreamRefresh.drop(ctx, 100 + dropIndex)
    }
    // Set-up, three times over: synthesize and land the daily fixtures, and
    // write one refresh's drop files.
    val setupS = (0 until setupReps).map { i =>
      Stats.seconds {
        val (l, s) = DailyBatch.land(ctx, i)
        landed = l; landingS += s
        drops += StreamRefresh.drop(ctx, i)
      }._2
    }
    println(DailyBatch.describe(landed))
    println(s"stream refresh: ${StreamRefresh.filesPerDrain} drop files of " +
      s"${StreamRefresh.rowsPerFile} posts per drain, ${drops.head.clean} of ${drops.head.rows} " +
      "rows pass clean in the first")

    val attempted, failed = new AtomicLong
    def daily(name: String, scorer: Enrich.TextScorer, concurrent: Boolean = false) = {
      attempted.incrementAndGet()
      val r = DailyBatch.rep(ctx, tracer, landed, name, scorer, concurrent)
      if (r.isEmpty) failed.incrementAndGet()
      r
    }
    def refresh(d: StreamRefresh.Drop, scorer: Enrich.TextScorer, span: Boolean = true) = {
      attempted.addAndGet(StreamRefresh.filesPerDrain)
      val r = StreamRefresh.drain(ctx, tracer, d, s"drain-${d.dir.split('/').last}", scorer, span)
      if (r.isEmpty) failed.addAndGet(StreamRefresh.filesPerDrain)
      r
    }

    // Warm-up: the daily batch (both topics at once) alongside a refresh, so
    // their first-time planning and compiling overlap.
    val d0 = nextDrop()
    val (_, warmS) = Stats.seconds {
      val pool = Executors.newFixedThreadPool(2)
      val tasks: Seq[Runnable] = Seq(
        () => daily("warmup", Fixtures.scorer, concurrent = true),
        () => refresh(d0, Fixtures.scorer, span = false))
      try tasks.map(pool.submit(_)).foreach(_.get())
      finally pool.shutdown()
    }

    val dailyS, topicMs, drainS, batchMs = Seq.newBuilder[Double]
    // A traced run reports per-layer metrics; its untraced cycle only serves
    // as the baseline of the tracing overhead, so one is enough.
    ctx.repeat(if (ctx.trace) 1 else 2) { i =>
      daily(s"daily$i", Fixtures.scorer).foreach { ts => dailyS += ts.sum; topicMs ++= ts.map(_ * 1000) }
      refresh(nextDrop(), Fixtures.scorer).foreach { case (s, ps) =>
        drainS += s; batchMs ++= ps.map(StreamRefresh.triggerMs)
      }
    }
    val ops = batchMs.result()
    val workS = Stats.median(dailyS.result())
    println(f"pipeline: daily batch repetitions (s): ${dailyS.result().map(x => f"$x%.3f").mkString(" ")}")
    println(f"pipeline: micro-batches (ms, ${ops.size} samples): ${ops.map(x => f"$x%.0f").mkString(" ")}")
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + Stats.median(setupS) + warmS),
      "work_s" -> workS,
      "op_p50_ms" -> Stats.median(ops), "op_p90_ms" -> Stats.percentile(ops, 90),
      "op_geomean_ms" -> Stats.geomean(ops))
    val record = Map(
      "session_s" -> ctx.sessionStartS, "setup_rep_s" -> Stats.median(setupS), "warmup_s" -> warmS,
      "daily_batch_reps" -> dailyS.result().size.toDouble,
      "daily_topic_p50_ms" -> Stats.median(topicMs.result()),
      "stream_drain_s" -> Stats.median(drainS.result()),
      "stream_batches" -> ops.size.toDouble)

    val layers = if (ctx.trace) traced(ctx, tracer, landed, landingS.result(), workS,
      daily(_, _), (d, s) => refresh(d, s), () => nextDrop()) else Map.empty[String, Double]
    Outcome(attempted.get, failed.get, e2e, layers, record)
  }

  /** The traced section: listeners on, a counting scorer, one daily-batch
    * repetition, the stage breakdown, then one refresh drain. */
  private def traced(ctx: Ctx, tracer: Tracer, landed: DailyBatch.Landed, landingS: Seq[Double],
                     untracedS: Double,
                     daily: (String, Enrich.TextScorer) => Option[Seq[Double]],
                     refresh: (StreamRefresh.Drop, Enrich.TextScorer) => Option[(Double, Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])],
                     nextDrop: () => StreamRefresh.Drop): Map[String, Double] = {
    val ls = new LayerListeners(ctx.spark)
    ls.install()
    val scorer = new CountingScorer(Fixtures.scorer)
    val runDaily = (s: String) => s == "pipeline.runDaily"

    ls.reset(); CountingScorer.reset()
    val reps = daily("traced", scorer).toSeq.map(_.sum)
    val engine = Layers.engine(ls, tracer, runDaily, 1)
    val enrich = Layers.enrich(landed.cleanRows)
    val actions = ls.total(runDaily)("actions")
    val stages = DailyBatch.breakdown(ctx, tracer, ls, landed, scorer)

    val ds = Seq(nextDrop())
    ls.reset(); CountingScorer.reset()
    val drains = ds.map { d =>
      val t0 = System.currentTimeMillis()
      val r = refresh(d, scorer)
      (t0, System.currentTimeMillis(), r)
    }
    ls.drain()
    val progress = ls.progress.toArray(Array.empty[
      org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent])
      .map(_.progress).filter(_.numInputRows > 0).toSeq
    val streaming = StreamRefresh.layers(progress, drains.map(d => (d._1, d._2))) ++ Map(
      "streaming.drain_s" -> Stats.median(drains.flatMap(_._3).map(_._1)),
      "streaming.rows_scored_per_clean_row" -> CountingScorer.rows.get.toDouble / ds.map(_.clean).sum)

    Map(
      "trace.overhead_s" -> (Stats.median(reps) - untracedS),
      "sources.landing_write_s" -> Stats.median(landingS),
      "pipeline.actions" -> actions) ++ engine ++ enrich ++ stages ++ streaming ++ Layers.codegen()
  }
}
