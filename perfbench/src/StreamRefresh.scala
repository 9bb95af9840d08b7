package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.enrich.Enrich
import graft.streaming.SocialStream

/** The 15-minute refresh: small JSON drop files of posts drained by
  * `SocialStream.runPipeline` with `Trigger.AvailableNow` and one file per
  * micro-batch. */
object StreamRefresh {
  val filesPerDrain = 5
  val rowsPerFile = 300

  /** A landing zone of drop files plus what the pipeline must append from it. */
  final case class Drop(dir: String, rows: Long, clean: Long, vertices: Long, edges: Long)

  /** Writes drain `i`'s drop files; each file is one micro-batch, and graph
    * appends are deduplicated within a batch only. */
  def drop(ctx: Ctx, i: Int): Drop = {
    val dir = Files.createDirectories(ctx.work.resolve(s"drops$i"))
    var (rows, clean, vertices, edges) = (0L, 0L, 0L, 0L)
    (0 until filesPerDrain).foreach { f =>
      val salt = 100000L + i * 1000L + f
      val ps = Fixtures.posts(ctx.seed, salt, rowsPerFile, Fixtures.topics(f % 2), s"s${i}_${f}_")
      val file = dir.resolve(f"drop-$f%03d.json")
      Files.write(file, Fixtures.jsonLines(ps).getBytes("UTF-8"))
      // File streams order by modification time; keep it strictly increasing.
      Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(1600000000000L + f * 1000L))
      val c = Fixtures.cleanPosts(ps)
      val (v, e) = Fixtures.graph(c, Nil, Nil)
      rows += ps.size; clean += c.size; vertices += v.values.sum; edges += e.values.sum
    }
    Drop(dir.toString, rows, clean, vertices, edges)
  }

  /** Drains one landing zone and checks what it appended. Returns the
    * seconds from `start()` to AvailableNow termination and each batch's
    * progress, or None when the drain threw or appended wrong tables. */
  def drain(ctx: Ctx, tracer: Tracer, d: Drop, name: String, scorer: Enrich.TextScorer,
            span: Boolean = true): Option[(Double, Seq[StreamingQueryProgress])] = {
    val (out, ckpt) = (ctx.dir(s"$name-out"), ctx.dir(s"$name-checkpoint"))
    def run() = {
      val q = SocialStream.runPipeline(ctx.spark, d.dir, out, Fixtures.blacklist, scorer,
        ckpt, Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    try {
      val (q, s) = Stats.seconds(if (span) tracer.span("streaming.drain")(run()) else run())
      val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
      val errors = q.exception.map(e => s"query failed: $e").toSeq ++ check(ctx, out, d, progress.size)
      errors.foreach(m => System.err.println(s"stream refresh: $m"))
      if (errors.isEmpty) Some((s, progress)) else None
    } catch {
      case e: Exception => System.err.println(s"stream refresh: drain failed: $e"); None
    } finally {
      Out.rmTree(Paths.get(out)); Out.rmTree(Paths.get(ckpt)); Out.rmTree(Paths.get(d.dir))
    }
  }

  def triggerMs(p: StreamingQueryProgress): Double = p.durationMs.get("triggerExecution").doubleValue

  /** Streaming-layer metrics from the progress events of traced drains that
    * ran between the given wall-clock (start, end) milliseconds. */
  def layers(progress: Seq[StreamingQueryProgress], drains: Seq[(Long, Long)]): Map[String, Double] = {
    def phase(k: String) = Stats.median(progress.map(_.durationMs.getOrDefault(k, 0L).doubleValue))
    def ms(iso: String) = java.time.Instant.parse(iso).toEpochMilli
    // Start: call to the first trigger; stop: end of the last trigger to termination.
    val byQuery = progress.groupBy(_.id).values.toSeq.sortBy(ps => ps.map(p => ms(p.timestamp)).min)
    val startStop = byQuery.zip(drains).map { case (ps, (t0, t1)) =>
      val last = ps.maxBy(p => ms(p.timestamp))
      (ps.map(p => ms(p.timestamp)).min - t0.toDouble, t1 - (ms(last.timestamp) + triggerMs(last)))
    }
    Map(
      "streaming.batches" -> progress.size.toDouble / drains.size,
      "streaming.start_ms" -> Stats.median(startStop.map(_._1)),
      "streaming.stop_ms" -> Stats.median(startStop.map(_._2)),
      "streaming.add_batch_ms" -> phase("addBatch"),
      "streaming.query_planning_ms" -> phase("queryPlanning"),
      "streaming.commit_offsets_ms" -> phase("commitOffsets"),
      "streaming.wal_commit_ms" -> phase("walCommit"),
      "streaming.latest_offset_ms" -> phase("latestOffset"),
      "streaming.get_batch_ms" -> phase("getBatch"),
      "streaming.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble)))
  }

  /** Compares one drain's appended tables and batch count with the model. */
  def check(ctx: Ctx, out: String, d: Drop, batches: Int): Seq[String] = {
    def count(t: String, ddl: String) = Out.read(ctx.spark, s"$out/$t.parquet", ddl).count()
    val (enriched, v, e) = (count("posts_enriched", "id STRING"), count("vertices", Out.vertices),
      count("edges", Out.edges))
    Seq(
      (batches == filesPerDrain) -> s"$batches micro-batches for $filesPerDrain files",
      (enriched == d.clean) -> s"posts_enriched $enriched, expected ${d.clean}",
      (v == d.vertices) -> s"vertices $v, expected ${d.vertices}",
      (e == d.edges) -> s"edges $e, expected ${d.edges}")
      .collect { case (false, msg) => msg }
  }
}
