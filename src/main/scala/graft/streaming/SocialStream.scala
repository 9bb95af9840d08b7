package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming re-expression of the reference's cron-based
  * micro-batch pipeline (SURVEY.md §2.10):
  *
  *  - 15-min EventBridge cadence (`terraform/main.tf:200-205`) → file-source
  *    micro-batches / `Trigger.ProcessingTime`;
  *  - each batch covers a tumbling window of event time
  *    (`reddit/lambda_function_initial.py:35-36,47-48`) → `window(ts, "15 minutes")`;
  *  - the deliberate 2-day-late re-crawl that rewrites engagement counts
  *    (`reddit/lambda_function_aggregate.py:38`) → a 2-day watermark, so
  *    late records still update their window;
  *  - Glue job bookmarks (`terraform/main.tf:374`) → checkpointed
  *    exactly-once file sink;
  *  - Cypher MERGE-on-id upsert (`glue/twitter_glue.py:76`) →
  *    `dropDuplicatesWithinWatermark` / stateful latest-wins.
  */
object SocialStream {

  /** Micro-batch JSON landing-zone source with a pinned schema (never
    * inference — the stream must not change shape under a malformed file).
    */
  def readJsonStream(spark: SparkSession, path: String, schema: StructType,
                     maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(path)

  /** Micro-batch PARQUET landing source — identical file-stream semantics
    * (mtime ordering, maxFilesPerTrigger batching, pinned schema) at
    * columnar read cost. The raw-JSON drop shape stays covered by
    * [[readJsonStream]]; use this for landing zones the pipeline itself
    * compacted, where the operator downstream (state, joins, windows) is
    * what's under test rather than the decode.
    */
  def readParquetStream(spark: SparkSession, path: String, schema: StructType,
                        maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Tumbling-window engagement counts with a late-data watermark. Output
    * columns: window_start, window_end, the group keys, n.
    */
  def tumblingCounts(df: DataFrame, tsCol: String, keyCols: Seq[String],
                     windowLen: String = "15 minutes",
                     watermark: String = "2 days"): DataFrame =
    // window(ts, d) is window(ts, d, d): a tumbling window is a sliding
    // one whose slide equals its length, so the plan is the same
    slidingCounts(df, tsCol, keyCols, windowLen, windowLen, watermark)

  /** Sliding-window twin of [[tumblingCounts]]: each event contributes to
    * windowLen/slide overlapping windows, so the state store holds that
    * many open aggregates per (key, alignment) — the rolling-24h live
    * dashboard shape. Spark replicates map-side (Expand), never
    * self-joins the stream.
    */
  def slidingCounts(df: DataFrame, tsCol: String, keyCols: Seq[String],
                    windowLen: String, slide: String,
                    watermark: String = "2 days"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), windowLen, slide) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(col("window.start").as("window_start"),
        col("window.end").as("window_end")) ++ keyCols.map(col) :+ col("n")): _*)

  /** Streaming sessionization: per-key event counts per activity session,
    * where a session extends while consecutive events arrive within
    * `gap`. The stateful streaming twin of the batch `session_window`
    * aggregate (q10/q49's shape): Spark keeps one merging-session state
    * per key, so out-of-order events within the watermark can FUSE two
    * open sessions — state the batch path never exercises. Output (in
    * append mode, once the watermark passes a session's end):
    * session_start, session_end, the key columns, n.
    *
    * Append mode only emits CLOSED sessions — drive the watermark past
    * the data (e.g. a sentinel row far in the future) to flush the tail.
    */
  def sessionCounts(df: DataFrame, tsCol: String, keyCols: Seq[String],
                    gap: String = "30 minutes",
                    watermark: String = "0 seconds"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy((session_window(col(tsCol), gap) +: keyCols.map(col)): _*)
      .agg(count(lit(1)).as("n"))
      .select((Seq(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end")) ++
        keyCols.map(col) :+ col("n")): _*)

  /** Streaming dedup on id across the watermark: first record wins within
    * the watermark horizon (the MERGE-on-id idempotence of the reference's
    * graph sink).
    */
  def dedupWithinWatermark(df: DataFrame, tsCol: String, idCols: Seq[String],
                           watermark: String = "2 days"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Stream-stream event-time interval join: `left` rows match `right`
    * rows with the same key whose timestamp falls in
    * `[left.ts, left.ts + maxGap]` — the attribution join (view→click,
    * post→comment) the reference answers by re-scanning accumulated
    * tables every cadence; here both sides are unbounded streams and Spark
    * buffers only the watermark-bounded tail of each in the state store.
    * Both sides MUST carry distinct column names (rename before calling).
    *
    * The time-range predicate is what makes state finite: with watermark
    * `w`, left rows older than `w + maxGap` past the max event time and
    * right rows older than `w` are evicted. An equality-only stream-stream
    * join would buffer forever.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   leftKey: String, rightKey: String,
                   leftTs: String, rightTs: String,
                   maxGap: String, watermark: String = "2 days",
                   joinType: String = "inner"): DataFrame = {
    // Outer variants need BOTH the watermarks and the time-range bound
    // (present here by construction): an unmatched left row emits with
    // nulls once the watermark passes `leftTs + maxGap` — the state
    // eviction deadline doubles as the null-emission trigger.
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $maxGap"),
      joinType)
  }

  /** Latest-wins engagement state per key: emits the current best (newest
    * event-time) record for a key whenever it changes — the streaming
    * equivalent of the 2-day re-crawl overwriting score/commentCount
    * (`reddit/lambda_function_aggregate.py:59-71`). Custom state via
    * flatMapGroupsWithState (update mode); state expires via event-time
    * timeout once the watermark passes the key's newest record by
    * `stateTimeoutMs` — the same 2-day horizon as the re-crawl.
    */
  case class Engagement(id: String, ts: java.sql.Timestamp, score: Int)

  def latestWinsState(ds: Dataset[Engagement],
                      watermark: String = "2 days",
                      stateTimeoutMs: Long = 2L * 24 * 3600 * 1000): Dataset[Engagement] = {
    import ds.sparkSession.implicits._
    ds.withWatermark("ts", watermark)
      .groupByKey(_.id)
      .flatMapGroupsWithState[Engagement, Engagement](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (_: String, rows: Iterator[Engagement], state: GroupState[Engagement]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // Total order (ts, score): an arrival-order tie-break would
            // make the emitted state depend on batch splits and partition
            // iteration order — unverifiable against any oracle.
            val newest = (rows ++ state.getOption.iterator)
              .reduceOption { (a, b) =>
                val c = a.ts.compareTo(b.ts)
                if (c > 0 || (c == 0 && a.score >= b.score)) a else b
              }
            newest match {
              case Some(n) =>
                // timeout must be strictly beyond the current watermark
                state.setTimeoutTimestamp(
                  math.max(n.ts.getTime + stateTimeoutMs,
                    state.getCurrentWatermarkMs() + 60000L))
                if (!state.getOption.contains(n)) {
                  state.update(n)
                  Iterator.single(n)
                } else Iterator.empty
              case None => Iterator.empty
            }
          }
      }
  }

  /** One pre-aggregated day of one monitored series. */
  case class DailyVal(key: String, day: Long, v: Long)

  /** Running CUSUM summary emitted per key per micro-batch. */
  case class CusumSummary(key: String, last_day: Long, days_seen: Long,
                          n_alarms: Long, max_cusum: Long)

  /** CUSUM per-key state — five longs, constant in history length.
    * (Top-level public like [[Engagement]]: the state encoder's generated
    * code constructs it reflectively, which a private nested class breaks
    * at Janino compile time.)
    */
  case class CusumSt(prefix: Long, minPrefix: Long, daysSeen: Long,
                     nAlarms: Long, maxCusum: Long, lastDay: Long)

  /** One event for the streaming contribution cap. */
  case class CapEvent(user: Long, us: Long, eventId: Long, vc: Long)

  /** Cap summary emitted per user per micro-batch (all monotone). */
  case class CapSummary(user: Long, nSeen: Long, nKept: Long,
                        sumKeptCents: Long)

  /** Cap per-user state — five longs, constant in history length. */
  case class CapSt(nSeen: Long, nKept: Long, sumKept: Long,
                   lastUs: Long, lastId: Long)

  /** Streaming bounded-contribution cap (q284's batch window as live
    * state): per user, keep the FIRST k events in event-time order and
    * accumulate their cents — the user-level DP prerequisite running
    * against the live stream instead of a nightly batch. State is five
    * longs per user regardless of history. Event order is semantics:
    * across batches the landing must deliver time slices in order
    * (orderedLanding pins modtimes) — a violation fails LOUDLY rather
    * than silently keeping the wrong k events.
    *
    * Per-batch memory is O(k), not O(events per user per batch) (r13;
    * the r12 form sorted the whole group via toSeq): only the
    * (k − nKept) order-smallest events of the batch can ever be kept, so
    * a bounded max-heap selects them in one pass while running counters
    * track the batch min/max for the order contract. A hot user landing
    * millions of events in one micro-batch costs k heap slots, not a
    * materialized sorted copy. The order require covers the batch
    * boundary (batch-min vs state), the kept prefix (strictly
    * increasing), and slice replay (multiplicity of the running batch
    * min/max — a replayed slice duplicates its own extremes, so this
    * catches it in O(1) memory in any iterator order). Residual
    * relaxation vs the r12 O(n) sort form: a single interior duplicate
    * that is neither a batch extreme nor kept goes undetected — it can
    * only inflate nSeen, never the kept set or sumKept, and the oracle
    * gate (batch replay over the same landing) still catches it at
    * verify time.
    */
  def contributionCapState(ds: Dataset[CapEvent], k: Int): Dataset[CapSummary] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user)
      .flatMapGroupsWithState[CapSt, CapSummary](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[CapEvent], state: GroupState[CapSt]) =>
          var st = state.getOption.getOrElse(
            CapSt(0L, 0L, 0L, Long.MinValue, Long.MinValue))
          val need = math.max(k - st.nKept, 0L).toInt
          val heap = scala.collection.mutable.PriorityQueue
            .empty[CapEvent](Ordering.by(r => (r.us, r.eventId)))
          var n = 0L
          var minUs = Long.MaxValue; var minId = Long.MaxValue
          var maxUs = Long.MinValue; var maxId = Long.MinValue
          // Multiplicity of the running extremes (O(1) memory): a
          // replayed landing slice duplicates every event in it —
          // including whichever is the batch min/max — so nMin/nMax > 1
          // catches slice replay exactly, in any iterator order, without
          // materializing the discarded tail (ADVICE r13; the r12 sort
          // form caught this at O(n) memory). A single interior
          // duplicate that is neither extreme nor kept remains
          // undetected — that residual relaxation is deliberate and
          // documented in the scaladoc.
          var nMin = 0L; var nMax = 0L
          rows.foreach { r =>
            n += 1
            if (r.us < minUs || (r.us == minUs && r.eventId < minId)) {
              minUs = r.us; minId = r.eventId; nMin = 1L
            } else if (r.us == minUs && r.eventId == minId) nMin += 1L
            if (r.us > maxUs || (r.us == maxUs && r.eventId > maxId)) {
              maxUs = r.us; maxId = r.eventId; nMax = 1L
            } else if (r.us == maxUs && r.eventId == maxId) nMax += 1L
            if (need > 0) {
              if (heap.size < need) heap.enqueue(r)
              else {
                val top = heap.head
                if (r.us < top.us ||
                    (r.us == top.us && r.eventId < top.eventId)) {
                  heap.dequeue(); heap.enqueue(r)
                }
              }
            }
          }
          if (n > 0) {
            require(minUs > st.lastUs ||
              (minUs == st.lastUs && minId > st.lastId),
              s"cap event ($minUs, $minId) arrived at/behind " +
                s"(${st.lastUs}, ${st.lastId}) for user $user — the " +
                "landing broke time order")
            require(nMin == 1L && nMax == 1L,
              s"cap events ($minUs, $minId)×$nMin / ($maxUs, $maxId)×$nMax " +
                s"for user $user — a duplicated batch extreme means the " +
                "landing replayed a slice")
            var pu = st.lastUs; var pi = st.lastId
            var addSum = 0L
            var addKept = 0L
            heap.dequeueAll.reverseIterator.foreach { (r: CapEvent) =>
              require(r.us > pu || (r.us == pu && r.eventId > pi),
                s"cap event (${r.us}, ${r.eventId}) duplicates/reorders " +
                  s"($pu, $pi) for user $user — the landing broke time order")
              pu = r.us; pi = r.eventId
              addSum += r.vc; addKept += 1L
            }
            st = CapSt(st.nSeen + n, st.nKept + addKept,
              st.sumKept + addSum, maxUs, maxId)
          }
          state.update(st)
          Iterator.single(CapSummary(user, st.nSeen, st.nKept, st.sumKept))
      }
  }

  /** Streaming one-sided CUSUM changepoint monitor (q214's batch scan as
    * live state): per key, s_n = max(0, s_{n-1} + (v_n − μ)) with an
    * alarm when s_n exceeds the key's threshold (alarmAt). Maintained in CLOSED FORM —
    * s_n = prefix_n − min(0, min_{j≤n} prefix_j) — so state is five
    * longs per key regardless of history length, and the identical
    * arithmetic replays as a batch window for the oracle.
    *
    * μ is a bounded model artifact (one long per monitored key, computed
    * batch-side from the baseline window and closed over), the same
    * class as a centroid table. Day order is semantics: within a batch
    * rows sort by day; across batches the landing must deliver days in
    * order (orderedLanding pins modtimes) — a violation fails LOUDLY
    * rather than corrupting the recurrence.
    */
  def cusumState(ds: Dataset[DailyVal], mu: Map[String, Long],
                 alarmAt: Map[String, Long]): Dataset[CusumSummary] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[CusumSt, CusumSummary](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[DailyVal], state: GroupState[CusumSt]) =>
          val m = mu.getOrElse(key, 0L)
          val h = alarmAt.getOrElse(key, Long.MaxValue)
          var st = state.getOption.getOrElse(
            CusumSt(0L, 0L, 0L, 0L, 0L, Long.MinValue))
          rows.toSeq.sortBy(_.day).foreach { r =>
            require(r.day > st.lastDay,
              s"CUSUM day ${r.day} arrived at/behind ${st.lastDay} for $key" +
                " — the landing broke day order")
            val prefix = st.prefix + (r.v - m)
            val minP = math.min(st.minPrefix, prefix)
            val s = prefix - minP
            st = CusumSt(prefix, minP, st.daysSeen + 1,
              st.nAlarms + (if (s > h) 1L else 0L),
              math.max(st.maxCusum, s), r.day)
          }
          state.update(st)
          Iterator.single(CusumSummary(key, st.lastDay, st.daysSeen,
            st.nAlarms, st.maxCusum))
      }
  }

  /** Checkpointed exactly-once parquet sink (bookmark semantics). */
  def toParquetSink(df: DataFrame, path: String, checkpoint: String,
                    trigger: Trigger = Trigger.ProcessingTime("15 minutes")): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .outputMode(OutputMode.Append())
      .start()

  /** The full §3 lifecycle as one streaming job: JSON landing → clean →
    * enrich → graph-as-tables, via foreachBatch. Each micro-batch fills its
    * enriched posts once, executor-local, and appends them and their
    * posts-only graph ([[graft.graph.GraphBuilder.postVertices]],
    * [[graft.graph.GraphBuilder.postEdges]]) concurrently from the filled
    * frame ([[graft.pipeline.SocialPipeline.writeSinks]]): every clean row
    * is scored once, and a lost executor fails the batch instead of
    * silently rescoring. `dropDuplicates` on the merge keys inside the batch
    * keeps writes idempotent-shaped exactly like the Cypher MERGE the
    * reference issues per record (`glue/twitter_glue.py:74-105`) — but as
    * one distributed plan per batch, not per-row transactions.
    */
  def runPipeline(spark: SparkSession, postsLanding: String, outDir: String,
                  blacklist: Seq[String], scorer: graft.enrich.Enrich.TextScorer,
                  checkpoint: String,
                  trigger: Trigger = Trigger.ProcessingTime("15 minutes")): StreamingQuery = {
    import graft.graph.GraphBuilder
    import graft.pipeline.SocialPipeline
    val stream = readJsonStream(spark, postsLanding, graft.schemas.Schemas.redditPosts)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val enriched = SocialPipeline.enrich(
          SocialPipeline.cleanPosts(batch, blacklist), "content", scorer)
        def append(name: String)(build: DataFrame => DataFrame): Seq[DataFrame] => Unit =
          facts => build(facts.head).write.mode("append").parquet(s"$outDir/$name.parquet")
        SocialPipeline.writeSinks(Seq(enriched), Seq(append("posts_enriched")(identity),
          append("vertices")(GraphBuilder.postVertices), append("edges")(GraphBuilder.postEdges)))
      }
      .start()
  }
}
