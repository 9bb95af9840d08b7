package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.GraftSparkAccess
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.Tables
import graft.sinks.JdbcUpsertSink
import graft.streaming.SocialStream
import graft.expressions.CharHash

/** §2.10 Structured Streaming under the hard CORRECTNESS gate.
  *
  * Each query drives the real streaming path end-to-end: dump a landing
  * zone from the sf tables (the reference's 15-min scrape drops,
  * `terraform/main.tf:200-205` — raw JSON where the drop format itself is
  * under test (q66/q67/q111), compacted parquet for the event-heavy
  * stateful fixtures), run a `SocialStream` operator over file-source
  * micro-batches (`maxFilesPerTrigger=1`, so multiple batches really
  * happen — ProfileSpec counts them), drain it through [[drain]] and
  * return the sink as a DataFrame whose oracle is plain SQL over the SAME
  * source table. Batch analogs (q11/q49) cover the window semantics;
  * these cover the streaming CODE — source, watermark plumbing, state
  * store, sink — none of which the batch path touches.
  *
  * One drain serves every query: start, process all available input,
  * stop, read back. The sink follows from the output mode (memory for
  * complete, the checkpointed parquet file sink for append, foreachBatch
  * parquet appends for update). Checkpoints, sink output and scratch all
  * live under one per-JVM root in Spark's local dir, which Spark deletes
  * at exit.
  *
  * Determinism: the file source does not guarantee batch order, so every
  * query here (a) reduces the sink to an order-insensitive final answer
  * (complete-mode aggregate / latest-wins max / exactly-once dedup of
  * identical rows) and (b) uses a far-future watermark horizon, because
  * late-row dropping depends on which batch a row lands in. The 2-day
  * horizon of the reference's re-crawl is exercised in SocialStreamSpec,
  * where batch boundaries are controlled.
  */
object StreamQueries {

  /** Never-late watermark: keeps results independent of batch splits. */
  private val Horizon = "36500 days"

  /** Dump `df` as an `n`-file landing dir in `format`, once per (key, sf
    * dir) — the landing zone is input fixture, not the operator under
    * test. JSON keeps the raw drop shape where the decode is under test
    * (q66/q67; q111 writes its byte-exact corrupt lines itself);
    * everything else streams compacted parquet: the timed passes re-read
    * every landing file per invocation, and at sf0.1 the 100-200k-line
    * JSON parse IS the query's wall time.
    */
  private def landing(format: String, key: String, sfDir: String,
                      df: => DataFrame, n: Int, splitCol: String): String =
    FixtureCache.dir(key, sfDir) { dir =>
      df.repartition(n, col(splitCol)).write.mode("overwrite").format(format).save(dir)
    }

  /** One-file landing with the sentinel rows folded INTO the data file:
    * a watermark computed from batch N only takes effect in batch N+1,
    * and with noDataMicroBatches on that next batch exists with no data
    * — so the sentinel needs no file (= micro-batch) of its own. Saves
    * a whole batch of state-store commits + planning (~1 s at sf0.1)
    * per invocation for the eviction-driven fixtures (q104, q126),
    * with emissions identical: data buffers in batch 0's state, the
    * no-data batch applies the far-future watermark and flushes
    * timeouts / outer rows. Cross-batch STATE coverage deliberately
    * stays with the multi-file fixtures (q98's two files per side,
    * q66/q67/q68's two-file landings).
    */
  private def parquetLandingFused(key: String, sfDir: String, df: => DataFrame,
                                  sentinel: => DataFrame): String =
    FixtureCache.dir(key, sfDir) { dir =>
      df.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(dir)
    }

  /** This JVM's stream root: every checkpoint, parquet sink output,
    * ordered-landing scratch dir and q72 Derby shard lives under it. It
    * sits in Spark's local dir (`spark.local.dir` / `SPARK_LOCAL_DIRS`),
    * and Spark's shutdown hook deletes it recursively at exit. A
    * deployment that wants tmpfs checkpoints points `spark.local.dir` at
    * one.
    */
  private lazy val streamRoot: String = GraftSparkAccess.localTempDir("graft-stream")

  /** Process everything the query's sources hold — including the
    * trailing no-data batch that applies the last watermark — then stop.
    */
  private def runToEnd(q: StreamingQuery): Unit =
    try q.processAllAvailable() finally q.stop()

  /** Run `df` to the end of its input and hand the sink back as a
    * DataFrame. The sink follows from the output mode:
    *  - complete: memory sink. Its output is bounded by the group count.
    *  - append: the checkpointed parquet file sink
    *    ([[SocialStream.toParquetSink]] at `writeStream`'s default
    *    trigger). The readback honours its _spark_metadata commit log, so
    *    it reads exactly the committed set.
    *  - update: foreachBatch appends each micro-batch's rows to parquet
    *    (the file sink is append-only). The readback holds EVERY emission;
    *    callers reduce per key with max / latest-wins, which also absorbs
    *    task replays.
    * Row-emitting outputs are data-sized, so they stay on disk and
    * distributed instead of in driver heap: the r14 sf10 probe OOM'd an
    * 8 GiB driver serializing q68's 20M-row memory-sink readback. Parquet
    * readbacks pass the plan's schema, because a zero-row stream writes
    * no part file and schema inference on that throws where it should
    * read 0 rows.
    */
  private def drain(df: DataFrame, mode: String): DataFrame = {
    val name = "drain_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val out = s"$streamRoot/${name}_out"
    runToEnd(mode match {
      case "complete" =>
        df.writeStream.format("memory").queryName(name).outputMode(mode).start()
      case "append" =>
        SocialStream.toParquetSink(df, out, s"$streamRoot/$name", Trigger.ProcessingTime(0))
      case "update" =>
        df.writeStream.queryName(name).outputMode(mode)
          .foreachBatch { (b: Dataset[Row], _: Long) =>
            b.write.mode("append").parquet(out)
          }.start()
    })
    if (mode == "complete") df.sparkSession.table(name)
    else df.sparkSession.read.schema(df.schema).parquet(out)
  }

  /** N-file landing with PINNED batch order: `slices(i)` becomes batch
    * i. The file source processes oldest-modtime first
    * (latestFirst=false), so the files' modification times — set a
    * minute apart — pin which rows establish the watermark and which
    * arrive behind it. This is the determinism the Horizon queries
    * side-step: here the batch split IS the semantics under test.
    */
  private def orderedLanding(key: String, sfDir: String,
                             slices: Seq[() => DataFrame]): String =
    FixtureCache.dir(key, sfDir) { dir =>
      def writeOne(df: DataFrame, name: String, mtime: Long): Unit = {
        val tmp = Files.createTempDirectory(Paths.get(streamRoot), "ord_").toString
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no parquet part in $tmp"))
        val dst = Paths.get(dir, name)
        Files.move(part.toPath, dst): Unit
        if (!dst.toFile.setLastModified(mtime))
          sys.error(s"cannot set mtime on $dst")
      }
      val t = System.currentTimeMillis()
      slices.zipWithIndex.foreach { case (df, i) =>
        writeOne(df(), s"batch$i.parquet", t - 60000L * (slices.size - i))
      }
    }

  /** Clone of `s` (shared SparkContext, own SQLConf) with shuffle
    * partitions sized for the stream's keyspace, POOLED per parent
    * session: stream queries are invoked 4× per bench (warmup + three
    * timed passes) and concurrently by Verify's thread pool, and the
    * per-invocation session construction (SessionState, catalog,
    * listener registration) is pure fixed cost — one clone serves them
    * all. Concurrent queries coexist in one session (each drain names
    * its own query). Its checkpoint root is [[streamRoot]]: a query gets
    * `streamRoot/<query name, else a UUID>`.
    *
    * Stateful operators keep one state-store partition per shuffle
    * partition PER micro-batch, so the state width comes from the sizing
    * rule (graft.streaming.StateSizing: partitions ~ keyspace·bytes / per-
    * task budget, independent of batch shuffle width). Most gate
    * fixtures' keyspaces are hundreds of keys → the 4-partition floor,
    * the measured optimum of the r11 width A/B. Queries whose state is
    * DATA-sized (q68's per-event dedup keys) pass their actual keyspace
    * estimate, so the width grows with the data: at the gate SFs the
    * estimate still lands on the floor, at the sf10 probe q68's ~20M keys
    * derive 11 partitions. Pooled per (parent, width): same-width queries
    * share one clone. The state store is Spark's HDFS-backed default:
    * RocksDB measured strictly slower at these state sizes (NOTES round
    * 11: q68 2.7 s vs 2.1 s at sf0.1, 20.1 s vs 8.1 s at sf1). Results do
    * not depend on the width or the provider — SocialStreamSpec pins that
    * at widths 4 and 32 under both providers.
    */
  private val sessionPool =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int), SparkSession]()
  private def streamSession(s: SparkSession,
                            estimatedKeys: Long = 1024): SparkSession = {
    val stateParts = graft.streaming.StateSizing.statePartitionsLogged(
      estimatedKeys = estimatedKeys,
      batchShuffleWidth = s.sessionState.conf.numShufflePartitions)
    sessionPool.computeIfAbsent((s, stateParts),
      new java.util.function.Function[(SparkSession, Int), SparkSession] {
        override def apply(k: (SparkSession, Int)): SparkSession = {
          val s2 = k._1.newSession()
          s2.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
          // AQE never applies inside micro-batch plans, and the session's
          // OTHER queries (memory-sink readbacks, 1-row sentinels) are
          // tiny — AQE's per-action query-stage materialization is pure
          // added latency (~0.15 s each, measured in Scratch2).
          s2.conf.set("spark.sql.adaptive.enabled", "false")
          s2.conf.set("spark.sql.streaming.checkpointLocation", streamRoot)
          // NOTE deliberately NOT disabling noDataMicroBatches: a
          // watermark computed from batch N's data only takes effect in
          // batch N+1, so the trailing no-data batch is where
          // sentinel-driven final emissions (q104's session closes,
          // q126's outer-join nulls) happen. For Horizon-watermark
          // queries it never fires anyway (the 36500-day delay floors
          // the watermark below epoch — measured: zero cost).
          s2
        }
      })
  }

  /** Cached events-table row count per sf dir — the keyspace estimate for
    * the DATA-sized stream states (one dedup key per event). Counted once
    * per JVM per dir off the parquet footers' row counts.
    */
  private val eventsCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def eventsRowCount(s: SparkSession, dir: String): Long =
    eventsCountCache.computeIfAbsent(dir,
      new java.util.function.Function[String, java.lang.Long] {
        override def apply(d: String): java.lang.Long =
          // Through Tables.load, not a raw parquet read: the events table's
          // physical ts type varies (nanos-as-long needs a legacy conf) and
          // only the loader owns that contract; footer-count pushdown still
          // applies to the count.
          java.lang.Long.valueOf(Tables.load(s, d, "events").count())
      }).longValue()

  /** Events projected to (event_id, ts_us, event_type, value_cents):
    * timestamps ride through JSON as epoch micros (lossless, no format
    * ambiguity), money as integer cents (exact).
    */
  private def eventsFlat(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").select(
      col("event_id"),
      unix_micros(col("ts")).as("ts_us"),
      col("event_type"),
      round(col("value") * 100, 0).cast("long").as("value_cents"))

  private val eventsFlatSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("event_type", StringType),
    StructField("value_cents", LongType)))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.10 ⊕ sketches: windowed DISTINCT inside the STREAMING
    // aggregation state — the KMV bottom-k buffer (q158's engine) rides
    // the state store per (window, type) group and OR/merge-collapses
    // duplicate hashes across micro-batches, so the state holds ≤ k longs
    // per group forever instead of the key universe (the 100 TB form of
    // streaming COUNT DISTINCT). Sub-k groups report the EXACT distinct
    // count; estimator-regime groups report the (k-1)·M div h_k order
    // statistic — both replayed bit-for-bit by the oracle, no tolerance
    // needed.
    "q173_stream_distinct" -> ((s, dir) => {
      import graft.functions.KmvAgg
      // Compacted landing: the raw-JSON drop shape is covered by
      // q66/q67/q111; here the operator under test is the KMV state, and
      // the JSON parse of the full events table was the invocation's
      // fixed cost at sf0.1.
      val src = landing("parquet", "events_x2_pq", dir, eventsFlat(s, dir), 2, "event_id")
      val ss = streamSession(s)
      val stream = SocialStream
        .readParquetStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .withColumn("h", graft.dedup.Dedup.charHash(
          concat(col("value_cents").cast("string"), lit("#sd"))))
      val agg = stream.withWatermark("ts", Horizon)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(KmvAgg.kmv(128)(col("h")).as("sk"))
      drain(agg, "complete")
        .select(unix_seconds(col("window.start")).as("bucket_start"),
          col("event_type"),
          size(col("sk")).cast("long").as("k_filled"),
          KmvAgg.estimate(128, col("sk")).as("n_distinct_est"))
        .orderBy(col("bucket_start"), col("event_type"))
    }),

    // §2.10 ⊕ ranking: top-k INSIDE the streaming aggregation state — the
    // k-bounded merge buffer (q80's engine) rides the state store per
    // (window, type) group, so streaming "top sellers per window" holds
    // ≤ k (value, id) pairs per group forever instead of buffering the
    // window's raw rows (the 100 TB form of streaming ranked leaderboards;
    // a rank window over the sink would re-sort the universe per batch).
    // Merge is order-insensitive (sorted k-merge), so batch splits can't
    // change the final buffer and the oracle replays it as a batch
    // row_number.
    "q184_stream_topk" -> ((s, dir) => {
      import graft.functions.TopKAgg
      // Compacted landing (see q173) — the state-store top-k is the
      // operator under test, not the JSON drop parse.
      val src = landing("parquet", "events_x2_pq", dir, eventsFlat(s, dir), 2, "event_id")
      val ss = streamSession(s)
      val stream = SocialStream
        .readParquetStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = stream.withWatermark("ts", Horizon)
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(TopKAgg.topK(3, col("value_cents"), col("event_id")).as("top"))
      drain(agg, "complete")
        .select(unix_seconds(col("window.start")).as("bucket_start"),
          col("event_type"), posexplode(col("top")))
        .select(col("bucket_start"), col("event_type"),
          (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("event_id"), col("col.v").as("value_cents"))
        .orderBy(col("bucket_start"), col("event_type"), col("rank"))
    }),

    // §2.10 tumbling-window counts: landing JSON → file-source micro-batches
    // → window(15 min) + watermark agg → complete-mode drain.
    // Two files → two genuine micro-batches: multi-batch semantics at the
    // minimum lifecycle cost (each extra batch is pure fixed overhead ×3
    // bench passes).
    "q66_stream_tumbling" -> ((s, dir) => {
      val src = landing("json", "events_x2", dir, eventsFlat(s, dir), 2, "event_id")
      val ss = streamSession(s)
      val stream = SocialStream
        .readJsonStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = SocialStream.tumblingCounts(stream, "ts", Seq("event_type"),
        windowLen = "15 minutes", watermark = Horizon)
      drain(agg, "complete")
        .select(unix_seconds(col("window_start")).as("bucket_start"),
          col("event_type"), col("n"))
        .orderBy(col("bucket_start"), col("event_type"))
    }),

    // §2.10 SLIDING windows in the state store (q233's streaming twin):
    // each event feeds 4 overlapping 24h/6h window aggregates, so the
    // state holds windowLen/slide open rows per (alignment, type) — the
    // rolling live-dashboard shape. Complete-mode rollup is batch-split-
    // invariant; the oracle replays the k=0..3 replication arithmetic.
    "q236_stream_sliding" -> ((s, dir) => {
      val src = landing("parquet", "events_x2_pq", dir, eventsFlat(s, dir), 2, "event_id")
      val ss = streamSession(s)
      val stream = SocialStream
        .readParquetStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = SocialStream.slidingCounts(stream, "ts", Seq("event_type"),
        windowLen = "1 day", slide = "6 hours", watermark = Horizon)
      drain(agg, "complete")
        .select(unix_seconds(col("window_start")).as("w_start"),
          col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // §2.10 WATERMARK LATENESS, oracle-gated end-to-end: the reference
    // re-crawls engagement 2 days behind the scrape
    // (`reddit/lambda_function_aggregate.py:38`), so rows arriving ≥2
    // days behind the stream's max event time are beyond recovery and a
    // real deployment DROPS them at the watermark. Spark's late-event
    // filter runs one trigger BEHIND the displayed watermark (batch N
    // filters with the value that was current during batch N−1 —
    // verified empirically: a 2-batch fixture drops nothing), so the
    // fixture is THREE modtime-ordered files: batch 0 (Jan 10-20)
    // establishes max event time; batch 1 (the ≥ Jan 21 tail, all kept)
    // burns the delay trigger, after which the late-filter watermark is
    // batch 0's max − 2 days ≈ Jan 18.x; batch 2 carries the pre-Jan-10
    // stragglers — every window end ≤ Jan 10, ≥8 days behind — which
    // are dropped, plus the fused far-future sentinel that flushes the
    // append-mode windows in the trailing no-data batch. Margins are so
    // wide that row-level vs window-level late filtering and </<=
    // boundary choices all agree. The oracle replays the drop rule in
    // batch SQL: windows whose end clears (batch-0 max ts − 2 days)
    // survive.
    "q237_stream_late_drop" -> ((s, dir) => {
      val ss = streamSession(s)
      val far = 7258118400000000L
      val jan10 = 1704844800000000L // 2024-01-10T00:00:00Z micros
      val jan21 = 1705795200000000L // 2024-01-21T00:00:00Z micros
      val src = orderedLanding("q237_ordered", dir, Seq(
        () => eventsFlat(s, dir)
          .filter(col("ts_us") >= jan10 && col("ts_us") < jan21),
        () => eventsFlat(s, dir).filter(col("ts_us") >= jan21),
        () => {
          import s.implicits._
          eventsFlat(s, dir).filter(col("ts_us") < jan10)
            .unionByName(Seq((-1L, far, "__sentinel", 0L))
              .toDF("event_id", "ts_us", "event_type", "value_cents"))
        }))
      val stream = SocialStream
        .readParquetStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val agg = stream.withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
      drain(agg, "append")
        .filter(col("event_type") =!= "__sentinel")
        .select(unix_seconds(col("window.start")).as("w_start"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy(col("w_start"), col("event_type"))
    }),

    // §2.10 ⊕ the corpus pipeline: q242's ingest stages AS A STREAM —
    // the shape a continuously-crawling corpus actually runs. Quality
    // gate (stateless expr) → shingle decontamination (stateless KERNEL
    // against a broadcast bench fingerprint set — Dedup.overlapCount;
    // the per-doc-agg form would be a second stateful operator, which
    // streaming chains forbid) → cross-batch exact dedup (dropDuplicates
    // state; unwatermarked here because the gate fixture is bounded —
    // q68 covers the watermarked form) → APPEND-mode corpus sink. The
    // per-lang report is a batch query OVER the sink: first-seen batch
    // per dup may vary with the split, but the emitted SET is
    // batch-split-invariant, which is all the rollup sees. Dedup keys on
    // (lang, text) exactly as the oracle states the contract; production
    // swaps in the 3-component fingerprint (q109) for bounded state.
    "q244_stream_corpus_ingest" -> ((s, dir) => {
      import graft.queries.{TextQueries => TQ}
      val ss = streamSession(s)
      val src = landing("parquet", "docs_x2_pq", dir,
        Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text")), 2, "doc_id")
      val docsSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType),
        StructField("text", StringType)))
      val benchHashes = graft.dedup.Dedup.shingleHashSets(
          Tables.load(ss, dir, "documents").filter(col("doc_id") % 97 === 0),
          "doc_id", "text", 3)
        .select(explode(col("sh")).as("h")).distinct()
        .collect().map(_.getLong(0))
      val stream = SocialStream
        .readParquetStream(ss, src, docsSchema, maxFilesPerTrigger = 1)
        .filter(col("doc_id") % 97 =!= 0)
        .filter(graft.ops.CoreOps.cents(
          graft.text.TextOps.qualityScore(col("text"), TQ.stopwords), 6)
          >= 700000L)
      val clean = graft.dedup.Dedup.overlapCount(stream, "text", 3, benchHashes)
        .filter(col("n_overlap") < 2)
        .dropDuplicates("lang", "text")
      drain(clean.select(col("lang"), col("text")), "append")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_toks"))
        .orderBy(col("lang"))
    }),

    // §2.10 stateful latest-wins (flatMapGroupsWithState): the streaming
    // form of the 2-day re-crawl overwriting engagement counts
    // (`reddit/lambda_function_aggregate.py:59-71`). The update-mode
    // drain keeps every state change; the newest emission per key is
    // the final state and is batch-split-invariant.
    "q67_stream_latest" -> ((s, dir) => {
      val ss = streamSession(s)
      import ss.implicits._
      val src = landing("json", "events_x2", dir, eventsFlat(s, dir), 2, "event_id")
      val stream = SocialStream
        .readJsonStream(ss, src, eventsFlatSchema, maxFilesPerTrigger = 1)
        .select(col("event_type").as("id"),
          timestamp_micros(col("ts_us")).as("ts"),
          col("value_cents").cast("int").as("score"))
        .as[SocialStream.Engagement]
      val updates = SocialStream.latestWinsState(stream, watermark = Horizon)
      drain(updates.toDF(), "update")
        .groupBy(col("id"))
        .agg(max(struct(col("ts"), col("score"))).as("best"))
        .select(col("id"), unix_micros(col("best.ts")).as("ts_us"),
          col("best.score").as("score"))
        .orderBy(col("id"))
    }),

    // §2.10 watermarked streaming dedup: the landing zone holds every
    // event TWICE (the reference's re-crawl re-lands objects); the stream
    // must emit each exactly once (MERGE-on-id idempotence,
    // `glue/twitter_glue.py:76`).
    "q68_stream_dedup" -> ((s, dir) => {
      val flat = eventsFlat(s, dir)
      val dir1 = landing("parquet", "q68_landing_pq", dir, flat.unionAll(flat), 2, "event_id")
      // DATA-sized state: one dedup key per distinct event_id ⇒ keyspace
      // = the events row count. Gate SFs derive the 4-partition floor
      // (unchanged); the sf10 probe's ~20M keys derive a width that
      // keeps per-partition state inside the task budget.
      val ss = streamSession(s, estimatedKeys = eventsRowCount(s, dir))
      val stream = SocialStream
        .readParquetStream(ss, dir1, eventsFlatSchema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val deduped = SocialStream.dedupWithinWatermark(stream, "ts",
        Seq("event_id"), watermark = Horizon)
      drain(deduped, "append")
        .select(col("event_id"), col("ts_us"), col("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    }),

    // §2.10 streaming SESSION windows — the one stateful shape the other
    // stream gates don't touch (merging-session state, append-mode
    // emission on watermark passage). Determinism: ALL real rows land as
    // ONE file → one micro-batch → nothing is ever late; a far-future
    // sentinel row rides INSIDE that file ([[parquetLandingFused]] — the
    // post-batch watermark passes every real session, and the trailing
    // no-data batch flushes them in append mode) — one start, one drain,
    // one data batch, landing built once per sf dir. The sentinel's own
    // open session never closes and is filtered out. Oracle = q49's
    // lag-based batch sessionization.
    "q104_stream_sessions" -> ((s, dir) => {
      val ss = streamSession(s)
      val src = parquetLandingFused("q104_landing_fused", dir,
        Tables.load(s, dir, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us")),
        {
          val maxTs = Tables.load(s, dir, "events")
            .agg(max(unix_micros(col("ts")))).head().getLong(0)
          import s.implicits._
          Seq((-1L, maxTs + 400L * 86400L * 1000000L)).toDF("user_id", "ts_us")
        })
      val schema = StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts_us", LongType)))
      val stream = SocialStream
        .readParquetStream(ss, src, schema, maxFilesPerTrigger = 1)
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val sessions = SocialStream.sessionCounts(stream, "ts",
        Seq("user_id"), gap = "30 minutes", watermark = "0 seconds")
      drain(sessions, "append")
        .filter(col("user_id") =!= -1L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // §2.10 stream-STATIC enrichment: micro-batched events joined to a
    // bounded dimension (nation, broadcast — no shuffle of the stream
    // side, no state store for the join; the dim is re-planned per batch,
    // which is exactly how a slowly-changing lookup behaves in prod).
    // Complete-mode rollup per dim attribute is batch-split-invariant.
    "q118_stream_static" -> ((s, dir) => {
      val ss = streamSession(s)
      val src = landing("parquet", "events_uid_pq", dir,
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          round(col("value") * 100, 0).cast("long").as("value_cents")),
        2, "event_id")
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("value_cents", LongType)))
      val stream = SocialStream
        .readParquetStream(ss, src, schema, maxFilesPerTrigger = 1)
      val dim = Tables.load(ss, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val agg = stream.withColumn("nk", col("user_id") % 25)
        .join(broadcast(dim), col("nk") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
      drain(agg, "complete").orderBy(col("n_name"))
    }),

    // §2.10 + decontamination composed: streaming LEFT ANTI join against
    // a STATIC standing-corpus fingerprint table — the stream-side twin
    // of q109/q140's incremental dedup (tonight's drop checked against
    // the benchmark/history set as it LANDS, not in a later batch job).
    // The anti join is per-row and stateless (the static side broadcasts
    // to every micro-batch), so the result is batch-split-invariant by
    // construction. Survivors roll up complete-mode per type.
    "q157_stream_decontam" -> ((s, dir) => {
      val ss = streamSession(s)
      val src = landing("parquet", "events_uid_pq", dir,
        Tables.load(s, dir, "events").select(
          col("event_id"), col("user_id"),
          round(col("value") * 100, 0).cast("long").as("value_cents")),
        2, "event_id")
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("value_cents", LongType)))
      val stream = SocialStream
        .readParquetStream(ss, src, schema, maxFilesPerTrigger = 1)
      // Standing contamination set: every 5th event id is "already in
      // the benchmark" (a real deployment loads this from the history
      // store; the fingerprint is the key, no payload crosses).
      val contaminated = Tables.load(ss, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"))
      val clean = stream.join(broadcast(contaminated), Seq("event_id"), "left_anti")
      val agg = clean
        .withColumn("bucket", col("user_id") % 10)
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
      drain(agg, "complete").orderBy(col("bucket"))
    }),

    // Schema-drift quarantine ON THE STREAM: the landing writer drops a
    // malformed line for every event_id % 13 = 0 (truncated upload);
    // PERMISSIVE streaming JSON keeps the pipeline alive and routes the
    // bad lines into _corrupt_record; the running quarantine/bucket
    // summary aggregates in complete mode. Order-insensitive by
    // construction (one final aggregate), so batch splits don't matter.
    "q111_stream_drift" -> ((s, dir) => {
      val ss = streamSession(s)
      // Raw text lines (not a json writer): corrupt lines must land as
      // they would from a truncated upload, byte for byte.
      val src = FixtureCache.dir("q111_drift", dir) { d =>
        Tables.load(s, dir, "events")
          .select(when(col("event_id") % 13 === 0,
              concat(lit("{\"event_id\": "), col("event_id").cast("string"),
                lit(", \"event_type\": \"tru")))
            .otherwise(to_json(struct(col("event_id"), col("event_type"))))
            .as("value"))
          .repartition(2, col("value"))
          .write.mode("overwrite").text(d)
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType)))
      val parsed = graft.sources.DriftIngest.readQuarantinedStream(
        ss, src, schema, maxFilesPerTrigger = 1)
      val summary = graft.sources.DriftIngest.quarantineSummary(parsed, "event_type")
      drain(summary, "complete").orderBy(col("bucket"))
    }),

    // §2.10 stream-stream interval join: views and clicks land as two
    // separate streaming sources; each view matches same-user clicks
    // within the next 2 hours. Inner join in append mode — the match set
    // is batch-split-invariant with a never-late watermark, and the
    // time-range predicate is what bounds the join state at scale.
    "q98_stream_join" -> ((s, dir) => {
      val ss = streamSession(s)
      def side(t: String, key: String) = {
        val src = landing("parquet", key + "_pq", dir,
          Tables.load(s, dir, "events").filter(col("event_type") === t)
            .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
              col("user_id")),
          2, "event_id")
        SocialStream.readParquetStream(ss, src, StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts_us", LongType),
          StructField("user_id", LongType))), maxFilesPerTrigger = 1)
      }
      val views = side("view", "q98_views").select(
        col("event_id").as("v_id"), col("user_id").as("v_user"),
        timestamp_micros(col("ts_us")).as("v_ts"))
      val clicks = side("click", "q98_clicks").select(
        col("event_id").as("c_id"), col("user_id").as("c_user"),
        timestamp_micros(col("ts_us")).as("c_ts"))
      val joined = SocialStream.intervalJoin(views, clicks,
        "v_user", "c_user", "v_ts", "c_ts",
        maxGap = "2 hours", watermark = Horizon)
      drain(joined, "append")
        .select(col("v_id"), col("c_id"), col("v_user").as("user_id"))
        .orderBy(col("v_id"), col("c_id"))
    }),

    // §2.10 stream-stream LEFT OUTER interval join — the missing half of
    // q98: views with NO click inside the 2-hour horizon must emit with
    // null once the watermark passes their deadline (state eviction =
    // null emission). Determinism: all real rows land as ONE file per
    // side (one batch, nothing late); the far-future sentinel (constant,
    // year ~2200 — the fixture's event times are bounded) rides INSIDE
    // that file on BOTH sides, so the trailing no-data batch applies the
    // post-batch watermark and flushes the outer rows — one data batch
    // total per side ([[parquetLandingFused]]). The landing dirs are
    // fully immutable → cached once per sf dir, no per-invocation copy
    // or append. The sentinels (user −1) match nothing and are filtered.
    "q126_stream_outer_join" -> ((s, dir) => {
      val ss = streamSession(s)
      val far = 7258118400000000L
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts_us", LongType),
        StructField("user_id", LongType)))
      def mk(t: String): String = parquetLandingFused(s"q126_${t}_fused", dir,
        Tables.load(s, dir, "events")
          .filter(col("event_type") === t)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            col("user_id")),
        {
          import s.implicits._
          Seq((-1L, far, -1L)).toDF("event_id", "ts_us", "user_id")
        })
      val vSrc = mk("view")
      val cSrc = mk("click")
      val views = SocialStream.readParquetStream(ss, vSrc, schema, 1).select(
        col("event_id").as("v_id"), col("user_id").as("v_user"),
        timestamp_micros(col("ts_us")).as("v_ts"))
      val clicks = SocialStream.readParquetStream(ss, cSrc, schema, 1).select(
        col("event_id").as("c_id"), col("user_id").as("c_user"),
        timestamp_micros(col("ts_us")).as("c_ts"))
      val joined = SocialStream.intervalJoin(views, clicks,
        "v_user", "c_user", "v_ts", "c_ts",
        maxGap = "2 hours", watermark = "0 seconds",
        joinType = "left_outer")
      drain(joined, "append")
        .filter(col("v_user") =!= -1L)
        .select(col("v_id"), col("c_id"), col("v_user").as("user_id"))
        .orderBy(col("v_id"), col("c_id"))
    }),

    // §2.10 + K3 composed: streaming micro-batches feeding an EXTERNAL
    // serving store through `foreachBatch` + the idempotent MERGE writer —
    // the streaming form of the reference's per-batch Neo4j load
    // (`glue/twitter_glue.py:185-186`). The landing zone holds every event
    // twice across batch boundaries; MERGE-on-key absorbs both the re-lands
    // and any task/batch replay, so the final table is exactly the distinct
    // events. Result = the store read back via the JDBC source.
    // Streaming CUSUM changepoint monitor (q214's batch scan as live
    // per-key state via flatMapGroupsWithState): daily value sums arrive
    // in three day-ordered slices (orderedLanding pins modtimes — day
    // order IS the recurrence's semantics); state is five longs per key
    // (closed form s_n = prefix_n − min(0, min prefix_j)), so it never
    // grows with history; μ and the alarm threshold are bounded
    // batch-side artifacts closed over like a centroid table. Readback
    // takes each key's newest emission (last_day strictly increases).
    "q264_stream_cusum" -> ((s, dir) => {
      val ss = streamSession(s)
      import ss.implicits._
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("v"))
        .localCheckpoint()
      // ONE bounded collect for both scalars (r17): daily is a grouped
      // small-domain frame (|types| × |days| rows — the class the
      // AnalyticsQueries collects already use), so d0 and the per-type
      // baseline mean come out of a single driver pass over the
      // checkpointed rows instead of two separate aggregate jobs. Same
      // integer floor division as the old sum(v) div count(1).
      val dailyRows = daily.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val d0 = dailyRows.iterator.map(_._2).min
      val mu = dailyRows.filter(_._2 < d0 + 15)
        .groupBy(_._1)
        .map { case (k, rows) =>
          val s0 = rows.iterator.map(_._3).sum
          // plain long division: truncation toward zero, exactly Spark's
          // IntegralDivide (`div`) that the old aggregate used
          k -> s0 / rows.length.toLong
        }
      val dailySchema = StructType(Seq(
        StructField("event_type", StringType),
        StructField("day", LongType),
        StructField("v", LongType)))
      val src = orderedLanding("q264_ordered", dir, Seq(
        () => daily.filter(col("day") < d0 + 10),
        () => daily.filter(col("day") >= d0 + 10 && col("day") < d0 + 20),
        () => daily.filter(col("day") >= d0 + 20)))
      val stream = SocialStream
        .readParquetStream(ss, src, dailySchema, maxFilesPerTrigger = 1)
        .select(col("event_type").as("key"), col("day"), col("v"))
        .as[SocialStream.DailyVal]
      val h = mu.map { case (k, m) => k -> m / 4 }
      drain(SocialStream.cusumState(stream, mu, h).toDF(), "update")
        .groupBy(col("key"))
        .agg(max(struct(col("last_day"), col("days_seen"), col("n_alarms"),
          col("max_cusum"))).as("f"))
        .select(col("key").as("event_type"), col("f.last_day").as("last_day"),
          col("f.days_seen").as("days_seen"), col("f.n_alarms").as("n_alarms"),
          col("f.max_cusum").as("max_cusum"))
        .orderBy(col("event_type"))
    }),

    // Streaming bounded-contribution cap (q284's batch window as
    // flatMapGroupsWithState): first k = 10 events per user in
    // event-time order, state five longs per user, fed in three
    // day-ordered slices (orderedLanding pins modtimes — slices
    // partition the day axis, so cross-batch time order is structural
    // and the kernel's order require() can never fire spuriously).
    // Readback keeps each user's newest emission (nSeen strictly
    // increases) and rolls up to user-decile buckets; the oracle
    // replays first-k with one per-user batch window.
    "q293_stream_contribution_cap" -> ((s, dir) => {
      val ss = streamSession(s)
      import ss.implicits._
      val e = Tables.load(s, dir, "events").select(col("user_id"),
          unix_micros(col("ts")).as("us"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("vc"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .localCheckpoint()
      val d0 = e.agg(min(col("day"))).head().getLong(0)
      def slice(lo: Long, hi: Long) = () =>
        e.filter(col("day") >= d0 + lo && col("day") < d0 + hi)
          .select(col("user_id").as("user"), col("us"),
            col("event_id").as("eventId"), col("vc"))
      val src = orderedLanding("q293_ordered", dir,
        Seq(slice(0, 10), slice(10, 20), slice(20, 100000)))
      val capSchema = StructType(Seq(
        StructField("user", LongType), StructField("us", LongType),
        StructField("eventId", LongType), StructField("vc", LongType)))
      val stream = SocialStream
        .readParquetStream(ss, src, capSchema, maxFilesPerTrigger = 1)
        .as[SocialStream.CapEvent]
      drain(SocialStream.contributionCapState(stream, 10).toDF(), "update")
        .groupBy(col("user"))
        .agg(max(struct(col("nSeen"), col("nKept"), col("sumKeptCents")))
          .as("f"))
        .select(col("user"), col("f.nSeen").as("n_seen"),
          col("f.nKept").as("n_kept"),
          col("f.sumKeptCents").as("sum_kept"))
        .groupBy((col("user") % 10).as("bucket"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_seen")).as("n_events_seen"),
          sum(col("n_kept")).as("n_events_kept"),
          sum(col("sum_kept")).as("sum_kept_cents"))
        .orderBy(col("bucket"))
    }),

    "q72_stream_upsert" -> ((s, dir) => {
      val flat = eventsFlat(s, dir).filter(col("event_id") % 7 === 0)
      val src = landing("parquet", "q72_landing_pq", dir, flat.unionAll(flat), 2, "event_id")
      // SHARDED serving store (r16, the r15 weak item): one embedded Derby
      // database per key shard instead of one store for everything. A
      // single embedded engine serializes every MERGE through the
      // per-database monitor and drains the readback through one
      // connection — the measured sf10 wall was store-bound (10.3x on 10x
      // data). Shards are independent engines: writers run in parallel
      // (one task per shard, keyed deterministically so retries/restarts
      // re-MERGE into the same store) and the readback is a UNION of one
      // scan per shard — the 100 TB shape, where the serving layer is
      // partitioned by key range and each partition sees one writer.
      // FILE-backed (a dir per invocation under the stream root): the
      // in-memory storage factory has a known race class under concurrent
      // batched MERGE (baseCC/_rowMakingMethod NPEs, seen at sf0.1) that
      // the directory-backed store does not — same mitigation
      // JdbcUpsertSinkSpec documents. Left alive for the JVM's lifetime
      // because the returned frame reads it lazily.
      // Shard count FROM DATA (the q68 StateSizing pattern): ~75k merged
      // rows per store, floor 1 (a Derby DB costs ~0.5 s to create — small
      // SFs must not pay 16 DDLs for 30k rows), cap 16 (the measured knee
      // at sf10: 16 parallel engines with 2000-row commit batches cut the
      // drain 41-52 s -> 18-24 s; 32 only reached 17 s for twice the DDL).
      // The map key->shard is fixed per invocation; a PERSISTENT sharded
      // store pins nShards via the per-store manifest (verifyManifest
      // refuses a mismatched N) and migrates with JdbcUpsertSink.reshard
      // — spec-pinned in JdbcUpsertSinkSpec (r17).
      val mergeRows = eventsRowCount(s, dir) / 7 * 2
      val nShards = math.max(1L, math.min(16L, (mergeRows + 74999) / 75000)).toInt
      val dbRoot = Files.createTempDirectory(Paths.get(streamRoot), "q72db_")
      val urls: IndexedSeq[String] = (0 until nShards).map(i =>
        "jdbc:derby:" + dbRoot.resolve(s"shard$i").toAbsolutePath + ";create=true")
      val table = "events_serving"
      urls.foreach { url =>
        val conn = java.sql.DriverManager.getConnection(url)
        try conn.createStatement().executeUpdate(
          s"CREATE TABLE $table (event_id BIGINT PRIMARY KEY, ts_us BIGINT, " +
            "event_type VARCHAR(64), value_cents BIGINT)")
        finally conn.close()
      }
      val stream = SocialStream
        .readParquetStream(streamSession(s), src, eventsFlatSchema, maxFilesPerTrigger = 1)
      runToEnd(stream.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // 2000-row commit batches: commits are the store's log syncs;
          // 500 (the default) measured 1.7-2.3x slower at sf10.
          JdbcUpsertSink.upsertSharded(batch, nShards, urls(_),
            table, Seq("event_id"), batchSize = 2000)
        }
        .start())
      urls.map { url =>
          s.read.format("jdbc")
            .option("url", url)
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .option("dbtable", table).load()
        }.reduce(_ unionAll _)
        .select(col("EVENT_ID").as("event_id"), col("TS_US").as("ts_us"),
          col("EVENT_TYPE").as("event_type"),
          col("VALUE_CENTS").as("value_cents"))
        .orderBy(col("event_id"))
    }))

  val oracles: Map[String, String] = Map(
    // Grouped bottom-k replay of the KMV state: distinct hashes per
    // (6 h bucket, type), rank by h, exact count below k, the
    // (k-1)·M // h_k order statistic at k. Streaming vs batch is
    // invisible to the sketch (the buffer is a pure function of the
    // input SET), which is exactly what the gate pins.
    "q173_stream_distinct" -> {
      val h = CharHash.duckdbSql("concat(CAST(value_cents AS VARCHAR), '#sd')")
      s"""WITH e AS (
         |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600
         |      AS bucket_start,
         |    event_type, CAST(round(value * 100) AS BIGINT) AS value_cents
         |  FROM events),
         |d AS (
         |  SELECT DISTINCT bucket_start, event_type, $h AS h FROM e),
         |rk AS (
         |  SELECT bucket_start, event_type, h,
         |    row_number() OVER (PARTITION BY bucket_start, event_type
         |      ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY bucket_start, event_type) AS nd
         |  FROM d)
         |SELECT bucket_start, event_type,
         |  CAST(CASE WHEN max(nd) < 128 THEN max(nd) ELSE 128 END AS BIGINT)
         |    AS k_filled,
         |  CAST(CASE WHEN max(nd) < 128 THEN max(nd)
         |       ELSE CAST(127 AS BIGINT) * 1000000007
         |         // max(CASE WHEN rn = 128 THEN h END) END AS BIGINT)
         |    AS n_distinct_est
         |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },

    // Streaming top-3 replayed as a batch ranking over the same source.
    "q184_stream_topk" ->
      """SELECT bucket_start, event_type, rank, event_id, value_cents FROM (
        |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000) * 21600
        |      AS bucket_start,
        |    event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS value_cents,
        |    row_number() OVER (
        |      PARTITION BY (epoch_us(CAST(ts AS TIMESTAMP)) // 21600000000),
        |        event_type
        |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id ASC)
        |      AS rank
        |  FROM events)
        |WHERE rank <= 3 ORDER BY bucket_start, event_type, rank""".stripMargin,

    // The anti join restated: survivors are exactly the non-%5 ids.
    "q157_stream_decontam" ->
      """SELECT user_id % 10 AS bucket, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events WHERE event_id % 5 <> 0
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q118_stream_static" ->
      """SELECT n_name, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e JOIN nation nn ON e.user_id % 25 = nn.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // The quarantine split restated over the clean parquet: the writer
    // corrupted exactly the event_id % 13 = 0 lines.
    "q111_stream_drift" ->
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT CASE WHEN event_id % 13 = 0 THEN '__quarantined__'
        |              ELSE COALESCE(event_type, '__null__') END AS bucket
        |  FROM events)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // The ingest stages replayed in batch SQL over the same table:
    // quality gate, <2-shingle-overlap decontam, dedup by (lang, text).
    "q244_stream_corpus_ingest" ->
      s"""WITH ${DedupQueries.shingleCtes(3, " lang, text,")},
         |bench AS (SELECT DISTINCT unnest(hs) AS bh FROM h WHERE doc_id % 97 = 0),
         |ov AS (
         |  SELECT doc_id, count(*) AS n FROM (
         |    SELECT doc_id, unnest(hs) AS ch FROM h WHERE doc_id % 97 <> 0) c
         |  JOIN bench ON c.ch = bench.bh GROUP BY doc_id),
         |base AS (
         |  SELECT h.doc_id, h.lang, h.text FROM h LEFT JOIN ov USING (doc_id)
         |  WHERE h.doc_id % 97 <> 0 AND COALESCE(ov.n, 0) < 2),
         |kept AS (
         |  SELECT b.lang, b.text FROM base b
         |  WHERE CAST(round((${TextQueries.qualitySql}) * 1000000.0) AS BIGINT)
         |    >= 700000
         |  GROUP BY b.lang, b.text)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks
         |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,

    // The watermark drop rule replayed in batch SQL: the watermark is
    // (max ts of the Jan 10-20 batch) − 2 days; batch-1 rows survive iff
    // their day-window END clears it. Batch-0 rows always survive (they
    // defined the watermark). Margins are ≥3 days either side, so any
    // boundary convention gives the same rows.
    "q237_stream_late_drop" ->
      """WITH f1 AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |    AND CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-21 00:00:00'),
        |f2 AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
        |     OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-21 00:00:00'),
        |wm AS (SELECT max(t) - INTERVAL 2 DAY AS w FROM f1),
        |kept AS (
        |  SELECT * FROM f1
        |  UNION ALL
        |  SELECT f2.* FROM f2, wm
        |  WHERE date_trunc('day', f2.t) + INTERVAL 1 DAY > wm.w)
        |SELECT CAST(epoch(date_trunc('day', t)) AS BIGINT) AS w_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(vc) AS BIGINT) AS sum_cents
        |FROM kept GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q233's replication arithmetic, counts only (streaming twin).
    "q236_stream_sliding" ->
      """WITH e AS (
        |  SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 21600) * 21600 AS base
        |  FROM events),
        |w AS (
        |  SELECT event_type, base - k * 21600 AS w_start
        |  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS k) r)
        |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same sessionization semantics as q49's batch oracle: a session
    // breaks when the gap to the previous event reaches 30 minutes.
    "q104_stream_sessions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (
        |  SELECT user_id,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q66_stream_tumbling" ->
      """SELECT secs - secs % 900 AS bucket_start, event_type, count(*) AS n
        |FROM (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS secs, event_type FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q67_stream_latest" ->
      """SELECT id, ts_us, score FROM (
        |  SELECT event_type AS id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(CAST(round(value * 100) AS BIGINT) AS INT) AS score,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC,
        |               CAST(round(value * 100) AS BIGINT) DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 ORDER BY id""".stripMargin,

    "q68_stream_dedup" ->
      """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM events ORDER BY event_id""".stripMargin,

    // The closed-form recurrence replayed as batch windows: prefix sums
    // of deviations, running min clamped at 0, alarms where the excess
    // tops μ/4 (a quarter-day of drift) — identical integer arithmetic to the state machine.
    "q264_stream_cusum" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(day) AS d0 FROM daily),
        |base AS (
        |  SELECT event_type, sum(v) // count(*) AS mu
        |  FROM daily, d0 WHERE day < d0 + 15 GROUP BY event_type),
        |dev AS (
        |  SELECT daily.event_type, day, v - mu AS dv
        |  FROM daily JOIN base USING (event_type)),
        |p AS (
        |  SELECT event_type, day,
        |    sum(dv) OVER (PARTITION BY event_type ORDER BY day) AS pre
        |  FROM dev),
        |c AS (
        |  SELECT event_type, day,
        |    pre - least(CAST(0 AS BIGINT),
        |      min(pre) OVER (PARTITION BY event_type ORDER BY day)) AS s
        |  FROM p)
        |SELECT c.event_type, CAST(max(day) AS BIGINT) AS last_day,
        |  CAST(count(*) AS BIGINT) AS days_seen,
        |  CAST(sum(CASE WHEN s > mu // 4 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_alarms,
        |  CAST(max(s) AS BIGINT) AS max_cusum
        |FROM c JOIN base USING (event_type)
        |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin,

    "q72_stream_upsert" ->
      """SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_id % 7 = 0 ORDER BY event_id""".stripMargin,

    "q98_stream_join" ->
      """SELECT v.event_id AS v_id, c.event_id AS c_id, v.user_id
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND CAST(c.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
        | AND CAST(c.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP) + INTERVAL 2 HOUR
        |ORDER BY v_id, c_id""".stripMargin,

    "q126_stream_outer_join" ->
      """WITH v AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
        |           FROM events WHERE event_type = 'view'),
        |c AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id
        |      FROM events WHERE event_type = 'click')
        |SELECT v.event_id AS v_id, c.event_id AS c_id, v.user_id
        |FROM v LEFT JOIN c
        |  ON v.user_id = c.user_id
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
        |ORDER BY v_id, c_id NULLS FIRST""".stripMargin,

    // First-k per user replayed as one batch window; the stream's
    // batch-split is invisible to the kept set because the cap state is
    // a pure fold over the (us, event_id) total order.
    "q293_stream_contribution_cap" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY us, event_id) AS rn FROM e),
        |per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_seen,
        |    CAST(sum(CASE WHEN rn <= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_kept,
        |    CAST(sum(CASE WHEN rn <= 10 THEN vc ELSE 0 END) AS BIGINT)
        |      AS sum_kept
        |  FROM r GROUP BY 1)
        |SELECT user_id % 10 AS bucket, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(n_seen) AS BIGINT) AS n_events_seen,
        |  CAST(sum(n_kept) AS BIGINT) AS n_events_kept,
        |  CAST(sum(sum_kept) AS BIGINT) AS sum_kept_cents
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)
}
