package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SocialStream

class SocialStreamSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("tumblingCounts aggregates into 15-minute windows with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "topic")
    val agg = SocialStream.tumblingCounts(df, "ts", Seq("topic"))
    val q = agg.writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        (ts("2023-03-25 00:01:00"), "ukraine war"),
        (ts("2023-03-25 00:14:00"), "ukraine war"),
        (ts("2023-03-25 00:16:00"), "ukraine war"),
        (ts("2023-03-25 00:02:00"), "russia war"))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("window_start", "topic", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(
        ("2023-03-25 00:00:00.0", "ukraine war", 2L),
        ("2023-03-25 00:15:00.0", "ukraine war", 1L),
        ("2023-03-25 00:00:00.0", "russia war", 1L)))
    } finally q.stop()
  }

  test("dedupWithinWatermark drops re-delivered ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Int)]
    val df = mem.toDF().toDF("ts", "id", "score")
    val dedup = SocialStream.dedupWithinWatermark(df, "ts", Seq("id"))
    val q = dedup.writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData((ts("2023-03-25 00:01:00"), "p1", 5))
      q.processAllAvailable()
      mem.addData((ts("2023-03-25 01:00:00"), "p1", 99), // re-crawl duplicate
        (ts("2023-03-25 01:00:00"), "p2", 7))
      q.processAllAvailable()
      val ids = spark.table("dedup").select("id").as[String].collect().sorted
      assert(ids.toSeq == Seq("p1", "p2"))
    } finally q.stop()
  }

  test("latestWinsState emits only when a newer record arrives") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SocialStream.Engagement]
    val out = SocialStream.latestWinsState(mem.toDS())
    val q = out.writeStream.format("memory").queryName("lw")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(SocialStream.Engagement("p1", ts("2023-03-25 00:00:00"), 10))
      q.processAllAvailable()
      // older record for p1 → no new emission; newer → emission with score 30
      mem.addData(
        SocialStream.Engagement("p1", ts("2023-03-24 00:00:00"), 1),
        SocialStream.Engagement("p2", ts("2023-03-25 00:00:00"), 20))
      q.processAllAvailable()
      mem.addData(SocialStream.Engagement("p1", ts("2023-03-27 00:00:00"), 30))
      q.processAllAvailable()
      val rows = spark.table("lw").as[SocialStream.Engagement].collect()
      assert(rows.count(_.id == "p1") == 2) // initial + the newer one only
      assert(rows.filter(_.id == "p1").map(_.score).toSet == Set(10, 30))
      assert(rows.count(_.id == "p2") == 1)
    } finally q.stop()
  }

  test("contributionCapState keeps first-k across batches and rejects order violations") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SocialStream.CapEvent]
    val out = SocialStream.contributionCapState(mem.toDS(), k = 3)
    val q = out.writeStream.format("memory").queryName("capspec")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(SocialStream.CapEvent(1L, 100L, 1L, 10L),
        SocialStream.CapEvent(1L, 200L, 2L, 20L))
      q.processAllAvailable()
      // the cap must span batches: the 4th event (this batch) is dropped
      // because batch 1 already consumed 2 of the 3 slots
      mem.addData(SocialStream.CapEvent(1L, 300L, 3L, 40L),
        SocialStream.CapEvent(1L, 400L, 4L, 80L))
      q.processAllAvailable()
      val last = spark.table("capspec").as[SocialStream.CapSummary]
        .collect().filter(_.user == 1L).maxBy(_.nSeen)
      assert(last.nSeen == 4L && last.nKept == 3L &&
        last.sumKeptCents == 70L)
      // an event behind the per-user high-water mark must fail LOUDLY
      // (silently keeping the wrong k events is the corruption mode the
      // require exists to prevent)
      mem.addData(SocialStream.CapEvent(1L, 150L, 9L, 1L))
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("broke time order")),
        s"expected the order require to fire; got: ${msgs(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("contributionCapState catches a replayed slice in the DISCARDED tail") {
    // ADVICE r13: the heap rewrite validated only the kept prefix, so a
    // slice replayed by the landing could silently double-count nSeen if
    // its rows all landed in the discarded tail. The extreme-multiplicity
    // counters restore the check in O(1) memory: a replayed slice
    // duplicates its own batch min/max, whatever the iterator order.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SocialStream.CapEvent]
    val out = SocialStream.contributionCapState(mem.toDS(), k = 2)
    val q = out.writeStream.format("memory").queryName("capreplay")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1 fills the cap: every later event is tail-only
      mem.addData(SocialStream.CapEvent(7L, 100L, 1L, 10L),
        SocialStream.CapEvent(7L, 200L, 2L, 20L))
      q.processAllAvailable()
      // batch 2 = one slice delivered TWICE (source replay): all rows are
      // discarded tail, but the duplicated extremes must fail loudly
      val slice = Seq(SocialStream.CapEvent(7L, 300L, 3L, 30L),
        SocialStream.CapEvent(7L, 400L, 4L, 40L))
      mem.addData(slice ++ slice)
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("replayed a slice")),
        s"expected the replay require to fire; got: ${msgs(ex).mkString(" | ")}")
    } finally q.stop()
  }

  test("contributionCapState keeps the order-smallest k of an unsorted skewed batch in O(k)") {
    // One hot user lands many events in a single micro-batch, delivered
    // in arbitrary order: the bounded-heap selection (r13) must keep
    // exactly the k smallest by (us, eventId) — the same answer the
    // sort-the-whole-group form gave — while never materializing the
    // batch. vc = us so the kept sum identifies WHICH events were kept.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SocialStream.CapEvent]
    val out = SocialStream.contributionCapState(mem.toDS(), k = 3)
    val q = out.writeStream.format("memory").queryName("capskew")
      .outputMode(OutputMode.Update()).start()
    try {
      val evs = new scala.util.Random(7).shuffle(
        (1 to 200).map(i => SocialStream.CapEvent(5L, i * 10L, i.toLong, i * 10L)))
      mem.addData(evs)
      q.processAllAvailable()
      val last = spark.table("capskew").as[SocialStream.CapSummary]
        .collect().filter(_.user == 5L).maxBy(_.nSeen)
      assert(last.nSeen == 200L && last.nKept == 3L &&
        last.sumKeptCents == 10L + 20L + 30L)
      // a later batch must still be checked against the batch MAX high
      // water mark (2000), not the kept prefix's max (30)
      mem.addData(SocialStream.CapEvent(5L, 1999L, 999L, 1L))
      val ex = intercept[Exception] { q.processAllAvailable() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(ex).exists(_.contains("broke time order")))
    } finally q.stop()
  }

  test("streaming pipeline output equals the batch pipeline on the same landing data") {
    import graft.pipeline.SocialPipeline
    import graft.schemas.Schemas
    val tmp = TestSpark.tempDir("graft-sbatch").toString
    val landing = s"$tmp/landing"
    new java.io.File(landing).mkdirs()
    val rows = Seq(
      """{"id":"p1","date":"2023-03-25 10:00:00","title":"t1","content":"good content","username":"alice","commentCount":1,"score":5,"subreddit":"worldnews","topic":"ukraine war","dataload":"25-03-2023"}""",
      """{"id":"p2","date":"2023-03-25 11:00:00","title":"t2","content":"[deleted]","username":"bob","commentCount":0,"score":1,"subreddit":"europe","topic":"ukraine war","dataload":"25-03-2023"}""",
      """{"id":"p3","date":"2023-03-25 12:00:00","title":"t3","content":"more text here","username":"carol","commentCount":2,"score":9,"subreddit":"europe","topic":"ukraine war","dataload":"25-03-2023"}""")
    // two files = two micro-batches
    val f1 = new java.io.PrintWriter(s"$landing/b1.json"); f1.write(rows.head + "\n"); f1.close()
    val f2 = new java.io.PrintWriter(s"$landing/b2.json"); f2.write(rows.tail.mkString("\n") + "\n"); f2.close()

    val blacklist = Seq("badterm")
    val scorer = new CountingScorer
    CountingScorer.rows.set(0L)
    val before = SinkProbes.persistentRdds(spark)
    val (q, writes) = SinkProbes.writePlans(spark) {
      val q = graft.streaming.SocialStream.runPipeline(spark, landing, s"$tmp/out",
        blacklist, scorer, s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(120000)
      q
    }
    // each micro-batch scores its clean rows (p1; p3) once, across all three
    // sinks, and leaves nothing cached or persisted
    assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    assert(CountingScorer.rows.get == 2L)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(SinkProbes.persistentRdds(spark) -- before == Set.empty)
    // two batches × three sinks, each reading only its batch's filled
    // posts, one partition of them, so no sink shuffles
    assert(writes.size == 6)
    writes.foreach { p =>
      assert(SinkProbes.lineageScans(p).isEmpty && SinkProbes.readsFilledFrame(p), p)
      assert(SinkProbes.exchanges(p).isEmpty, p)
    }

    // batch reference over the identical landing files
    val batchEnriched = SocialPipeline.enrich(
      SocialPipeline.cleanPosts(
        spark.read.schema(Schemas.redditPosts).json(landing), blacklist),
      "content", scorer)
    val streamIds = spark.read.parquet(s"$tmp/out/posts_enriched.parquet")
      .select("id", "Positive", "claimScore").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val batchIds = batchEnriched.select("id", "Positive", "claimScore").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamIds == batchIds && streamIds.map(_._1) == Set("p1", "p3"))
    val v = spark.read.parquet(s"$tmp/out/vertices.parquet")
    assert(v.filter($"label" === "Post").count() == 2)
    assert(v.filter($"label" === "User").count() == 2)
    val e = spark.read.parquet(s"$tmp/out/edges.parquet")
    assert(e.filter($"rel" === "POSTED_IN").count() == 2)
  }

  test("sessionCounts: late event fuses two open sessions; watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val df = mem.toDF().toDF("ts", "topic")
    val agg = SocialStream.sessionCounts(df, "ts", Seq("topic"),
      gap = "30 minutes", watermark = "2 hours")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // Two sessions 30+ min apart...
      mem.addData(
        (ts("2023-03-25 00:00:00"), "b"),
        (ts("2023-03-25 00:50:00"), "b"),
        (ts("2023-03-25 00:00:00"), "a"))
      q.processAllAvailable()
      // ...bridged by an out-of-order event inside the watermark: 00:25
      // extends session 1 to 00:55, overlapping session 2 → one session.
      mem.addData((ts("2023-03-25 00:25:00"), "b"))
      q.processAllAvailable()
      // Sentinel drives the watermark past both sessions' ends.
      mem.addData((ts("2023-03-25 12:00:00"), "zz"))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("session_start", "session_end", "topic", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getTimestamp(1).toString,
          r.getString(2), r.getLong(3))).toSet
      assert(rows == Set(
        ("2023-03-25 00:00:00.0", "2023-03-25 01:20:00.0", "b", 3L),
        ("2023-03-25 00:00:00.0", "2023-03-25 00:30:00.0", "a", 1L)))
    } finally q.stop()
  }

  test("outer intervalJoin: match emits promptly, null emits only after the deadline passes") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, Long, Timestamp)]
    val rMem = MemoryStream[(Long, Long, Timestamp)]
    val views = lMem.toDF().toDF("v_id", "v_user", "v_ts")
    val clicks = rMem.toDF().toDF("c_id", "c_user", "c_ts")
    val joined = SocialStream.intervalJoin(views, clicks,
      "v_user", "c_user", "v_ts", "c_ts",
      maxGap = "2 hours", watermark = "0 seconds", joinType = "left_outer")
    val sink = "outer_join_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = joined.writeStream.format("memory").queryName(sink)
      .outputMode(OutputMode.Append()).start()
    try {
      def rows() = spark.table(sink)
        .select("v_id", "c_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      // view 1 (user 7) gets a click in-window; view 2 (user 8) never does
      lMem.addData((1L, 7L, ts("2023-03-25 00:00:00")),
        (2L, 8L, ts("2023-03-25 00:00:00")))
      rMem.addData((101L, 7L, ts("2023-03-25 00:30:00")))
      q.processAllAvailable()
      assert(rows() == Set((1L, 101L)), "inner match must emit promptly")
      // watermark still inside view 2's 2h window -> no null row yet
      rMem.addData((102L, 99L, ts("2023-03-25 01:00:00")))
      lMem.addData((3L, 99L, ts("2023-03-25 01:00:00")))
      q.processAllAvailable()
      assert(!rows().contains((2L, -1L)),
        "null must not emit before the watermark passes v_ts + maxGap")
      // both watermarks past 02:00 -> view 2's deadline passed -> null emits
      lMem.addData((4L, 50L, ts("2023-03-25 09:00:00")))
      rMem.addData((103L, 50L, ts("2023-03-25 09:00:00")))
      q.processAllAvailable()
      assert(rows().contains((2L, -1L)), "unmatched view must emit nulls")
    } finally q.stop()
  }

  test("file-source micro-batches flow through a checkpointed parquet sink") {
    val tmp = TestSpark.tempDir("graft-stream").toString
    val landing = s"$tmp/landing"
    new java.io.File(landing).mkdirs()
    import graft.schemas.Schemas
    // one JSON-lines file = one micro-batch (reference: one file per 15-min window)
    val f = new java.io.PrintWriter(s"$landing/batch1.json")
    f.write("""{"id":"p1","date":"2023-03-25 10:00:00","title":"t","content":"c","username":"u","commentCount":1,"score":2,"subreddit":"s","topic":"ukraine war","dataload":"25-03-2023"}""" + "\n")
    f.close()
    val stream = SocialStream.readJsonStream(spark, landing, Schemas.redditPosts)
    val q = SocialStream.toParquetSink(
      stream, s"$tmp/out", s"$tmp/ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(60000)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() == 1 && out.head().getAs[String]("id") == "p1")
  }

  test("restart from the checkpoint resumes exactly-once (Glue-bookmark semantics)") {
    // The reference's Glue jobs rely on job bookmarks (`terraform/main.tf:374`)
    // so the nightly run only processes new S3 drops. Structured Streaming's
    // checkpoint is the same contract: a SECOND query started on the SAME
    // checkpoint must process only files that landed after the first run —
    // already-committed drops are never re-emitted, new ones are never lost,
    // across process restarts.
    val tmp = TestSpark.tempDir("graft-restart").toString
    val landing = s"$tmp/landing"
    new java.io.File(landing).mkdirs()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def drop(name: String, rows: Seq[String]): Unit = {
      val w = new java.io.PrintWriter(s"$landing/$name")
      rows.foreach(w.println); w.close()
    }
    def runOnce(): Unit = {
      val q = SocialStream.toParquetSink(
        SocialStream.readJsonStream(spark, landing, schema),
        s"$tmp/out", s"$tmp/ckpt",
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    drop("day1.json", Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""))
    runOnce()
    // overnight: a new drop lands while no query is running
    drop("day2.json", Seq("""{"id":3,"v":"c"}"""))
    runOnce()
    val out = spark.read.parquet(s"$tmp/out")
      .select($"id", $"v").as[(Long, String)].collect().sorted.toSeq
    // day1 rows exactly once (no reprocessing), day2 picked up
    assert(out == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // third run with nothing new: a no-op, still no duplicates
    runOnce()
    assert(spark.read.parquet(s"$tmp/out").count() == 3)
  }

  test("watermark drops late rows BY THE WATERMARK OPERATOR, one trigger behind") {
    // The mechanism behind q237's oracle row: (a) modtime order pins the
    // batch sequence; (b) the late-event filter uses the PREVIOUS
    // trigger's watermark, so the straggler must arrive two batches
    // after the watermark-establishing one; (c) the drop is visible in
    // numRowsDroppedByWatermark — the oracle proves WHAT was dropped,
    // this proves WHO dropped it.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions._
    val tmp = TestSpark.tempDir("graft-late").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("ts_us", LongType)))
    def us(s: String) = Timestamp.valueOf(s).getTime * 1000L
    def drop(name: String, mtime: Long, rows: Seq[(Long, Long)]): Unit = {
      val d = TestSpark.tempDir("graft-late-w").toString
      rows.toDF("id", "ts_us").coalesce(1).write.mode("overwrite").parquet(d)
      val part = new java.io.File(d).listFiles()
        .find(f => f.getName.endsWith(".parquet")).get
      val dst = java.nio.file.Paths.get(tmp, name)
      java.nio.file.Files.move(part.toPath, dst)
      assert(dst.toFile.setLastModified(mtime))
    }
    val t0 = System.currentTimeMillis()
    // batch 0: day 10 (sets the watermark = day 8 after it commits)
    drop("b0.parquet", t0 - 120000,
      Seq((1L, us("2024-01-10 12:00:00")), (2L, us("2024-01-10 13:00:00"))))
    // batch 1: on-time tail (burns the one-trigger late-filter delay)
    drop("b1.parquet", t0 - 60000, Seq((3L, us("2024-01-11 09:00:00"))))
    // batch 2: a day-1 straggler (9 days late, window end << day-8 wm)
    // plus an on-time row
    // the far-future sentinel flushes append-mode windows in the
    // trailing no-data batch (same shape as q237's fused sentinel)
    drop("b2.parquet", t0,
      Seq((4L, us("2024-01-01 00:30:00")), (5L, us("2024-01-12 08:00:00")),
        (-1L, us("2200-01-01 00:00:00"))))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val agg = stream.withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
    // APPEND mode: the only mode where the watermark contract drops
    // late input (complete mode deliberately keeps everything — a
    // first version of this spec used it and nothing was dropped)
    val q = agg.writeStream.format("memory").queryName("late_drop")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1L, s"expected exactly the day-1 straggler dropped, got $dropped")
      val windows = spark.table("late_drop")
        .select(unix_seconds(col("window.start")).as("w"), col("n"))
        .as[(Long, Long)].collect().toMap
      // the straggler's day-1 window must NOT exist; on-time days all do
      assert(!windows.contains(us("2024-01-01 00:00:00") / 1000000L))
      assert(windows(us("2024-01-10 00:00:00") / 1000000L) == 2L)
      assert(windows(us("2024-01-11 00:00:00") / 1000000L) == 1L)
      assert(windows(us("2024-01-12 00:00:00") / 1000000L) == 1L)
    } finally q.stop()
  }

  test("dedup + interval join drain to the same rows at state widths 4 and 32, HDFS and RocksDB stores") {
    // State width and state-store provider are sizing choices, never
    // semantics: the same two-file landings drain to the same rows at
    // every width (frozen into the checkpoint at first run) and in either
    // store. Views are re-landed (ids 15-24 in both files) and must be
    // deduped before they join the clicks within 2 hours.
    import org.apache.spark.sql.types._
    val root = org.apache.spark.GraftSparkAccess.localTempDir("graft-state-invariance")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("user", LongType), StructField("sec", LongType)))
    val t0 = 1704067200L // 2024-01-01: event times clear the epoch-floored watermark
    val views = (0L until 40L).map(i => (i, i % 5, t0 + i * 600))
    val clicks = (100L until 140L).map(i => (i, i % 7 % 5, t0 + (i - 100) * 600 + 1500))
    def land(side: String, files: Seq[Seq[(Long, Long, Long)]]): Unit =
      files.zipWithIndex.foreach { case (rows, i) =>
        val f = new java.io.File(s"$root/$side/part$i.json")
        f.getParentFile.mkdirs()
        val w = new java.io.PrintWriter(f)
        rows.foreach { case (id, u, t) => w.println(s"""{"id":$id,"user":$u,"sec":$t}""") }
        w.close()
        assert(f.setLastModified(System.currentTimeMillis() - 60000L * (2 - i)))
      }
    land("views", Seq(views.take(25), views.drop(15)))
    land("clicks", Seq(clicks.take(20), clicks.drop(20)))
    val expected = (for ((v, vu, vt) <- views; (c, cu, ct) <- clicks
                         if vu == cu && ct >= vt && ct <= vt + 7200) yield (v, c)).sorted
    val provider =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    def drain(width: Int, rocksdb: Boolean): Seq[(Long, Long)] = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", width.toString)
      if (rocksdb) ss.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      def side(name: String, p: String) =
        SocialStream.readJsonStream(ss, s"$root/$name", schema, maxFilesPerTrigger = 1)
          .select(col("id").as(s"${p}_id"), col("user").as(s"${p}_user"),
            timestamp_seconds(col("sec")).as(s"${p}_ts"))
      val deduped = SocialStream.dedupWithinWatermark(side("views", "v"), "v_ts",
        Seq("v_id"), watermark = "36500 days")
      val joined = SocialStream.intervalJoin(deduped, side("clicks", "c"),
        "v_user", "c_user", "v_ts", "c_ts", maxGap = "2 hours", watermark = "36500 days")
      val name = s"invariance_${width}_${if (rocksdb) "rocksdb" else "hdfs"}"
      val ckpt = s"$root/ckpt_$name"
      val q = joined.writeStream.format("memory").queryName(name).outputMode("append")
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2, s"$name: one batch only")
      // the setting took: one state partition dir per shuffle partition,
      // and the provider is recorded in the first batch's offset metadata
      assert(new java.io.File(s"$ckpt/state/0").list().count(_.forall(_.isDigit)) == width)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$ckpt/offsets/0"))
        .contains(provider) == rocksdb)
      ss.table(name).select("v_id", "c_id").as[(Long, Long)].collect().sorted.toSeq
    }
    assert(expected.size > 40)
    for (width <- Seq(4, 32); rocksdb <- Seq(false, true))
      assert(drain(width, rocksdb) == expected, s"width $width rocksdb $rocksdb")
  }
}
