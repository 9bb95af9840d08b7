package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY §3 lifecycle, end to end, as ONE committed artifact (VERDICT r12
  * item 8): reference-shaped landing JSON at ~2500× the reference's dump
  * volume → partitioned landing (K1) → daily batch (S6/S7 scan, F3–F8
  * clean, U1–U3 enrich, J2/J4 graph build, A4/A5 rollups; the composition
  * `SocialPipeline.runDaily` ships) → streaming refresh
  * (`SocialStream.runPipeline`: readStream JSON → clean → enrich →
  * idempotent-shaped graph appends per micro-batch). Fixture columns
  * exercise every clean-stage rule: "[deleted]"/"" content, "None"/null/
  * AutoModerator usernames, over-length and profane texts, orphan
  * comments, null/empty mention lists (FIXTURES.md shapes).
  *
  * Unlike the reference's lifecycle, no stage ever collects to the driver
  * (`glue/twitter_glue.py:161`'s toPandas collapse is the anti-pattern §3
  * documents); every arrow above is one distributed plan. Writes
  * LIFECYCLE_r14.md in cwd. Not part of the driver contract.
  */
object LifecycleRehearsal {
  def main(args: Array[String]): Unit = {
    // Background-contention sample BEFORE any Spark work — the in-phase
    // sample is self-inflated by this process's own fixture generation.
    val load1Launch = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = GraftSession()

    case class St(id: Int, tasks: Int, durMs: Long, inMB: Double,
                  swMB: Double, srMB: Double)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.numTasks,
            (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L),
            m.inputMetrics.bytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        }
      }
    })
    def snapSum(): (Double, Double, Int) = stages.synchronized {
      (stages.map(_.swMB).sum, stages.map(_.inMB).sum, stages.size)
    }

    val work = java.nio.file.Files.createTempDirectory("lifecycle").toString
    val topics = Seq("ukraine war", "climate change")

    // ---- fixture synthesis (distributed expression-level, deterministic) --
    def bank(c: Column, ws: Seq[String]): Column =
      element_at(array(ws.map(lit): _*), (pmod(c, lit(ws.size)) + 1).cast("int"))
    val w1 = Seq("good", "grim", "breaking", "quiet", "major", "minor", "new")
    val w2 = Seq("talks", "strikes", "floods", "summit", "report", "vote")
    val w3 = Seq("continue", "stall", "expand", "surprise", "end", "begin")
    def text(id: Column): Column = concat_ws(" ",
      bank(id, w1), bank(id * 7 + 1, w2), bank(id * 13 + 2, w3),
      bank(id * 17 + 3, w1), bank(id * 19 + 5, w2), bank(id * 23 + 7, w3))
    def content(id: Column): Column =
      when(id % 37 === 0, "[deleted]")
        .when(id % 41 === 0, "")
        .when(id % 101 === 0, concat(text(id), lit(" badterm")))   // F4
        .when(id % 103 === 0, concat_ws(" ",
          (0 until 200).map(i => bank(id + i, w1)): _*))           // F3 >1000ch
        .otherwise(text(id))
    def username(id: Column): Column =
      when(id % 53 === 0, "None").when(id % 59 === 0, lit(null))
        .when(id % 61 === 0, "AutoModerator")                      // F5
        .otherwise(concat(lit("user"), pmod(id, lit(5000))))
    def dateStr(id: Column): Column =
      format_string("2023-03-25 %02d:%02d:%02d",
        pmod(id, lit(24)), pmod(id * 3, lit(60)), pmod(id * 7, lit(60)))

    def posts(n: Long, topic: String, dataload: String): DataFrame =
      spark.range(n).select(
        concat(lit("p"), col("id")).as("id"), dateStr(col("id")).as("date"),
        text(col("id") * 3).as("title"), content(col("id")).as("content"),
        username(col("id")).as("username"),
        pmod(col("id"), lit(40)).cast("int").as("commentCount"),
        pmod(col("id") * 11, lit(5000)).cast("int").as("score"),
        bank(col("id"), Seq("worldnews", "europe", "science")).as("subreddit"),
        lit(topic).as("topic"), lit(dataload).as("dataload"))
    def comments(n: Long, nPosts: Long, topic: String, dataload: String): DataFrame =
      spark.range(n).select(
        concat(lit("c"), col("id")).as("id"), dateStr(col("id")).as("date"),
        content(col("id") + 5).as("content"), username(col("id") + 3).as("username"),
        pmod(col("id") * 13, lit(2000)).cast("int").as("score"),
        // ~5% orphans: post_id beyond the post id range (J2 anti-join food)
        concat(lit("p"), pmod(col("id") * 31, lit((nPosts * 21) / 20))).as("post_id"),
        when(col("id") % 3 === 0,
          concat(lit("c"), pmod(col("id") * 29, greatest(col("id"), lit(1)))))
          .as("parent_id"),
        lit(topic).as("topic"), lit(dataload).as("dataload"))
    def tweets(n: Long, topic: String, dataload: String): DataFrame =
      spark.range(n).select(
        (col("id") + 1635322899233112064L).as("id"), dateStr(col("id")).as("date"),
        content(col("id") + 9).as("content"), username(col("id") + 7).as("username"),
        pmod(col("id") * 7, lit(100000)).cast("int").as("followersCount"),
        when(col("id") % 4 === 0, lit(null).cast("string"))
          .when(col("id") % 4 === 1, lit(""))
          .otherwise(concat_ws(",",
            concat(lit("user"), pmod(col("id") * 3, lit(5000))),
            concat(lit("user"), pmod(col("id") * 5, lit(5000)))))
          .as("mentionedUsers"),
        pmod(col("id"), lit(900)).cast("int").as("retweetCount"),
        pmod(col("id") * 3, lit(300)).cast("int").as("replyCount"),
        when(col("id") % 5 === 0,
          concat(lit("user"), pmod(col("id") * 7, lit(5000)))).as("inReplyToUser"),
        dateStr(col("id")).as("timeStamp"),
        lit(topic).as("topic"), lit(dataload).as("dataload"))

    import graft.pipeline.SocialPipeline
    val (pRoot, cRoot, tRoot) = (s"$work/posts", s"$work/comments", s"$work/tweets")
    val day1 = "25-03-2023"
    val nP = 100000L; val nC = 250000L; val nT = 100000L
    topics.foreach { t =>
      SocialPipeline.writeLanding(posts(nP, t, day1).repartition(16), pRoot)
      SocialPipeline.writeLanding(comments(nC, nP, t, day1).repartition(16), cRoot)
      SocialPipeline.writeLanding(tweets(nT, t, day1).repartition(16), tRoot)
    }
    // day-2 refresh slice lands as JSON — the reference's 15-min format
    val day2Json = s"$work/landing_json"
    posts(20000L, topics.head, "26-03-2023").repartition(4)
      .write.mode("append").json(day2Json)

    val blacklist = Seq("badterm", "slur1", "slur2", "slur3", "slur4",
      "slur5", "slur6", "slur7", "slur8")  // >8 → native Aho-Corasick path
    val scorer = new graft.enrich.Enrich.LexiconScorer(
      Set("good", "new", "expand"), Set("grim", "strikes", "floods"))

    val sb = new StringBuilder
    sb ++= "# LIFECYCLE_r14 — SURVEY §3 end-to-end social run (inflated fixtures)\n\n"
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    sb ++= f"load1 at launch (background): $load1Launch%.2f; at measured-phase " +
      f"start (includes this run's own fixture prep): $load1%.2f. " +
      f"Fixtures: ${2 * (nP + nC + nT)}%d " +
      "records across 2 topics × 1 dataload (posts/comments/tweets " +
      "20/50/20 per topic ×10³) + a 20k-post day-2 JSON refresh slice — " +
      "~2500× the reference's largest dump (216 rows).\n\n"

    // ---- measured phase 1: the daily batch, per topic (S10 fan-out) ----
    stages.synchronized { stages.clear() }
    val t0 = System.nanoTime()
    topics.foreach { t =>
      SocialPipeline.runDaily(spark, pRoot, cRoot, tRoot, t, day1,
        s"$work/out/${t.replace(' ', '_')}", blacklist, scorer)
    }
    val wallBatch = (System.nanoTime() - t0) / 1e9
    val (swB, inB, nStB) = snapSum()

    val outs = topics.map(t => s"$work/out/${t.replace(' ', '_')}")
    val vCount = outs.map(o => spark.read.parquet(s"$o/vertices.parquet").count()).sum
    val eCount = outs.map(o => spark.read.parquet(s"$o/edges.parquet").count()).sum
    val engage = spark.read.parquet(s"${outs.head}/engagement_by_subreddit.parquet")
      .orderBy(col("subreddit")).collect()
    val senti = spark.read.parquet(s"${outs.head}/sentiment_by_topic.parquet").collect()
    require(vCount > 0 && eCount > 0 && engage.nonEmpty && senti.nonEmpty,
      "lifecycle produced empty graph/rollup tables")

    sb ++= "## Daily batch (landing → clean → enrich → graph + rollups)\n\n"
    sb ++= f"Wall: $wallBatch%.1f s for both topics. Stage totals: input " +
      f"$inB%.1f MB, shuffle write $swB%.1f MB across $nStB%d stages.\n\n"
    sb ++= s"| graph table | rows |\n|---|---|\n| vertices | $vCount |\n| edges | $eCount |\n\n"
    sb ++= "engagement_by_subreddit (topic 1):\n\n| subreddit | n_posts | sum_score | sum_comments |\n|---|---|---|---|\n"
    engage.foreach(r => sb ++= s"| ${r.get(0)} | ${r.get(1)} | ${r.get(2)} | ${r.get(3)} |\n")
    sb ++= s"\nsentiment_by_topic rows: ${senti.length} (per-topic micro-unit sums, cents-exact).\n\n"

    // ---- measured phase 2: streaming refresh over the day-2 JSON slice --
    stages.synchronized { stages.clear() }
    val t1 = System.nanoTime()
    val q = graft.streaming.SocialStream.runPipeline(spark, day2Json,
      s"$work/stream_out", blacklist, scorer, s"$work/stream_ckpt",
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(300000)
    val wallStream = (System.nanoTime() - t1) / 1e9
    val (swS, inS, nStS) = snapSum()
    val vS = spark.read.parquet(s"$work/stream_out/vertices.parquet").count()
    val eS = spark.read.parquet(s"$work/stream_out/edges.parquet").count()
    val enrS = spark.read.parquet(s"$work/stream_out/posts_enriched.parquet").count()
    require(vS > 0 && eS > 0 && enrS > 0, "streaming refresh produced no rows")
    sb ++= "## Streaming refresh (readStream JSON → clean → enrich → graph appends)\n\n"
    sb ++= f"Wall: $wallStream%.1f s (AvailableNow over the day-2 slice). " +
      f"Stage totals: input $inS%.1f MB, shuffle write $swS%.1f MB across $nStS%d stages.\n\n"
    sb ++= s"| stream table | rows |\n|---|---|\n| posts_enriched | $enrS |\n" +
      s"| vertices (appended) | $vS |\n| edges (appended) | $eS |\n\n"
    sb ++= "Every stage above is one distributed plan — no toPandas, no " +
      "driver-side loops (the reference's `glue/twitter_glue.py:161` " +
      "collapse, deliberately not replicated). Clean-stage rules (F3–F8), " +
      "enrichment (U1–U3, batch-25), graph build (J2/J4), rollups (A4/A5) " +
      "and the streaming composition are each oracle- or spec-gated " +
      "individually; this artifact pins their END-TO-END composition at " +
      "inflated volume.\n"

    java.nio.file.Files.write(java.nio.file.Paths.get("LIFECYCLE_r14.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
