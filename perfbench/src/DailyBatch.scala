package perfbench

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SaveMode}

import graft.enrich.Enrich
import graft.graph.GraphBuilder
import graft.pipeline.SocialPipeline

/** The paper's daily batch: landed parquet → `SocialPipeline.runDaily` for
  * both topics (scan, clean, enrich, graph tables, rollups). */
object DailyBatch {
  /** Posts per topic; comments are 2.5× and tweets 1× that, so 2 topics ×
    * 2,000 posts land 18,000 records. */
  val postsPerTopic = 2000

  /** Seeded fixtures landed as hive-partitioned parquet, and the model of
    * what `runDaily` must write from them. */
  final case class Landed(root: String, topics: Seq[Fixtures.Topic]) {
    val posts = s"$root/posts"; val comments = s"$root/comments"; val tweets = s"$root/tweets"
    lazy val expect: Seq[Fixtures.DailyExpect] = topics.map(Fixtures.expectDaily)
    def records: Long = topics.map(_.records).sum
    def cleanRows: Double = expect.map(_.cleanRows).sum.toDouble
  }

  /** Synthesizes and lands the fixtures; returns them with the landing time. */
  def land(ctx: Ctx, i: Int): (Landed, Double) = {
    val topics = Fixtures.topics.indices.map(Fixtures.topic(ctx.seed, _, postsPerTopic))
    val landed = Landed(ctx.dir(s"landing$i"), topics)
    (landed, Stats.seconds(topics.foreach(Fixtures.land(ctx.spark, _, landed.root)))._2)
  }

  def describe(l: Landed): String =
    s"daily batch: ${l.records} landed records (${l.topics.map(t =>
      s"${t.name}: ${t.posts.size} posts, ${t.comments.size} comments, ${t.tweets.size} tweets")
      .mkString("; ")}), ${bytes(l.root)} bytes of parquet, ${l.cleanRows.toLong} pass clean"

  /** One repetition: `runDaily` per topic, one after the other, or both at
    * once for the warm-up. Checks the output; returns per-topic seconds, or
    * None when the repetition threw or wrote a wrong table. */
  def rep(ctx: Ctx, tracer: Tracer, l: Landed, name: String, scorer: Enrich.TextScorer,
          concurrent: Boolean = false): Option[Seq[Double]] = {
    val out = ctx.dir(name)
    def runDaily(t: String): Double =
      Stats.seconds(SocialPipeline.runDaily(ctx.spark, l.posts, l.comments, l.tweets, t,
        Fixtures.dataload, s"$out/$t", Fixtures.blacklist, scorer))._2
    try {
      val times =
        if (concurrent) {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(Fixtures.topics.size)
          try Fixtures.topics.map(t => pool.submit(() => runDaily(t))).map(_.get())
          finally pool.shutdown()
        } else Fixtures.topics.map(t => tracer.span("pipeline.runDaily")(runDaily(t)))
      val errors = Fixtures.topics.zip(l.expect).flatMap { case (t, e) => check(ctx, s"$out/$t", e) }
      errors.foreach(m => System.err.println(s"daily batch: $m"))
      if (errors.isEmpty) Some(times) else None
    } catch {
      case e: Exception => System.err.println(s"daily batch: repetition failed: $e"); None
    } finally Out.rmTree(Paths.get(out))
  }

  /** Self times of each stage by difference, over both topics: every public
    * function is forced with a `noop` write, one stage more each time. One
    * pass, to keep the traced run short; the times are single samples. */
  def breakdown(ctx: Ctx, tracer: Tracer, ls: LayerListeners, l: Landed,
                scorer: Enrich.TextScorer): Map[String, Double] = {
    val spark = ctx.spark
    def scan(t: String) = Seq(l.posts, l.comments, l.tweets)
      .map(SocialPipeline.scanPartition(spark, _, t, Fixtures.dataload))
    def clean(t: String) = scan(t) match {
      case Seq(p, c, tw) => Seq(SocialPipeline.cleanPosts(p, Fixtures.blacklist),
        SocialPipeline.cleanComments(c, Fixtures.blacklist),
        SocialPipeline.cleanComments(tw, Fixtures.blacklist))
    }
    def enriched(t: String) = clean(t).map(SocialPipeline.enrich(_, "content", scorer))
    def timed(name: String)(body: String => Unit): Double =
      Stats.seconds(tracer.span(name)(Fixtures.topics.foreach(body)))._2
    def graph[T](t: String)(f: (DataFrame, DataFrame, DataFrame) => T): T = {
      val Seq(p, c, tw) = enriched(t)
      f(p, c, tw)
    }

    val out = ctx.dir("breakdown")
    val sScan = timed("sources.scan")(scan(_).foreach(Out.noop))
    val sClean = timed("ops.clean")(clean(_).foreach(Out.noop))
    val sEnrich = timed("enrich.stage")(enriched(_).foreach(Out.noop))
    val sVert = timed("graph.vertices")(graph(_)((p, c, tw) => Out.noop(GraphBuilder.vertices(p, c, tw))))
    val sEdge = timed("graph.edges")(graph(_)((p, c, tw) => Out.noop(GraphBuilder.edges(p, c, tw))))
    val sWrite = timed("graph.write")(t => graph(t)((p, c, tw) =>
      GraphBuilder.write(GraphBuilder.vertices(p, c, tw), GraphBuilder.edges(p, c, tw), s"$out/$t")))
    val sRoll = timed("pipeline.rollups")(t => graph(t) { (p, c, tw) =>
      SocialPipeline.engagementBySubreddit(p).write.mode(SaveMode.Overwrite)
        .parquet(s"$out/$t/engagement.parquet")
      SocialPipeline.sentimentByTopic(p.unionByName(c.drop("post_id", "parent_id"),
        allowMissingColumns = true).unionByName(tw, allowMissingColumns = true))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/$t/sentiment.parquet")
    })
    val vRows = Fixtures.topics.map(t => Out.read(spark, s"$out/$t/vertices.parquet", Out.vertices).count()).sum
    val eRows = Fixtures.topics.map(t => Out.read(spark, s"$out/$t/edges.parquet", Out.edges).count()).sum
    Out.rmTree(Paths.get(out))
    ls.drain()
    val graphShuffle = ls.total(n => n == "graph.vertices" || n == "graph.edges")("shuffle_write_mb")

    // Partition pruning must list only the scanned topic's files.
    val files = Fixtures.topics.flatMap { t =>
      val fs = scan(t).flatMap(scannedFiles)
      val wrong = fs.filterNot(_._1.contains(s"/topic=$t/"))
      require(wrong.isEmpty, s"partition pruning read other topics: ${wrong.take(3)}")
      fs
    }
    Map(
      "ops.clean_s" -> (sClean - sScan), "graph.vertices_s" -> (sVert - sEnrich),
      "graph.edges_s" -> (sEdge - sEnrich), "graph.write_s" -> (sWrite - sVert - sEdge),
      "pipeline.rollups_s" -> (sRoll - sEnrich),
      "graph.vertex_rows" -> vRows.toDouble, "graph.edge_rows" -> eRows.toDouble,
      "graph.shuffle_write_mb" -> graphShuffle,
      "sources.scan_files" -> files.size.toDouble,
      "sources.scan_mb" -> files.map(_._2).sum / 1048576.0,
      "ops.clean_rows_in" -> l.records.toDouble,
      "ops.clean_rows_out" -> Fixtures.topics.flatMap(clean(_).map(_.count())).sum.toDouble)
  }

  /** (path, bytes) of the files a partition-pruned scan lists. */
  private def scannedFiles(df: DataFrame): Seq[(String, Long)] = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec =>
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .flatMap(_.files.map(f => (f.getPath.toString, f.getLen)))
    }.flatten
  }

  private def bytes(root: String): Long =
    Out.walk(Paths.get(root)).filter(_.toString.endsWith(".parquet")).map(java.nio.file.Files.size).sum

  /** Compares what `runDaily` wrote for one topic with the model. */
  def check(ctx: Ctx, out: String, e: Fixtures.DailyExpect): Seq[String] = {
    val spark = ctx.spark
    def byKey(path: String, ddl: String, key: String): Map[String, Long] =
      Out.read(spark, path, ddl).groupBy(key).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val v = byKey(s"$out/vertices.parquet", Out.vertices, "label")
    val ed = byKey(s"$out/edges.parquet", Out.edges, "rel")
    val eng = Out.read(spark, s"$out/engagement_by_subreddit.parquet",
      "subreddit STRING, n_posts BIGINT, sum_score BIGINT, sum_comments BIGINT").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val sent = Out.read(spark, s"$out/sentiment_by_topic.parquet",
      "n BIGINT, sum_pos_u BIGINT, sum_neg_u BIGINT, sum_claim_u BIGINT").collect()
      .map { case Row(n: Long, p: Long, g: Long, c: Long) => (n, p, g, c) }.toSeq
    Seq(
      (v == e.vertices) -> s"$out vertices by label $v, expected ${e.vertices}",
      (ed == e.edges) -> s"$out edges by rel $ed, expected ${e.edges}",
      (eng == e.engagement) -> s"$out engagement $eng, expected ${e.engagement}",
      (sent == Seq(e.sentiment)) -> s"$out sentiment $sent, expected ${e.sentiment}")
      .collect { case (false, msg) => msg }
  }
}
