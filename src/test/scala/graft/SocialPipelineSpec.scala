package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enrich
import graft.pipeline.SocialPipeline

/** Lexicon scorer that counts the texts it scores and fails on a sentinel
  * text. The counter is a JVM static, so in local mode the executors' copies
  * of the scorer all add to it.
  */
class CountingScorer(failOn: String = null) extends Enrich.TextScorer {
  private val inner = new Enrich.LexiconScorer(Set("good"), Set("bad"))
  def fieldNames: Seq[String] = inner.fieldNames
  def scoreBatch(texts: Seq[String]): Seq[Seq[Double]] = {
    if (texts.contains(failOn)) throw new IllegalStateException(s"scorer failed on '$failOn'")
    CountingScorer.rows.addAndGet(texts.size)
    inner.scoreBatch(texts)
  }
}

object CountingScorer {
  val rows = new AtomicLong
}

class SocialPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val blacklist = Seq("badterm")
  private val scorer = new Enrich.LexiconScorer(Set("good"), Set("bad"))

  private def mkLanding(): (String, String, String) = {
    val tmp = TestSpark.tempDir("graft-pipe").toString
    val posts = Seq(
      ("p1", "2023-03-25 10:00:00", "title a", "good content here", "alice", 2, 10, "worldnews", "ukraine war", "25-03-2023"),
      ("p2", "2023-03-25 11:00:00", "title b", "[deleted]", "bob", 0, 1, "europe", "ukraine war", "25-03-2023"),
      ("p3", "2023-03-25 12:00:00", "title c", "has badterm inside", "carol", 0, 2, "europe", "ukraine war", "25-03-2023"),
      ("p4", "2023-03-25 13:00:00", "title d", "other topic content", "dave", 1, 5, "news", "russia war", "25-03-2023"),
      ("p5", "2023-03-26 09:00:00", "title e", "other day content", "erin", 0, 3, "worldnews", "ukraine war", "26-03-2023"))
      .toDF("id", "date", "title", "content", "username", "commentCount", "score", "subreddit", "topic", "dataload")
    val comments = Seq(
      ("c1", "2023-03-25 10:05:00", "bad comment text", "frank", 1, "p1", "p1", "ukraine war", "25-03-2023"),
      ("c2", "2023-03-25 10:06:00", "auto text", "AutoModerator", 1, "p1", "p1", "ukraine war", "25-03-2023"))
      .toDF("id", "date", "content", "username", "score", "post_id", "parent_id", "topic", "dataload")
    val tweets = Seq(
      ("900000000000000001", "2023-03-25 10:07:00", "good tweet", "grace", "alice,bob", "ukraine war", "25-03-2023"))
      .toDF("id", "date", "content", "username", "mentionedUsers", "topic", "dataload")
    SocialPipeline.writeLanding(posts, s"$tmp/posts")
    SocialPipeline.writeLanding(comments, s"$tmp/comments")
    SocialPipeline.writeLanding(tweets, s"$tmp/tweets")
    (s"$tmp/posts", s"$tmp/comments", s"$tmp/tweets")
  }

  test("partitioned landing + pruned scan: only the requested partition is read") {
    val (postsRoot, _, _) = mkLanding()
    val scan = SocialPipeline.scanPartition(spark, postsRoot, "ukraine war", "25-03-2023")
    assert(scan.count() == 3) // p4 is russia-war, p5 another day
    // partition predicates must be pushed to the scan, not post-filtered
    val scanExec = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    val pf = scanExec.partitionFilters.mkString(";")
    assert(pf.contains("ukraine war") && pf.contains("25-03-2023"))
    assert(scanExec.dataFilters.isEmpty) // nothing left to post-filter
  }

  test("clean stage applies sentinel, author, length, blacklist rules in order") {
    val (postsRoot, commentsRoot, _) = mkLanding()
    val cleanP = SocialPipeline.cleanPosts(
      SocialPipeline.scanPartition(spark, postsRoot, "ukraine war", "25-03-2023"), blacklist)
    // p2 dropped ([deleted] content), p3 dropped (blacklist)
    assert(cleanP.select("id").as[String].collect().toSeq == Seq("p1"))
    assert(cleanP.schema("date").dataType.typeName == "timestamp")
    val cleanC = SocialPipeline.cleanComments(
      SocialPipeline.scanPartition(spark, commentsRoot, "ukraine war", "25-03-2023"), blacklist)
    // c2 dropped (AutoModerator)
    assert(cleanC.select("id").as[String].collect().toSeq == Seq("c1"))
  }

  test("enrich appends aligned sentiment + claim columns, executor-side") {
    val (postsRoot, _, _) = mkLanding()
    val enriched = SocialPipeline.enrich(
      SocialPipeline.cleanPosts(
        SocialPipeline.scanPartition(spark, postsRoot, "ukraine war", "25-03-2023"), blacklist),
      "content", scorer)
    val r = enriched.select("Positive", "Negative", "claimScore").head()
    assert(r.getDouble(0) > r.getDouble(1)) // "good content here"
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
  }

  test("K2 csv snapshot sink round-trips with header") {
    val (postsRoot, _, _) = mkLanding()
    val out = TestSpark.tempDir("graft-csv").toString + "/snap"
    SocialPipeline.writeCsvSnapshot(
      SocialPipeline.scanPartition(spark, postsRoot, "ukraine war", "25-03-2023")
        .select("id", "username", "score"), out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3 && back.columns.toSeq == Seq("id", "username", "score"))
  }

  test("runDaily materializes graph + rollup tables from one distributed plan") {
    val (postsRoot, commentsRoot, tweetsRoot) = mkLanding()
    val out = TestSpark.tempDir("graft-out").toString
    CountingScorer.rows.set(0L)
    SocialPipeline.runDaily(spark, postsRoot, commentsRoot, tweetsRoot,
      "ukraine war", "25-03-2023", out, blacklist, new CountingScorer)
    // p1, c1 and the tweet pass clean; each is scored once for all four
    // sinks, and the facts are cached only during the call
    assert(CountingScorer.rows.get == 3L)
    assert(spark.sharedState.cacheManager.isEmpty)
    val v = spark.read.parquet(s"$out/vertices.parquet")
    val e = spark.read.parquet(s"$out/edges.parquet")
    // p1 + c1 + tweet + users(alice, frank, grace) + subreddit(worldnews)
    assert(v.filter($"label" === "Post").count() == 1)
    assert(v.filter($"label" === "User").count() == 3)
    assert(e.filter($"rel" === "MENTIONS").count() == 2)
    assert(e.filter($"rel" === "COMMENTED_ON").count() == 1)
    val eng = spark.read.parquet(s"$out/engagement_by_subreddit.parquet")
    assert(eng.filter($"subreddit" === "worldnews").head().getAs[Long]("sum_score") == 10L)
    val sent = spark.read.parquet(s"$out/sentiment_by_topic.parquet")
    assert(sent.filter($"topic" === "ukraine war").head().getAs[Long]("n") == 3L)
  }

  test("writeSinks with no sinks is a no-op") {
    SocialPipeline.writeSinks(Seq(spark.range(3).toDF()), Nil)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("runDaily rethrows a failing sink's own exception and cleans up") {
    val (postsRoot, commentsRoot, tweetsRoot) = mkLanding()
    val out = TestSpark.tempDir("graft-fail").toString
    val ex = intercept[Exception] {
      SocialPipeline.runDaily(spark, postsRoot, commentsRoot, tweetsRoot,
        "ukraine war", "25-03-2023", out, blacklist, new CountingScorer(failOn = "good tweet"))
    }
    assert(!ex.isInstanceOf[java.util.concurrent.ExecutionException])
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage).exists(_.contains("scorer failed on 'good tweet'"))),
      s"sentinel failure missing from the cause chain of $ex")
    assert(spark.sharedState.cacheManager.isEmpty)
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == "social-pipeline-pool" && t.isAlive)
    val deadline = System.nanoTime() + 10000000000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(poolThreads.isEmpty, s"${poolThreads.length} pool threads still running")
  }
}
