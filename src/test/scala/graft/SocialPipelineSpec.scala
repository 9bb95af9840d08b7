package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.Enrich
import graft.pipeline.SocialPipeline
import graft.schemas.Schemas

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

/** Probes of a `SocialPipeline.writeSinks` call: the jobs it submits, what
  * its sinks read and what it leaves persisted. */
object SinkProbes extends AdaptiveSparkPlanHelper {

  /** Runs `body`; returns its result and the executed plans of the writes
    * it made, in `spark` or in a session cloned from it after the call
    * began (a streaming query's). */
  def writePlans[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val result = try body finally {
      GraftSparkAccess.drainListenerBus(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    (result, plans.asScala.toSeq.filter(p => find(p)(_.isInstanceOf[DataWritingCommandExec]).nonEmpty))
  }

  /** The scans in `plan` that read a fact's lineage or a cache instead of
    * its filled blocks. */
  def lineageScans(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => s
    case s: InMemoryTableScanExec => s
  }

  /** The exchanges in `plan`: a sink over small filled facts has none. */
  def exchanges(plan: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(plan) { case e: Exchange => e }

  /** Whether `plan` reads a filled (checkpointed) frame. */
  def readsFilledFrame(plan: SparkPlan): Boolean =
    collectWithSubqueries(plan) { case s: RDDScanExec => s }.nonEmpty

  /** Runs `body`; returns its result and the number of Spark jobs it
    * submitted. */
  def jobCount[T](spark: SparkSession)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    val result = try body finally {
      GraftSparkAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (result, jobs.get)
  }

  /** Ids of the RDDs persisted in `spark`'s context right now. */
  def persistentRdds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet
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
    val tweets = Seq((900000000000000001L, "2023-03-25 10:07:00", "good tweet", "grace", 12,
      "alice,bob", 0, 0, null: String, "2023-03-25 10:07:00", "ukraine war", "25-03-2023"))
      .toDF(Schemas.tweets.fieldNames.toIndexedSeq: _*)
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
    val before = SinkProbes.persistentRdds(spark)
    val (_, writes) = SinkProbes.writePlans(spark) {
      SocialPipeline.runDaily(spark, postsRoot, commentsRoot, tweetsRoot,
        "ukraine war", "25-03-2023", out, blacklist, new CountingScorer)
    }
    // p1, c1 and the tweet pass clean; each is scored once for all four
    // sinks, and the filled facts are released when the call returns
    assert(CountingScorer.rows.get == 3L)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(SinkProbes.persistentRdds(spark) -- before == Set.empty)
    // every sink reads the filled facts, never a file scan or a cache, and
    // each fact is one partition, so no sink shuffles
    assert(writes.size == 4)
    writes.foreach { p =>
      assert(SinkProbes.lineageScans(p).isEmpty && SinkProbes.readsFilledFrame(p), p)
      assert(SinkProbes.exchanges(p).isEmpty, p)
    }
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

  test("runDaily scans with the pinned landing schemas, which equal the inferred ones: 7 jobs a call") {
    val (postsRoot, commentsRoot, tweetsRoot) = mkLanding()
    Seq(postsRoot -> Schemas.redditPosts, commentsRoot -> Schemas.redditComments,
        tweetsRoot -> Schemas.tweets).foreach { case (root, schema) =>
      def scan(s: Option[StructType]) =
        SocialPipeline.scanPartition(spark, root, "ukraine war", "25-03-2023", s).schema
      assert(scan(Some(schema)) == scan(None), root)
    }
    // three fills and four sink writes; no scan infers its schema
    val out = TestSpark.tempDir("graft-jobs").toString
    val (_, jobs) = SinkProbes.jobCount(spark)(SocialPipeline.runDaily(spark, postsRoot,
      commentsRoot, tweetsRoot, "ukraine war", "25-03-2023", out, blacklist, scorer))
    assert(jobs == 7, s"$jobs jobs submitted")
  }

  test("writeSinks with no sinks is a no-op") {
    val before = SinkProbes.persistentRdds(spark)
    val (_, jobs) = SinkProbes.jobCount(spark)(SocialPipeline.writeSinks(Seq(spark.range(3).toDF()), Nil))
    assert(jobs == 0, s"$jobs jobs submitted")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(SinkProbes.persistentRdds(spark) -- before == Set.empty)
  }

  test("runDaily rethrows a failing sink's own exception and cleans up") {
    val (postsRoot, commentsRoot, tweetsRoot) = mkLanding()
    val out = TestSpark.tempDir("graft-fail").toString
    val before = SinkProbes.persistentRdds(spark)
    // the sentinel fails the tweets fill; the posts and comments fills
    // succeed, and all three must still be released
    val ex = intercept[Exception] {
      SocialPipeline.runDaily(spark, postsRoot, commentsRoot, tweetsRoot,
        "ukraine war", "25-03-2023", out, blacklist, new CountingScorer(failOn = "good tweet"))
    }
    assert(!ex.isInstanceOf[java.util.concurrent.ExecutionException])
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(ex).exists(t => Option(t.getMessage).exists(_.contains("scorer failed on 'good tweet'"))),
      s"sentinel failure missing from the cause chain of $ex")
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(SinkProbes.persistentRdds(spark) -- before == Set.empty)
    def poolThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.getName == "social-pipeline-pool" && t.isAlive)
    val deadline = System.nanoTime() + 10000000000L
    while (poolThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(poolThreads.isEmpty, s"${poolThreads.length} pool threads still running")
  }
}
