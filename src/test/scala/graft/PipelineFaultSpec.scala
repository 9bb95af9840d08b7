package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskKilled
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.SocialPipeline

/** Task death inside `runDaily`'s sinks against `writeSinks`' executor-local
  * fill (its scaladoc): once the enriched facts are filled, a killed sink
  * task is retried from the filled blocks, so the tables equal an
  * undisturbed run's and no row is scored twice. Two cases: at the default
  * advisory size every fact comes back as one partition, so the killed task
  * is a one-task sink write that re-reads every filled block; with the
  * advisory size lowered below the facts' bytes, the facts keep their filled
  * partitions, so the killed task is one of a multi-task sink stage and
  * re-reads only its own blocks. Runs in the `faults` group (`local[4, 3]`)
  * and fails if the kill never landed.
  */
class PipelineFaultSpec extends AnyFunSuite with BeforeAndAfterAll {
  import PipelineFaultSpec._

  private val spark = FaultSpark.spark

  override def beforeAll(): Unit = FaultSpark.requireFaultsGroup()

  private val tables = Seq("vertices", "edges", "engagement_by_subreddit", "sentiment_by_topic")

  test("a killed sink task re-reads the filled facts and never rescores") {
    assert(killOneSinkTask() == 1) // a one-task write over one-partition facts
  }

  test("a killed task of a multi-task sink stage re-reads its filled blocks and never rescores") {
    // far below the facts' bytes: each fact is returned as filled, in its scan's partitions
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1024")
    val width = try killOneSinkTask() finally spark.conf.unset(key)
    assert(width > 1, s"the killed task's sink stage ran $width task")
  }

  /** Runs `runDaily` undisturbed, then again while killing a sink task;
    * checks the second run, and returns the task count of the sink stage
    * the kill landed on. */
  private def killOneSinkTask(): Int = {
    val roots = land(spark, TestSpark.tempDir("pipeline_fault_landing").toString)
    val clean = cleanRows(spark, roots)
    def runDaily(): String = {
      val out = TestSpark.tempDir("pipeline_fault_out").toString
      CountingScorer.rows.set(0L)
      SocialPipeline.runDaily(spark, roots.posts, roots.comments, roots.tweets, topic,
        dataload, out, blacklist, new CountingScorer)
      out
    }
    val base = runDaily()
    assert(CountingScorer.rows.get == clean)

    // Sink stages are the ones whose lineage ends at a filled fact's
    // checkpoint; kill running attempts of them until one ends killed.
    val sinkStages = new ConcurrentHashMap[Int, Int]() // stage id -> its task count
    val kills = new AtomicInteger(0)
    val landedWidth = new AtomicInteger(0)
    val killer = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.stageInfo.rddInfos.exists(_.name == "LocalCheckpointRDD"))
          sinkStages.put(s.stageInfo.stageId, s.stageInfo.numTasks): Unit
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (sinkStages.containsKey(t.stageId) && landedWidth.get == 0 && kills.incrementAndGet() <= 20)
          spark.sparkContext.killTaskAttempt(t.taskInfo.taskId, true,
            "planted sink-task kill"): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (sinkStages.containsKey(e.stageId) && e.reason.isInstanceOf[TaskKilled])
          landedWidth.compareAndSet(0, sinkStages.get(e.stageId)): Unit
    }
    spark.sparkContext.addSparkListener(killer)
    val disturbed = try runDaily() finally {
      org.apache.spark.GraftSparkAccess.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(killer)
    }
    assert(landedWidth.get > 0, s"no planted kill landed on a sink task (${kills.get} tried)")
    assert(CountingScorer.rows.get == clean,
      s"${CountingScorer.rows.get} rows scored for $clean clean rows")
    tables.foreach { t =>
      def read(dir: String) = spark.read.parquet(s"$dir/$t.parquet")
      val (a, b) = (read(base), read(disturbed))
      assert(a.count() > 0 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$t differs from the undisturbed run")
    }
    landedWidth.get
  }
}

object PipelineFaultSpec {
  val topic = "ukraine war"
  val dataload = "25-03-2023"
  val blacklist = Seq("badterm")

  final case class Roots(posts: String, comments: String, tweets: String)

  /** Lands 20,000 posts, 40,000 comments and 20,000 tweets for one
    * topic/day, four files each, so every sink task runs long enough to be
    * killed. Every 10th post and comment is a sentinel the clean stage
    * drops. */
  def land(spark: SparkSession, root: String): Roots = {
    def rows(n: Long) = spark.range(0, n, 1, 4)
    def text(kind: String) = concat(
      when(col("id") % 3 === 0, lit("good ")).otherwise(lit("bad ")), lit(s"$kind text "), col("id"))
    def content(kind: String) = when(col("id") % 10 === 0, lit("[deleted]")).otherwise(text(kind))
    val day = Seq(lit(topic).as("topic"), lit(dataload).as("dataload"))
    val date = lit("2023-03-25 10:00:00").as("date")
    val user = concat(lit("u"), col("id") % 500).as("username")
    val posts = rows(20000).select(Seq(concat(lit("p"), col("id")).as("id"), date,
      concat(lit("title "), col("id")).as("title"), content("post").as("content"), user,
      (col("id") % 7).cast("int").as("commentCount"), (col("id") % 11).cast("int").as("score"),
      concat(lit("sub"), col("id") % 20).as("subreddit")) ++ day: _*)
    val postId = concat(lit("p"), col("id") % 20000)
    val comments = rows(40000).select(Seq(concat(lit("c"), col("id")).as("id"), date,
      content("comment").as("content"), user, (col("id") % 5).cast("int").as("score"),
      postId.as("post_id"), postId.as("parent_id")) ++ day: _*)
    val tweets = rows(20000).select(Seq((col("id") + 900000000000000000L).as("id"),
      date, text("tweet").as("content"), user,
      concat_ws(",", concat(lit("u"), col("id") % 7), concat(lit("u"), col("id") % 13))
        .as("mentionedUsers")) ++ day: _*)
    val r = Roots(s"$root/posts", s"$root/comments", s"$root/tweets")
    SocialPipeline.writeLanding(posts, r.posts)
    SocialPipeline.writeLanding(comments, r.comments)
    SocialPipeline.writeLanding(tweets, r.tweets)
    r
  }

  /** Rows that pass the clean stage: each must be scored exactly once. */
  def cleanRows(spark: SparkSession, r: Roots): Long = {
    def scan(root: String): DataFrame = SocialPipeline.scanPartition(spark, root, topic, dataload)
    SocialPipeline.cleanPosts(scan(r.posts), blacklist).count() +
      SocialPipeline.cleanComments(scan(r.comments), blacklist).count() +
      SocialPipeline.cleanComments(scan(r.tweets), blacklist).count()
  }
}
