package graft.pipeline

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.enrich.Enrich
import graft.graph.GraphBuilder
import graft.ops.{Checkpoints, CoreOps, SocialOps}
import graft.schemas.Schemas

/** The reference's daily Glue ETL (SURVEY.md §3) as one distributed plan —
  * no `toPandas` driver collapse (`glue/twitter_glue.py:161`), no per-row
  * sink transactions (`glue/reddit_glue.py:112-125`). Stages:
  *
  *   scan(partition-pruned) → clean → enrich → graph tables + rollups
  *
  * Partition layout mirrors the reference's S3 key scheme
  * `topic=<q>/dataload=<dd-mm-yyyy>/` (`reddit/lambda_function_initial.py:45`);
  * `spark.read.parquet(root)` surfaces `topic`/`dataload` as partition
  * columns and Catalyst prunes them (`PruneFileSourcePartitions`) exactly
  * like the Glue push_down_predicate (`glue/reddit_glue.py:207-213`).
  *
  * Note on the reference bug `glue/reddit_glue.py:124` (comment rows
  * enriched with the *post's* sentiment): we enrich comments from their own
  * content — capability, not the bug.
  */
object SocialPipeline {

  /** K1 — partitioned landing sink (append, hive layout). `format` = parquet
    * for the engine's own layout or json to mirror the reference's landing
    * files byte-compatibly (`reddit/lambda_function_initial.py:45,62-63`).
    */
  def writeLanding(df: DataFrame, root: String, format: String = "parquet"): Unit =
    df.write.partitionBy("topic", "dataload").mode(SaveMode.Append)
      .format(format).save(root)

  /** K2 — CSV snapshot debug/audit sink (`glue/reddit_glue.py:225-226,271-273`). */
  def writeCsvSnapshot(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S7 — catalog-style scan with partition pushdown. With a `schema` the
    * reader takes it as the landing's (data columns, then the `topic` and
    * `dataload` partition columns, as strings); without one it infers the
    * schema from the files, which costs a Spark job.
    */
  def scanPartition(spark: SparkSession, root: String, topic: String, dataload: String,
                    schema: Option[StructType] = None): DataFrame =
    schema.foldLeft(spark.read)(_.schema(_)).parquet(root)
      .where(col("topic") === topic && col("dataload") === dataload)

  /** Clean stage for posts: sentinel scrub + dropna (F8), author filters
    * (F5/F6), length gate + profanity blacklist (F3/F4, reference order),
    * date normalization (P7/P8).
    */
  def cleanPosts(df: DataFrame, blacklist: Seq[String], maxLen: Int = 1000): DataFrame = {
    val scrubbed = SocialOps.nullScrub(df)
    val authored = SocialOps.authorFilter(scrubbed)
    val gated = SocialOps.contentGate(authored, maxLen, blacklist, Seq("title", "content"))
    SocialOps.normalizeDates(gated)
  }

  /** Clean stage for comments (single text column). */
  def cleanComments(df: DataFrame, blacklist: Seq[String], maxLen: Int = 1000): DataFrame = {
    val scrubbed = SocialOps.nullScrub(df)
    val authored = SocialOps.authorFilter(scrubbed)
    val gated = SocialOps.contentGate(authored, maxLen, blacklist, Seq("content"))
    SocialOps.normalizeDates(gated)
  }

  /** Enrich stage (U1→U2→U3 in reference order): translate in-place, then
    * batched sentiment (25-row Comprehend protocol), then claim score.
    * Everything executor-side.
    */
  def enrich(df: DataFrame, textCol: String, scorer: Enrich.TextScorer): DataFrame = {
    val translated = df.withColumn(textCol, Enrich.translateCol(col(textCol)))
    Enrich.batchEnrich(translated, textCol, scorer, batchSize = 25)
      .withColumn("claimScore", Enrich.claimScore(col(textCol)))
  }

  /** Aggregate serving tables (A4/A5/A7): engagement per subreddit and
    * sentiment distribution per topic.
    */
  def engagementBySubreddit(posts: DataFrame): DataFrame =
    posts.groupBy(col("subreddit"))
      .agg(count(lit(1)).as("n_posts"),
        sum(col("score").cast("long")).as("sum_score"),
        sum(col("commentCount").cast("long")).as("sum_comments"))

  def sentimentByTopic(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("topic"))
      .agg(count(lit(1)).as("n"),
        sum(CoreOps.cents(col("Positive"), 6)).as("sum_pos_u"),
        sum(CoreOps.cents(col("Negative"), 6)).as("sum_neg_u"),
        sum(CoreOps.cents(col("claimScore"), 6)).as("sum_claim_u"))

  /** Full daily batch for one `topic`/`dataload` partition: scans, cleans and
    * enriches posts, comments and tweets, then writes the graph tables
    * (`vertices`, `edges`) and the two rollups (`engagement_by_subreddit`,
    * `sentiment_by_topic`) as parquet under `outDir`. Each scan reads its
    * landing with the pinned [[graft.schemas.Schemas]] type, so no scan
    * infers its schema and building the three scan → clean → enrich chains
    * submits no job; a landing must carry those types (a tweet id landed as
    * a string fails the fill). The chains are built concurrently, each scan
    * listing its landing's files. [[writeSinks]] then fills each enriched
    * fact once, executor-local, and writes the four sinks concurrently from
    * the filled facts: every clean row is scored once, and a lost executor
    * fails the call instead of silently rescoring. A fact no larger than
    * AQE's advisory partition size (64 MB by default) comes back as one
    * partition, so no sink plans a shuffle: a call over such facts is 7
    * jobs, three fills and four one-task writes.
    */
  def runDaily(spark: SparkSession, postsRoot: String, commentsRoot: String,
               tweetsRoot: String, topic: String, dataload: String,
               outDir: String, blacklist: Seq[String],
               scorer: Enrich.TextScorer): Unit = {
    def fact(root: String, schema: StructType, clean: DataFrame => DataFrame): () => DataFrame =
      () => enrich(clean(scanPartition(spark, root, topic, dataload, Some(schema))), "content", scorer)
    val facts = inParallel(Seq(
      fact(postsRoot, Schemas.redditPosts, cleanPosts(_, blacklist)),
      fact(commentsRoot, Schemas.redditComments, cleanComments(_, blacklist)),
      fact(tweetsRoot, Schemas.tweets, cleanComments(_, blacklist))))
    def overwrite(name: String)(build: (DataFrame, DataFrame, DataFrame) => DataFrame)
        : Seq[DataFrame] => Unit = { case Seq(p, c, t) =>
      build(p, c, t).write.mode(SaveMode.Overwrite).parquet(s"$outDir/$name.parquet")
    }
    writeSinks(facts, Seq(
      overwrite("vertices")(GraphBuilder.vertices),
      overwrite("edges")(GraphBuilder.edges),
      overwrite("engagement_by_subreddit")((p, _, _) => engagementBySubreddit(p)),
      overwrite("sentiment_by_topic")((p, c, t) => sentimentByTopic(
        p.unionByName(c.drop("post_id", "parent_id"), allowMissingColumns = true)
          .unionByName(t, allowMissingColumns = true)))))
  }

  /** Writes several sinks built from the same `facts` while computing each
    * fact once. Every Spark action re-plans and re-runs its whole input
    * chain, so each fact is first filled through
    * [[graft.ops.Checkpoints.materialize]]'s eager executor-local path: one
    * job per fact, the fills running concurrently, and every fill finished
    * before any sink is planned. Each sink is a function that builds and
    * writes its table from the filled frames (in the order of `facts`); its
    * plan reads only them, so its tasks carry no scan, clean or enrich
    * lineage. Each filled frame comes back sized by the bytes its fill
    * stored ([[graft.ops.Checkpoints.materialize]]): a fact no larger than
    * AQE's advisory partition size is one partition, so a sink's aggregate,
    * `dropDuplicates` or union over such facts plans no shuffle and its
    * write is one job of one task. The sinks run concurrently, one pool
    * thread each. The filled blocks are released when the call returns,
    * whether it succeeds or fails; the first failing fill's or sink's own
    * exception is rethrown. With no sinks the call is a no-op that submits
    * no job.
    *
    * Recovery policy: executor-local. A retried sink task re-reads the
    * filled blocks and never rescores a row (PipelineFaultSpec). If an
    * executor is lost after the fill, a sink that reads its blocks fails the
    * call with Spark's "Checkpoint block ... not found" error; nothing is
    * recomputed from lineage, so a nondeterministic scorer can never leave
    * the sinks disagreeing. A reliable policy waits for the shared
    * materialization conf (ROADMAP item 5).
    */
  def writeSinks(facts: Seq[DataFrame], sinks: Seq[Seq[DataFrame] => Unit]): Unit =
    if (sinks.nonEmpty) {
      val filled = new ConcurrentLinkedQueue[DataFrame]
      try {
        val frames = inParallel(facts.map(f => () => {
          val m = Checkpoints.materialize(f, None, eager = true)
          filled.add(m)
          m
        }))
        inParallel(sinks.map(s => () => s(frames)))
      } finally filled.forEach(Checkpoints.release(_))
    }

  /** Runs `tasks` concurrently, one pool thread each, and returns their
    * results in order once all have finished; a failure rethrows its cause,
    * not the `ExecutionException` around it. Pool threads are created by
    * the calling thread, so they inherit its Spark local properties (job
    * group, SQL execution id).
    */
  private def inParallel[T](tasks: Seq[() => T]): Seq[T] = if (tasks.isEmpty) Nil else {
    val pool = Executors.newFixedThreadPool(tasks.size,
      (r: Runnable) => new Thread(r, "social-pipeline-pool"))
    try {
      pool.invokeAll(tasks.map(t => (() => t()): Callable[T]).asJava).asScala.toSeq.map { f =>
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
  }
}
