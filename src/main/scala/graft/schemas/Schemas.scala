package graft.schemas

import org.apache.spark.sql.types._

/** Fixed, explicit schemas for the social-media data model (FIXTURES.md,
  * SURVEY.md §1). The reference relies on crawler-inferred dynamic schemas
  * (`terraform/main.tf:301-319`); we pin `StructType` constants and use
  * `spark.read.schema(...)` so the scan never pays inference (a Parquet
  * inference is a Spark job: `SocialPipeline.runDaily` passes these to
  * `scanPartition`) and the plan is stable. Dates ingest as strings
  * (`"YYYY-MM-DD HH:MM:SS"`, `twitter/lambda_function.py:32`) and
  * normalize to TimestampType in ops.
  */
object Schemas {

  /** reddit_posts — producer `reddit/lambda_function_aggregate.py:62-71`. */
  val redditPosts: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("date", StringType),
    StructField("title", StringType),
    StructField("content", StringType),
    StructField("username", StringType),
    StructField("commentCount", IntegerType),
    StructField("score", IntegerType),
    StructField("subreddit", StringType),
    StructField("topic", StringType),
    StructField("dataload", StringType)))

  /** reddit_comments — producer `reddit/lambda_function_aggregate.py:84-92`. */
  val redditComments: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("date", StringType),
    StructField("content", StringType),
    StructField("username", StringType),
    StructField("score", IntegerType),
    StructField("post_id", StringType),
    StructField("parent_id", StringType),
    StructField("topic", StringType),
    StructField("dataload", StringType)))

  /** twitter — producer `twitter/lambda_function.py:30-41`. Tweet ids are
    * 64-bit (e.g. 1635322899233112064) → LongType, never Int.
    */
  val tweets: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("date", StringType),
    StructField("content", StringType),
    StructField("username", StringType),
    StructField("followersCount", IntegerType),
    StructField("mentionedUsers", StringType), // comma-joined at the edge; ArrayType in ops
    StructField("retweetCount", IntegerType),
    StructField("replyCount", IntegerType),
    StructField("inReplyToUser", StringType),
    StructField("timeStamp", StringType),
    StructField("topic", StringType),
    StructField("dataload", StringType)))

  case class RedditPost(id: String, date: String, title: String, content: String,
                        username: String, commentCount: Int, score: Int, subreddit: String)

  case class RedditComment(id: String, date: String, content: String, username: String,
                           score: Int, post_id: String, parent_id: String)

  case class Tweet(id: Long, date: String, content: String, username: String,
                   followersCount: Int, mentionedUsers: String, retweetCount: Int,
                   replyCount: Int, inReplyToUser: String, timeStamp: String)
}
