package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphBuilder

class GraphBuilderSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def posts = Seq(
    ("p1", "alice", "worldnews"), ("p2", "bob", "europe"), ("p3", "alice", "europe"))
    .toDF("id", "username", "subreddit")
  private def comments = Seq(
    ("c1", "carol", "p1"), ("c2", "alice", "p1"))
    .toDF("id", "username", "post_id")
  private def tweets = Seq(
    (100L, "dave", "alice,bob"), (101L, "erin", null))
    .toDF("id", "username", "mentionedUsers")

  test("vertices: one node per id+label, users/subreddits deduped across sources") {
    val v = GraphBuilder.vertices(posts, comments, tweets)
    assert(v.filter($"label" === "Post").count() == 3)
    assert(v.filter($"label" === "Comment").count() == 2)
    assert(v.filter($"label" === "Tweet").count() == 2)
    // alice appears as poster+commenter → one User node
    assert(v.filter($"label" === "User").count() == 5) // alice bob carol dave erin
    assert(v.filter($"label" === "Subreddit").count() == 2)
  }

  test("edges: all five relations, mention fan-out, null-safe") {
    val e = GraphBuilder.edges(posts, comments, tweets)
    assert(e.filter($"rel" === "POSTED_IN").count() == 3)
    assert(e.filter($"rel" === "POSTED_BY").count() == 3)
    assert(e.filter($"rel" === "COMMENTED_ON").count() == 2)
    assert(e.filter($"rel" === "COMMENTED_BY").count() == 2)
    assert(e.filter($"rel" === "MENTIONS").count() == 2) // 101L has null mentions
  }

  // Reference model: the five-branch union formulation, one select per node
  // or edge kind, dims via distinct (reads each fact table several times).
  private def modelVertices(posts: DataFrame, comments: DataFrame, tweets: DataFrame) = {
    val userV = posts.select($"username").unionByName(comments.select($"username"))
      .unionByName(tweets.select($"username")).filter($"username".isNotNull).distinct()
      .select($"username".as("id"), lit("User").as("label"))
    val subV = posts.select($"subreddit").filter($"subreddit".isNotNull).distinct()
      .select($"subreddit".as("id"), lit("Subreddit").as("label"))
    posts.select($"id".cast("string").as("id"), lit("Post").as("label"))
      .unionByName(comments.select($"id".cast("string").as("id"), lit("Comment").as("label")))
      .unionByName(tweets.select($"id".cast("string").as("id"), lit("Tweet").as("label")))
      .unionByName(userV).unionByName(subV).dropDuplicates("id", "label")
  }

  private def modelEdges(posts: DataFrame, comments: DataFrame, tweets: DataFrame) = {
    def rel(df: DataFrame, dst: String, rel: String) =
      df.select($"id".cast("string").as("src"), col(dst).cast("string").as("dst"), lit(rel).as("rel"))
    rel(posts, "subreddit", "POSTED_IN").unionByName(rel(posts, "username", "POSTED_BY"))
      .unionByName(rel(comments, "post_id", "COMMENTED_ON"))
      .unionByName(rel(comments, "username", "COMMENTED_BY"))
      .unionByName(graft.ops.SocialOps.mentionEdges(tweets)
        .select($"id".cast("string").as("src"), $"mentioned".as("dst"), lit("MENTIONS").as("rel")))
      .filter($"dst".isNotNull).dropDuplicates("src", "dst", "rel")
  }

  /** Rows as a sorted multiset, null-safe, with the column names. */
  private def rowsOf(df: DataFrame) =
    (df.columns.toSeq, df.collect().toSeq.map(_.toSeq.map(Option(_))).sortBy(_.toString))

  // null fact ids, null usernames, a null subreddit, a null post_id, Long
  // tweet ids (one null), an empty mention string and repeated mentions
  private def nullyPosts = Seq(
    ("p1", "alice", "worldnews"), ("p2", null, "europe"), (null, "bob", null),
    ("p3", "alice", null), ("p1", "alice", "worldnews"))
    .toDF("id", "username", "subreddit")
  private def nullyComments = Seq(
    ("c1", "carol", "p1"), ("c2", null, null), (null, "alice", "p2"), ("c3", "bob", "p9"))
    .toDF("id", "username", "post_id")
  private def nullyTweets = Seq(
    (Some(100L), "dave", "alice,bob"), (Some(101L), "erin", null), (Some(102L), null, ""),
    (Some(103L), "dave", "bob,bob,alice"), (None, "frank", "carol"))
    .toDF("id", "username", "mentionedUsers")

  test("one-pass vertices/edges equal the five-branch union model, nulls included") {
    val (p, c, t) = (nullyPosts, nullyComments, nullyTweets)
    assert(rowsOf(GraphBuilder.vertices(p, c, t)) == rowsOf(modelVertices(p, c, t)))
    assert(rowsOf(GraphBuilder.edges(p, c, t)) == rowsOf(modelEdges(p, c, t)))
    // the fixture reaches every null rule
    assert(rowsOf(GraphBuilder.vertices(p, c, t))._2.count(_.head.isEmpty) == 3)
    assert(GraphBuilder.edges(p, c, t).filter($"src".isNull).count() > 0)
  }

  test("posts-only builders equal vertices/edges with no comments and no tweets") {
    val p = nullyPosts
    val noComments = Seq.empty[(String, String, String)].toDF("id", "username", "post_id")
    val noTweets = Seq.empty[(Long, String, String)].toDF("id", "username", "mentionedUsers")
    assert(rowsOf(GraphBuilder.postVertices(p)) == rowsOf(GraphBuilder.vertices(p, noComments, noTweets)))
    assert(rowsOf(GraphBuilder.postEdges(p)) == rowsOf(GraphBuilder.edges(p, noComments, noTweets)))
  }

  test("plan shape: each fact table is scanned once and deduped in one aggregate") {
    val (p, c, t) = (nullyPosts, nullyComments, nullyTweets)
    Seq(p, c, t).foreach(_.persist())
    try {
      def cacheScans(df: DataFrame) =
        df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.size
      assert(cacheScans(GraphBuilder.vertices(p, c, t)) == 3)
      assert(cacheScans(GraphBuilder.edges(p, c, t)) == 3)
      assert(cacheScans(GraphBuilder.postVertices(p)) == 1)
      assert(cacheScans(GraphBuilder.postEdges(p)) == 1)
      assert(GraphBuilder.vertices(p, c, t).queryExecution.optimizedPlan
        .collect { case a: Aggregate => a }.size == 1)
    } finally Seq(p, c, t).foreach(_.unpersist())
  }

  test("degree counts incoming edges per node") {
    val e = GraphBuilder.edges(posts, comments, tweets)
    val d = GraphBuilder.degree(e, "POSTED_IN")
    assert(d.filter($"dst" === "europe").head().getLong(1) == 2L)
  }

  test("userUserEdges mirrors the dev script's four-way null branching") {
    // neo4j_twitter_insert.py:60-82: both present / mentions only /
    // reply only / neither; empty string is Python-falsy (line 66)
    val t = Seq(
      ("alice", "bob,carol", "dave"),  // both → 2 mentioned + 1 reply
      ("erin", "bob", null),           // mentions only
      ("frank", null, "alice"),        // reply only
      ("gina", null, null),            // neither → node only, no edges
      ("hank", "", "bob"),             // '' mentions is falsy → reply only
      ("alice", "bob", "dave")         // MERGE dedup: repeats collapse
    ).toDF("username", "mentionedUsers", "inReplyToUser")
    val e = GraphBuilder.userUserEdges(t)
      .as[(String, String, String)].collect().toSet
    assert(e == Set(
      ("alice", "bob", "mentioned"), ("alice", "carol", "mentioned"),
      ("alice", "dave", "inReplyToUser"),
      ("erin", "bob", "mentioned"),
      ("frank", "alice", "inReplyToUser"),
      ("hank", "bob", "inReplyToUser")))
  }

  test("graph write/read round-trips as parquet tables") {
    val dir = TestSpark.tempDir("graft-graph").toString
    GraphBuilder.write(
      GraphBuilder.vertices(posts, comments, tweets),
      GraphBuilder.edges(posts, comments, tweets), dir)
    assert(spark.read.parquet(s"$dir/vertices.parquet").count() > 0)
    assert(spark.read.parquet(s"$dir/edges.parquet").count() > 0)
  }
}
