package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph-as-tables builders (SURVEY.md §2.12 K3): the reference's Neo4j
  * MERGE serving layer (`glue/reddit_glue.py:70-125`,
  * `glue/twitter_glue.py:74-105`) re-expressed as `vertices`/`edges`
  * DataFrames in GraphFrames convention (`id`, `label` + attrs; `src`,
  * `dst`, `rel`). Cypher MERGE = dedup-on-key, so every node table is a
  * `dropDuplicates` on the merge key. Each fact table is read once: one
  * generator fans every fact row out to the nodes and edges its MERGEs
  * touch, and one dedup per table replaces the MERGEs — idempotent,
  * distributable, no per-row transactions.
  */
object GraphBuilder {

  /** Node tables from posts/comments/tweets. Like the reference's per-row
    * MERGEs, each fact row fans out in one pass to its own node and its dim
    * nodes: Post + User + Subreddit, Comment + User, Tweet + User.
    */
  def vertices(posts: DataFrame, comments: DataFrame, tweets: DataFrame): DataFrame =
    postNodes(posts).unionByName(nodes(comments, "Comment", "User" -> col("username")))
      .unionByName(nodes(tweets, "Tweet", "User" -> col("username")))
      .dropDuplicates("id", "label")

  /** Edge tables: POSTED_IN, POSTED_BY, COMMENTED_ON, COMMENTED_BY, MENTIONS
    * (`glue/reddit_glue.py:70-98`, `glue/twitter_glue.py:74-97`), one pass
    * per fact table.
    */
  def edges(posts: DataFrame, comments: DataFrame, tweets: DataFrame): DataFrame =
    postRels(posts)
      .unionByName(rels(comments, "COMMENTED_ON" -> col("post_id"), "COMMENTED_BY" -> col("username")))
      .unionByName(graft.ops.SocialOps.mentionEdges(tweets).select(col("id").cast("string").as("src"),
        col("mentioned").as("dst"), lit("MENTIONS").as("rel")))
      .dropDuplicates("src", "dst", "rel")

  /** [[vertices]] and [[edges]] of posts alone (no comments, no tweets). */
  def postVertices(posts: DataFrame): DataFrame = postNodes(posts).dropDuplicates("id", "label")
  def postEdges(posts: DataFrame): DataFrame = postRels(posts).dropDuplicates("src", "dst", "rel")

  private def postNodes(posts: DataFrame): DataFrame =
    nodes(posts, "Post", "User" -> col("username"), "Subreddit" -> col("subreddit"))
  private def postRels(posts: DataFrame): DataFrame =
    rels(posts, "POSTED_IN" -> col("subreddit"), "POSTED_BY" -> col("username"))

  /** One string (`id`, `label`) row per node a fact row MERGEs, from one generator:
    * the fact node, kept even with a null id, and each non-null dim node. */
  private def nodes(df: DataFrame, fact: String, dims: (String, Column)*): DataFrame =
    df.select(inline(array(((fact -> col("id")) +: dims).map { case (label, c) =>
      struct(c.cast("string").as("id"), lit(label).as("label")) }: _*)))
      .filter(col("id").isNotNull || col("label") === fact)

  /** One string (`src`, `dst`, `rel`) row per non-null `dst` of a fact row, from one generator. */
  private def rels(df: DataFrame, dsts: (String, Column)*): DataFrame =
    df.select(col("id").cast("string").as("src"), inline(array(dsts.map { case (rel, c) =>
      struct(c.cast("string").as("dst"), lit(rel).as("rel")) }: _*)))
      .filter(col("dst").isNotNull)

  /** Dev-path user↔user tweet graph
    * (`neo4j_insert/neo4j_twitter_insert.py:6-41,60-82`): edges between
    * the TWEETING user and each mentioned user (`mentioned`), plus
    * tweeter → inReplyToUser (`inReplyToUser`). The script's four-way
    * if/elif branching (both present / mentions only / reply only /
    * neither) collapses under MERGE semantics to two null-safe
    * projections + dedup — each edge type is emitted exactly when its
    * field is present, independent of the other. Python truthiness:
    * null AND empty-string both mean "absent" (`if tweet[...]` at
    * `neo4j_twitter_insert.py:66,71,76`). This is the user↔user shape
    * the production Glue path does NOT build (it makes tweet→user
    * MENTIONS instead — [[edges]]); mirrored here for parity with the
    * local insert script.
    */
  def userUserEdges(tweets: DataFrame): DataFrame = {
    val hasMentions = col("mentionedUsers").isNotNull && col("mentionedUsers") =!= ""
    val mentioned = tweets.filter(hasMentions)
      .select(col("username").as("src"),
        explode(split(col("mentionedUsers"), ",")).as("dst"),
        lit("mentioned").as("rel"))
    val hasReply = col("inReplyToUser").isNotNull && col("inReplyToUser") =!= ""
    val replies = tweets.filter(hasReply)
      .select(col("username").as("src"), col("inReplyToUser").as("dst"),
        lit("inReplyToUser").as("rel"))
    mentioned.unionByName(replies)
      .filter(col("src").isNotNull) // Cypher MERGE on a null key throws
      .dropDuplicates("src", "dst", "rel")
  }

  /** K3 sink: graph tables to parquet, overwrite = the reference's
    * wipe-and-reload dev flow (`neo4j_insert/neo4j_reddit_insert.py:56-68`).
    */
  def write(vertices: DataFrame, edges: DataFrame, dir: String): Unit = {
    vertices.write.mode("overwrite").parquet(s"$dir/vertices.parquet")
    edges.write.mode("overwrite").parquet(s"$dir/edges.parquet")
  }

  /** A7 — mention-degree / top-k influencers from the edges table. */
  def degree(edges: DataFrame, rel: String): DataFrame =
    edges.filter(col("rel") === rel).groupBy(col("dst")).agg(count(lit(1)).as("degree"))
}
