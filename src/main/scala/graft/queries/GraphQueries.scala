package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.{Components, GraphAlgos, GraphBuilder, Motifs}

/** Wave 6 — the graph builders (SURVEY.md §2.4 J2-J4, §2.12 K3) under the
  * oracle gate, over social-analog frames derived from the testdata:
  * documents→posts (source as author, lang as subreddit), events→comments
  * (user as author, FK to the post of the same doc_id bucket), click
  * events→tweets with a synthesized mention list. The mapping is arbitrary
  * but deterministic — what's under test is node dedup (Cypher MERGE
  * semantics), edge projection, and the mention fan-out.
  */
object GraphQueries {

  // One reliable-checkpoint root for the whole JVM session: the
  // SparkContext checkpoint dir is set-once global state
  // (graft.ops.Checkpoints), so a fresh temp dir per query invocation
  // would be rejected on the second bench pass.
  private lazy val prCkptRoot: String = java.nio.file.Files
    .createTempDirectory("graft_pr_ckpt_").toString

  /** q94's depth cap, shared by the engine call (maxIters) and the
    * oracle's recursive-CTE bound so neither can silently truncate
    * deeper than the other.
    */
  private val bfsDepthBound = 30

  private def posts(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id").cast("string").as("id"),
      col("source").as("username"),
      col("lang").as("subreddit"))

  private def comments(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").filter(col("event_type") === "view").select(
      col("event_id").cast("string").as("id"),
      concat(lit("u"), col("user_id")).as("username"),
      (col("event_id") % 500).cast("string").as("post_id"))

  private def tweets(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events").filter(col("event_type") === "click").select(
      col("event_id").as("id"),
      concat(lit("u"), col("user_id")).as("username"),
      when(col("user_id") % 3 === 0, lit(null))
        .otherwise(concat(lit("u"), col("user_id") % 7, lit(",u"), col("user_id") % 11))
        .as("mentionedUsers"))

  /** q179's fixture: [[tweets]] plus an `inReplyToUser` column, sliced
    * so all four of the dev insert script's branches occur — both
    * fields present, mentions only, reply only, neither — plus the
    * Python-falsy EMPTY-STRING mentions case (user_id % 9 == 1).
    */
  private def tweetsReply(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .filter(col("event_type") === "click" && col("event_id") % 20 === 0)
      .select(
        col("event_id").as("id"),
        concat(lit("u"), col("user_id")).as("username"),
        when(col("user_id") % 3 === 0, lit(null))
          .when(col("user_id") % 9 === 1, lit(""))
          .otherwise(concat(lit("u"), col("user_id") % 7, lit(",u"), col("user_id") % 11))
          .as("mentionedUsers"),
        when(col("user_id") % 2 === 0, lit(null))
          .otherwise(concat(lit("r"), col("user_id") % 5)).as("inReplyToUser"))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Dev-path user↔user tweet relationships with the four-way null
    // branching (neo4j_twitter_insert.py:60-82): tweeter→mentioned edges
    // when mentions present, tweeter→inReplyToUser when present, node
    // only when neither; empty string is Python-falsy, so the '' case
    // must yield NO mention edges. Full deduped edge list gated.
    "q179_user_user_edges" -> ((s, dir) => {
      GraphBuilder.userUserEdges(tweetsReply(s, dir))
        .orderBy(col("src"), col("dst"), col("rel"))
    }),
    // Strongly connected components (directed — mutual reachability, vs
    // q76/q82's undirected CC): who is in a reply CYCLE with whom, not
    // just the same thread. Fixture: two 6-node rings (one SCC each)
    // chained by one-way cross edges, plus pure-sink nodes — the trim
    // phase must kill the sinks as singletons, the dual-label rounds
    // must peel the rings one condensation layer at a time (wall time is
    // fixpoint round count at tiny data, like q82). The oracle is the
    // mutual-reachability definition itself (transitive closure both
    // ways), independent of the engine's algorithm.
    "q152_scc" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val v = (col("user_id") % 12).cast("long")
      val ring = ev.select(v.as("a"), ((v - v % 6) + ((v + 1) % 6)).as("b"))
      val cross = ev.filter(col("event_id") % 3 === 0)
        .select(v.as("a"), (v + 6).as("b")).filter(col("a") < 6)
      val sink = ev.filter(col("event_id") % 7 === 0)
        .select(v.as("a"), (lit(12L) + v % 4).as("b"))
      GraphAlgos.stronglyConnectedComponents(
          ring.unionAll(cross).unionAll(sink), "a", "b")
        .groupBy(col("scc"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("node")).as("sum_nodes"))
        .orderBy(col("scc"))
    }),
    // Node tables: MERGE-on-key dedup across three sources.
    "q51_graph_vertices" -> ((s, dir) => {
      GraphBuilder.vertices(posts(s, dir), comments(s, dir), tweets(s, dir))
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy(col("label"))
    }),

    // Edge tables: five relations incl. null-safe mention fan-out.
    "q52_graph_edges" -> ((s, dir) => {
      GraphBuilder.edges(posts(s, dir), comments(s, dir), tweets(s, dir))
        .groupBy(col("rel")).agg(count(lit(1)).as("n"))
        .orderBy(col("rel"))
    }),

    // Connected components over a sparse user↔object bipartite slice of the
    // event graph (hash-min label propagation, O(diameter) passes) —
    // component sizes vs the oracle's recursive-CTE transitive closure.
    "q76_connected_components" -> ((s, dir) => {
      val edges = Tables.load(s, dir, "events")
        .filter(col("event_id") % 53 === 0)
        .select(col("user_id").cast("long").as("src"),
          (lit(1000000L) + col("event_id") % 211).as("dst"))
        .distinct()
      Components.connectedComponents(edges, "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("component"))
    }),

    // Triangle participation per node — degree-ordered node-iterator, so
    // no reducer ever sees a hot hub's full neighborhood. Deterministic
    // ring-with-chords graph (offsets +1..+5 mod 60) derived from events.
    "q92_triangles" -> ((s, dir) => {
      val raw = Tables.load(s, dir, "events").select(
        (col("user_id") % 60).cast("long").as("x"),
        ((col("user_id") % 60 + 1 + col("event_id") % 5) % 60).cast("long").as("y"))
      GraphAlgos.triangleCounts(raw, "x", "y")
        .orderBy(col("node"))
    }),

    // Fixed-iteration PageRank in integer micro-units — bit-exact vs the
    // oracle's unrolled CTE chain (floor division both levels, no float
    // summation anywhere). Plain PageRank: dangling nodes keep only the
    // base term, as in the oracle, at every scale (sf0.001 has 35 of them;
    // sf0.01 none). q105 and q117 gate the dangling redistribution.
    "q93_pagerank" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (col("user_id") % 50).cast("long").as("src"),
        (((col("user_id") % 50) * 7 + col("event_id") % 11) % 50).cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
      GraphAlgos.pageRank(e, "src", "dst", iters = 4)
        .orderBy(col("node"))
    }),

    // PageRank with REAL dangling nodes (nodes ≡ 0 mod 9 lose their
    // out-edges but keep receiving) and mass-conserving redistribution —
    // each pass folds the dangling total back in as an even share,
    // integer-exact vs the oracle's extended CTE. Runs under RELIABLE
    // checkpoints (a checkpoint dir, not localCheckpoint) to gate the
    // fault-tolerant lineage-truncation path.
    "q105_pagerank_dangling" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (col("user_id") % 50).cast("long").as("src"),
        (((col("user_id") % 50) * 7 + col("event_id") % 11) % 50).cast("long").as("dst"))
        .filter(col("src") =!= col("dst") && col("src") % 9 =!= 0)
      GraphAlgos.pageRank(e, "src", "dst", iters = 4,
          redistributeDangling = true, checkpointDir = Some(prCkptRoot))
        .orderBy(col("node"))
    }),

    // Personalized PageRank ("influence relative to THESE accounts" —
    // the random-walk-with-restart form of the reference's Neo4j
    // influencer ranking): teleport mass concentrated on seeds ≡ 0 mod
    // 10, dangling mass returning to the seeds, over the chord graph
    // with real dangling nodes (src ≡ 0 mod 9 emit nothing).
    "q117_ppr" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (col("user_id") % 50).cast("long").as("src"),
        (((col("user_id") % 50) * 7 + col("event_id") % 11) % 50).cast("long").as("dst"))
        .filter(col("src") =!= col("dst") && col("src") % 9 =!= 0)
      val seeds = e.sparkSession.range(5).select((col("id") * 10).as("node"))
      GraphAlgos.pageRank(e, "src", "dst", iters = 4,
          redistributeDangling = true,
          personalization = Some((seeds, "node")))
        .orderBy(col("node"))
    }),

    // 2-hop motif ("users mentioned by the users X mentions") over the
    // chord graph, midpoint-degree-bounded — the composable edge-join
    // answer to the reference's Neo4j pattern queries
    // (`neo4j_insert/neo4j_twitter_insert.py:60-82`).
    "q103_two_hop" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (col("user_id") % 50).cast("long").as("src"),
        (((col("user_id") % 50) * 7 + col("event_id") % 11) % 50).cast("long").as("dst"))
      Motifs.twoHopCounts(e, "src", "dst", maxMidDegree = Some(21))
        .orderBy(col("a"))
    }),

    // Co-commenter motif ("users engaging the same items") over a
    // bipartite (user, item) projection with three planted viral items
    // (degree 40 — every user) and structural cold items shared by user
    // pairs; the degree cap must prune exactly the viral ones before the
    // pair join (`glue/reddit_glue.py:92-99` COMMENTED_ON).
    "q106_co_comment" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        (col("user_id") % 40).cast("long").as("u"),
        when(col("event_id") % 5 === 0, col("user_id") % 3)
          .otherwise(expr("10 + ((user_id % 40) div 2 * 7 + event_id % 7) % 590"))
          .cast("long").as("item"))
      Motifs.coOccurrence(e, "u", "item",
          minShared = 5L, maxItemDegree = Some(35L))
        .orderBy(col("u1"), col("u2"))
    }),

    // Label-propagation communities over two 12-cliques + one bridge
    // edge (built from the saturated event_id residue domain, so the
    // graph is identical at every SF): 3 synchronous passes, argmax by
    // (count, min label) — clique labels collapse, the bridge does not
    // leak them across.
    // Newman modularity of the q112 label-propagation partition — the
    // score that says whether a community detection actually found
    // structure (Q ≈ 0 = random cuts). EXACT cross-multiplied integers
    // over the symmetric edge set: with M2 = Σ degrees = 2m,
    // Q·M2² = Σ_c (e2_c·M2 − d_c²) where e2_c counts intra-community
    // directed edge slots and d_c the community degree mass — no floats
    // until the final sign-split micros div. One agg computes both
    // per-community terms (d_c = group row count, e2_c = same-label
    // matches) after a two-sided label join.
    "q307_modularity" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val i = Tables.load(s, dir, "events")
        .select((col("event_id") % 997).as("i")).distinct()
      val cliqueA = i.filter(col("i") < 144)
        .select((col("i") % 12).cast("long").as("x"),
          expr("(i div 12) % 12").cast("long").as("y"))
      val cliqueB = i.filter(col("i") < 144)
        .select((col("i") % 12 + 12).cast("long").as("x"),
          expr("(i div 12) % 12 + 12").cast("long").as("y"))
      val bridge = s.range(1).select(lit(0L).as("x"), lit(12L).as("y"))
      val rawf = cliqueA.unionAll(cliqueB).unionAll(bridge)
        .filter(col("x") =!= col("y"))
      val sym = rawf.select(col("x").as("a"), col("y").as("b"))
        .union(rawf.select(col("y").as("a"), col("x").as("b")))
        .distinct()
      val labels = GraphAlgos.labelPropagation(
          cliqueA.unionAll(cliqueB).unionAll(bridge), "x", "y", iters = 3)
        .localCheckpoint() // joined twice + counted
      val joined = sym
        .join(labels.select(col("node").as("a"), col("label").as("ca")), "a")
        .join(labels.select(col("node").as("b"), col("label").as("cb")), "b")
      val per = joined.groupBy(col("ca"))
        .agg(count(lit(1)).as("dc"),
          sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e2c"))
      val nNodes = labels.agg(count(lit(1)).as("n_nodes"))
      per.agg(sum(col("dc")).as("m2"), count(lit(1)).as("n_communities"),
          sum(dec(col("e2c"))).as("se2"),
          sum(dec(col("dc")) * dec(col("dc"))).as("sd2"))
        .crossJoin(broadcast(nNodes))
        .select(col("n_nodes"), col("m2"), col("n_communities"),
          (dec(col("m2")) * col("se2") - col("sd2")).as("qnum"),
          (dec(col("m2")) * dec(col("m2"))).as("qden"))
        .select(col("n_nodes"), col("m2"), col("n_communities"),
          when(col("qnum") >= 0,
            call_function("div", col("qnum") * 1000000L, col("qden")))
            .otherwise(
              -call_function("div", -col("qnum") * 1000000L, col("qden")))
            .as("q_micros"))
    }),

    "q112_label_prop" -> ((s, dir) => {
      val i = Tables.load(s, dir, "events")
        .select((col("event_id") % 997).as("i")).distinct()
      val cliqueA = i.filter(col("i") < 144)
        .select((col("i") % 12).cast("long").as("x"),
          expr("(i div 12) % 12").cast("long").as("y"))
      val cliqueB = i.filter(col("i") < 144)
        .select((col("i") % 12 + 12).cast("long").as("x"),
          expr("(i div 12) % 12 + 12").cast("long").as("y"))
      val bridge = s.range(1).select(lit(0L).as("x"), lit(12L).as("y"))
      GraphAlgos.labelPropagation(
          cliqueA.unionAll(cliqueB).unionAll(bridge), "x", "y", iters = 3)
        .orderBy(col("node"))
    }),

    // k-core: simultaneous peeling of the sparse quadratic-chord graph
    // with an embedded 12-clique — fringe shells peel over 3 rounds, the
    // clique survives as the 3-core (same graph at every SF: the edge
    // set saturates the residue domain).
    "q113_kcore" -> ((s, dir) => {
      val i = Tables.load(s, dir, "events")
        .select((col("event_id") % 997).as("i")).distinct()
      val quad = i.select((col("i") % 240).cast("long").as("x"),
        ((col("i") * col("i") + col("i") * 3) % 240).cast("long").as("y"))
      val clique = i.filter(col("i") < 144)
        .select((col("i") % 12).cast("long").as("x"),
          expr("(i div 12) % 12").cast("long").as("y"))
      GraphAlgos.kCore(quad.unionAll(clique), "x", "y", k = 3L)
        .orderBy(col("node"))
    }),

    // Multi-source BFS depths (seeds = node % 10 = 0) over the same
    // chord-ring graph — Bellman-Ford relaxation, one shuffle per pass.
    "q94_bfs_depth" -> ((s, dir) => {
      val raw = Tables.load(s, dir, "events").select(
        (col("user_id") % 60).cast("long").as("x"),
        ((col("user_id") % 60 + 1 + col("event_id") % 5) % 60).cast("long").as("y"))
      val seeds = raw.select(col("x").as("node"))
        .union(raw.select(col("y").as("node")))
        .distinct().filter(col("node") % 10 === 0)
      GraphAlgos.bfsDepths(raw, "x", "y", seeds, "node",
          maxIters = bfsDepthBound)
        .orderBy(col("node"))
    }),

    // Same components via the O(log n) large-star/small-star rewrite —
    // the adversarial-graph path, against the identical oracle.
    "q82_cc_logn" -> ((s, dir) => {
      val edges = Tables.load(s, dir, "events")
        .filter(col("event_id") % 53 === 0)
        .select(col("user_id").cast("long").as("src"),
          (lit(1000000L) + col("event_id") % 211).as("dst"))
        .distinct()
      Components.connectedComponentsLogN(edges, "src", "dst")
        .groupBy(col("component")).agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("component"))
    }))

  // SQL mirrors of the builder pipelines (dedup on (id,label) / (src,dst,rel)).
  private val postsSql =
    "SELECT CAST(doc_id AS VARCHAR) AS id, source AS username, lang AS subreddit FROM documents"
  private val commentsSql =
    """SELECT CAST(event_id AS VARCHAR) AS id, 'u' || CAST(user_id AS VARCHAR) AS username,
      |CAST(event_id % 500 AS VARCHAR) AS post_id FROM events WHERE event_type = 'view'""".stripMargin
  private val tweetsSql =
    """SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS username,
      |CASE WHEN user_id % 3 = 0 THEN NULL
      |     ELSE 'u' || CAST(user_id % 7 AS VARCHAR) || ',u' || CAST(user_id % 11 AS VARCHAR) END AS mentionedUsers
      |FROM events WHERE event_type = 'click'""".stripMargin
  private val tweetsReplySql =
    """SELECT event_id AS id, 'u' || CAST(user_id AS VARCHAR) AS username,
      |CASE WHEN user_id % 3 = 0 THEN NULL
      |     WHEN user_id % 9 = 1 THEN ''
      |     ELSE 'u' || CAST(user_id % 7 AS VARCHAR) || ',u' || CAST(user_id % 11 AS VARCHAR) END AS mentionedUsers,
      |CASE WHEN user_id % 2 = 0 THEN NULL
      |     ELSE 'r' || CAST(user_id % 5 AS VARCHAR) END AS inReplyToUser
      |FROM events WHERE event_type = 'click' AND event_id % 20 = 0""".stripMargin

  /** Shared CC oracle: both the hash-min and log-n variants must produce
    * identical component-size tables.
    */
  private val ccOracle =
    """WITH RECURSIVE e AS (
      |  SELECT DISTINCT CAST(user_id AS BIGINT) AS a,
      |    1000000 + event_id % 211 AS b
      |  FROM events WHERE event_id % 53 = 0),
      |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
      |reach AS (
      |  SELECT a AS node, a AS r FROM sym
      |  UNION
      |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
      |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
      |SELECT component, count(*) AS n_nodes FROM lab
      |GROUP BY component ORDER BY component""".stripMargin

  /** Unrolled integer-micro PageRank: pr0..pr{iters} CTE chain, floor
    * division (`//`) at both levels, HUGEINT sums cast back to BIGINT.
    */
  private def pageRankOracle(iters: Int): String = {
    val prs = (1 to iters).map { k =>
      s"""pr$k AS (
         |  SELECT n.node,
         |    CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS s
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |           JOIN od d ON d.node = e.src
         |    GROUP BY e.dst) s ON s.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS src,
       |    CAST(((user_id % 50) * 7 + event_id % 11) % 50 AS BIGINT) AS dst
       |  FROM events
       |  WHERE (user_id % 50) <> ((user_id % 50) * 7 + event_id % 11) % 50),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |       FROM e GROUP BY src),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$prs
       |SELECT node, r AS rank_micros FROM pr$iters ORDER BY node""".stripMargin
  }

  /** q105's oracle: the unrolled PageRank CTE extended with the
    * dangling-mass term — per pass, the rank total parked on nodes with
    * no out-edges splits evenly (floor division) across all nodes before
    * damping. Same integer-micros arithmetic as [[pageRankOracle]].
    *
    * Levels are `AS MATERIALIZED`: pr(k-1) is referenced twice per pass
    * (by dang(k) and pr(k)), so un-hinted DuckDB inlining would expand the
    * chain 2^iters times. Materialization keeps the oracle linear in iters.
    */
  private def pageRankDanglingOracle(iters: Int): String = {
    val prs = (1 to iters).map { k =>
      s"""dang$k AS MATERIALIZED (
         |  SELECT CAST(COALESCE(sum(p.r), 0) AS BIGINT)
         |      // (SELECT nn FROM n) AS dshare
         |  FROM pr${k - 1} p LEFT JOIN od d ON d.node = p.node
         |  WHERE d.node IS NULL),
         |pr$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST(150000 + (85 * (COALESCE(s.s, 0)
         |      + (SELECT dshare FROM dang$k))) // 100 AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS s
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |           JOIN od d ON d.node = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS src,
       |    CAST(((user_id % 50) * 7 + event_id % 11) % 50 AS BIGINT) AS dst
       |  FROM events
       |  WHERE (user_id % 50) <> ((user_id % 50) * 7 + event_id % 11) % 50
       |    AND (user_id % 50) % 9 <> 0),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |       FROM e GROUP BY src),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$prs
       |SELECT node, r AS rank_micros FROM pr$iters ORDER BY node""".stripMargin
  }

  /** q117's oracle: the dangling-PageRank CTE with the teleport and
    * dangling terms concentrated on the seed residue class (node ≡ 0 mod
    * 10) — personalized PageRank in the same integer-micros arithmetic.
    *
    * `AS MATERIALIZED` for the same reason as [[pageRankDanglingOracle]]:
    * two references to pr(k-1) per pass → 2^iters inlining without the hint.
    */
  private def pprOracle(iters: Int): String = {
    val prs = (1 to iters).map { k =>
      s"""dang$k AS MATERIALIZED (
         |  SELECT CAST(COALESCE(sum(p.r), 0) AS BIGINT)
         |      // (SELECT ns FROM sn) AS dshare
         |  FROM pr${k - 1} p LEFT JOIN od d ON d.node = p.node
         |  WHERE d.node IS NULL),
         |pr$k AS MATERIALIZED (
         |  SELECT nd.node,
         |    CAST((CASE WHEN nd.node % 10 = 0
         |        THEN (150000 * (SELECT nn FROM n)) // (SELECT ns FROM sn)
         |        ELSE 0 END)
         |      + (85 * (COALESCE(s.s, 0)
         |      + CASE WHEN nd.node % 10 = 0 THEN (SELECT dshare FROM dang$k)
         |        ELSE 0 END)) // 100 AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(p.r // d.outdeg) AS BIGINT) AS s
         |    FROM e JOIN pr${k - 1} p ON p.node = e.src
         |           JOIN od d ON d.node = e.src
         |    GROUP BY e.dst) s ON s.node = nd.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(user_id % 50 AS BIGINT) AS src,
       |    CAST(((user_id % 50) * 7 + event_id % 11) % 50 AS BIGINT) AS dst
       |  FROM events
       |  WHERE (user_id % 50) <> ((user_id % 50) * 7 + event_id % 11) % 50
       |    AND (user_id % 50) % 9 <> 0),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |sn AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM nodes
       |       WHERE node % 10 = 0),
       |od AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg
       |       FROM e GROUP BY src),
       |pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$prs
       |SELECT node, r AS rank_micros FROM pr$iters ORDER BY node""".stripMargin
  }

  /** q112's oracle: synchronous LPA unrolled — per pass, neighbor-label
    * counts then the (count DESC, label ASC) argmax via row_number.
    */
  /** The LPA fixture + propagation rounds as a reusable CTE chain (ends
    * with `sym` = the symmetric distinct edge set and `lp$iters` = the
    * final labels) — shared by the q112 oracle and q307's modularity.
    */
  private def lpaCtes(iters: Int): String = {
    val passes = (1 to iters).map { r =>
      s"""cnt$r AS (
         |  SELECT s.a AS node, p.lab AS lab, count(*) AS c
         |  FROM sym s JOIN lp${r - 1} p ON p.node = s.b GROUP BY 1, 2),
         |lp$r AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rn
         |    FROM cnt$r) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""i AS (SELECT DISTINCT event_id % 997 AS i FROM events),
       |raw AS (
       |  SELECT CAST(i % 12 AS BIGINT) AS x, CAST((i // 12) % 12 AS BIGINT) AS y
       |  FROM i WHERE i < 144
       |  UNION ALL
       |  SELECT CAST(i % 12 + 12 AS BIGINT), CAST((i // 12) % 12 + 12 AS BIGINT)
       |  FROM i WHERE i < 144
       |  UNION ALL SELECT CAST(0 AS BIGINT), CAST(12 AS BIGINT)),
       |rawf AS (SELECT x, y FROM raw WHERE x <> y),
       |sym AS MATERIALIZED (
       |  SELECT x AS a, y AS b FROM rawf UNION SELECT y, x FROM rawf),
       |lp0 AS (SELECT DISTINCT a AS node, a AS lab FROM sym),
       |$passes""".stripMargin
  }

  private def lpaOracle(iters: Int): String =
    s"""WITH ${lpaCtes(iters)}
       |SELECT node, lab AS label FROM lp$iters ORDER BY node""".stripMargin

  /** q113's oracle: simultaneous k-core peeling unrolled one CTE pair per
    * round (the fixture stabilizes in 4; 5 rounds proves the fixpoint).
    *
    * Every level is `AS MATERIALIZED`: each round references the previous
    * edge level THREE times (directly plus twice through keepN), and DuckDB
    * inlines non-materialized CTEs — without the hint the base subquery is
    * expanded ~3^rounds times and the oracle burns ~10 minutes at sf0.01
    * (this is what blanked CORRECTNESS_r04). Materialized, it is linear in
    * `rounds` and completes in milliseconds.
    */
  private def kcoreOracle(k: Long, rounds: Int): String = {
    val passes = (1 to rounds).map { r =>
      val prev = if (r == 1) "e" else s"e${r - 1}"
      s"""keep$r AS MATERIALIZED (
         |  SELECT node FROM (
         |    SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
         |  GROUP BY node HAVING count(*) >= $k),
         |e$r AS MATERIALIZED (
         |  SELECT t.a, t.b FROM $prev t
         |  JOIN keep$r ka ON ka.node = t.a
         |  JOIN keep$r kb ON kb.node = t.b)""".stripMargin
    }.mkString(",\n")
    s"""WITH i AS (SELECT DISTINCT event_id % 997 AS i FROM events),
       |raw AS (
       |  SELECT CAST(i % 240 AS BIGINT) AS x,
       |    CAST((i*i + 3*i) % 240 AS BIGINT) AS y FROM i
       |  UNION ALL
       |  SELECT CAST(i % 12 AS BIGINT), CAST((i // 12) % 12 AS BIGINT)
       |  FROM i WHERE i < 144),
       |e AS MATERIALIZED (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
       |      FROM raw WHERE x <> y),
       |$passes
       |SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
       |  SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q179_user_user_edges" ->
      s"""WITH t AS ($tweetsReplySql),
         |e AS (
         |  SELECT DISTINCT src, dst, rel FROM (
         |    SELECT username AS src, u.m AS dst, 'mentioned' AS rel
         |    FROM t, UNNEST(string_split(t.mentionedUsers, ',')) AS u(m)
         |    WHERE t.mentionedUsers IS NOT NULL AND t.mentionedUsers <> ''
         |    UNION ALL
         |    SELECT username, inReplyToUser, 'inReplyToUser' FROM t
         |    WHERE inReplyToUser IS NOT NULL AND inReplyToUser <> '')
         |  WHERE src IS NOT NULL)
         |SELECT src, dst, rel FROM e ORDER BY src, dst, rel""".stripMargin,
    // SCC from first principles: closure r both ways, scc(v) = least
    // mutual partner (mut includes v itself whenever v sits on a cycle;
    // nodes on no cycle fall back to themselves via the left join).
    "q152_scc" ->
      """WITH RECURSIVE base AS (
        |  SELECT user_id % 12 AS v, event_id FROM events),
        |eg AS (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT v AS a, (v - v % 6) + ((v + 1) % 6) AS b FROM base
        |    UNION ALL
        |    SELECT v, v + 6 FROM base WHERE event_id % 3 = 0 AND v < 6
        |    UNION ALL
        |    SELECT v, 12 + v % 4 FROM base WHERE event_id % 7 = 0)
        |  WHERE a <> b),
        |nd AS (SELECT DISTINCT a AS node FROM eg UNION SELECT b FROM eg),
        |r AS (
        |  SELECT a, b FROM eg
        |  UNION
        |  SELECT r.a, eg.b FROM r JOIN eg ON eg.a = r.b),
        |mut AS (
        |  SELECT r1.a AS v, r1.b AS w
        |  FROM r r1 JOIN r r2 ON r2.a = r1.b AND r2.b = r1.a),
        |lab AS (
        |  SELECT nd.node, least(nd.node, coalesce(min(mut.w), nd.node)) AS scc
        |  FROM nd LEFT JOIN mut ON mut.v = nd.node GROUP BY nd.node)
        |SELECT scc, count(*) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_nodes
        |FROM lab GROUP BY scc ORDER BY scc""".stripMargin,
    "q82_cc_logn" -> ccOracle,

    "q112_label_prop" -> lpaOracle(3),

    "q307_modularity" ->
      s"""WITH ${lpaCtes(3)},
         |lab AS (SELECT node, lab FROM lp3),
         |j AS (SELECT la.lab AS ca, lb.lab AS cb FROM sym s
         |      JOIN lab la ON la.node = s.a JOIN lab lb ON lb.node = s.b),
         |per AS (SELECT ca, CAST(count(*) AS BIGINT) AS dc,
         |        CAST(sum(CASE WHEN ca = cb THEN 1 ELSE 0 END) AS BIGINT)
         |          AS e2c
         |        FROM j GROUP BY 1),
         |agg AS (SELECT CAST(sum(dc) AS BIGINT) AS m2,
         |        CAST(count(*) AS BIGINT) AS n_communities,
         |        CAST(sum(e2c) AS HUGEINT) AS se2,
         |        sum(CAST(dc AS HUGEINT) * dc) AS sd2 FROM per),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM lab)
         |SELECT n.n_nodes, agg.m2, agg.n_communities,
         |  CASE WHEN (m2 * se2 - sd2) >= 0
         |    THEN CAST(((m2 * se2 - sd2) * 1000000)
         |      // (CAST(m2 AS HUGEINT) * m2) AS BIGINT)
         |    ELSE -CAST((-(m2 * se2 - sd2) * 1000000)
         |      // (CAST(m2 AS HUGEINT) * m2) AS BIGINT)
         |  END AS q_micros
         |FROM agg, n""".stripMargin,

    "q113_kcore" -> kcoreOracle(3L, 5),

    "q105_pagerank_dangling" -> pageRankDanglingOracle(4),

    "q117_ppr" -> pprOracle(4),

    "q103_two_hop" ->
      """WITH raw AS (
        |  SELECT CAST(user_id % 50 AS BIGINT) AS src,
        |    CAST(((user_id % 50) * 7 + event_id % 11) % 50 AS BIGINT) AS dst
        |  FROM events),
        |e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        |deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        |  GROUP BY node),
        |f AS (SELECT src, dst FROM e
        |      WHERE dst IN (SELECT node FROM deg WHERE d <= 21)),
        |h AS (SELECT DISTINCT f.src AS a, s.dst AS c
        |      FROM f JOIN e s ON s.src = f.dst WHERE s.dst <> f.src)
        |SELECT a, CAST(count(*) AS BIGINT) AS n_two_hop FROM h
        |GROUP BY a ORDER BY a""".stripMargin,

    "q106_co_comment" ->
      """WITH e AS (
        |  SELECT DISTINCT CAST(user_id % 40 AS BIGINT) AS u,
        |    CAST(CASE WHEN event_id % 5 = 0 THEN user_id % 3
        |         ELSE 10 + ((user_id % 40) // 2 * 7 + event_id % 7) % 590
        |         END AS BIGINT) AS item
        |  FROM events),
        |b AS (SELECT u, item FROM e WHERE item IN (
        |  SELECT item FROM (SELECT item, count(*) AS dd FROM e GROUP BY item)
        |  WHERE dd <= 35))
        |SELECT u1, u2, n_shared FROM (
        |  SELECT l.u AS u1, r.u AS u2, CAST(count(*) AS BIGINT) AS n_shared
        |  FROM b l JOIN b r ON l.item = r.item AND l.u < r.u
        |  GROUP BY l.u, r.u)
        |WHERE n_shared >= 5 ORDER BY u1, u2""".stripMargin,

    "q92_triangles" ->
      """WITH raw AS (
        |  SELECT CAST(user_id % 60 AS BIGINT) AS x,
        |    CAST((user_id % 60 + 1 + event_id % 5) % 60 AS BIGINT) AS y
        |  FROM events),
        |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
        |      FROM raw WHERE x <> y),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1
        |  JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
        |n AS (SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM n
        |GROUP BY node ORDER BY node""".stripMargin,

    "q93_pagerank" -> pageRankOracle(4),

    "q94_bfs_depth" ->
      s"""WITH RECURSIVE raw AS (
         |  SELECT CAST(user_id % 60 AS BIGINT) AS x,
         |    CAST((user_id % 60 + 1 + event_id % 5) % 60 AS BIGINT) AS y
         |  FROM events),
         |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
         |      FROM raw WHERE x <> y),
         |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
         |seeds AS (SELECT DISTINCT a AS node FROM sym WHERE a % 10 = 0),
         |reach AS (
         |  SELECT node, CAST(0 AS BIGINT) AS d FROM seeds
         |  UNION
         |  SELECT s.b, r.d + 1 FROM sym s JOIN reach r ON r.node = s.a
         |  WHERE r.d < $bfsDepthBound)
         |SELECT node, min(d) AS depth FROM reach
         |GROUP BY node ORDER BY node""".stripMargin,

    "q76_connected_components" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT CAST(user_id AS BIGINT) AS a,
        |    1000000 + event_id % 211 AS b
        |  FROM events WHERE event_id % 53 = 0),
        |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
        |reach AS (
        |  SELECT a AS node, a AS r FROM sym
        |  UNION
        |  SELECT s.a, reach.r FROM sym s JOIN reach ON reach.node = s.b),
        |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
        |SELECT component, count(*) AS n_nodes FROM lab
        |GROUP BY component ORDER BY component""".stripMargin,

    "q51_graph_vertices" ->
      s"""WITH p AS ($postsSql), c AS ($commentsSql), t AS ($tweetsSql),
         |v AS (
         |  SELECT DISTINCT id, label FROM (
         |    SELECT id, 'Post' AS label FROM p
         |    UNION ALL SELECT id, 'Comment' FROM c
         |    UNION ALL SELECT CAST(id AS VARCHAR), 'Tweet' FROM t
         |    UNION ALL SELECT DISTINCT username, 'User' FROM (
         |      SELECT username FROM p UNION ALL SELECT username FROM c
         |      UNION ALL SELECT username FROM t) WHERE username IS NOT NULL
         |    UNION ALL SELECT DISTINCT subreddit, 'Subreddit' FROM p WHERE subreddit IS NOT NULL))
         |SELECT label, count(*) AS n FROM v GROUP BY label ORDER BY label""".stripMargin,

    "q52_graph_edges" ->
      s"""WITH p AS ($postsSql), c AS ($commentsSql), t AS ($tweetsSql),
         |e AS (
         |  SELECT DISTINCT src, dst, rel FROM (
         |    SELECT id AS src, subreddit AS dst, 'POSTED_IN' AS rel FROM p
         |    UNION ALL SELECT id, username, 'POSTED_BY' FROM p
         |    UNION ALL SELECT id, post_id, 'COMMENTED_ON' FROM c
         |    UNION ALL SELECT id, username, 'COMMENTED_BY' FROM c
         |    UNION ALL SELECT CAST(t.id AS VARCHAR), u.m, 'MENTIONS'
         |      FROM t, UNNEST(string_split(coalesce(t.mentionedUsers, ''), ',')) AS u(m)
         |      WHERE t.mentionedUsers IS NOT NULL AND t.mentionedUsers <> '')
         |  WHERE dst IS NOT NULL)
         |SELECT rel, count(*) AS n FROM e GROUP BY rel ORDER BY rel""".stripMargin)
}
