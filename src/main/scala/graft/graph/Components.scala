package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints

/** Connected components over an edge list — the graph-serving query the
  * reference's mention/comment graph exists for (communities, spam rings,
  * conversation clusters) that Cypher answers with path matches
  * (`neo4j_insert/neo4j_twitter_insert.py:60-82`'s MENTIONS edges).
  *
  * Hash-min label propagation: every node starts labeled with its own id;
  * each pass a node takes the min of its own and its neighbors' labels.
  * Settles in O(diameter) passes — one hash join + one min-aggregate per
  * pass, both partial-aggregable, run through [[Checkpoints.fixpoint]].
  * Social graphs are small-diameter, so the pass count stays single-digit
  * at any scale; for adversarial long-path graphs the large-star/small-star
  * variant (Kiveris et al., "Connected Components in MapReduce and Beyond")
  * drops it to O(log n) passes at the cost of rewiring shuffles — same
  * state shape, drop-in replacement here.
  */
object Components {

  /** (node, component) for every node in `edges`, where component = the
    * minimum node id reachable over undirected edges. Settled exactly when
    * no node's label moved in a pass (exact changed-row check, any id
    * type); throws after `maxIters` unsettled passes (graph diameter
    * exceeds the cap). Takes no `checkpointDir`: its materializations
    * are executor-local lazy checkpoints, lost with their executor.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIters: Int = 50): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    // Hash-partitioned by the JOIN key before the checkpoint (r17): the
    // checkpointed frame retains its physical partitioning, so the
    // per-pass join(und, labels, b = node) stops re-shuffling the edge
    // list EVERY pass — at cluster scale that exchange was the dominant
    // per-pass shuffle (full edge list, every iteration); locally it was
    // one more AQE stage-job per pass.
    val und = Checkpoints.materialize(e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().repartition(col("b")), None)
    val init = Checkpoints.materialize(und.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")), None)
    val labelType = init.schema("label").dataType
    val settled = Checkpoints.fixpoint("connectedComponents", init, maxIters, None) { s =>
      val labels = s.select(col("node"), col("label"))
      val nbr = und.join(labels, col("b") === col("node"))
        .select(col("a").as("node"), col("label"),
          lit(null).cast(labelType).as("prev"))
      // The node's previous label rides through the min-agg (each node has
      // exactly one labels row, so min(prev) skips the nbr nulls and
      // recovers it) — convergence becomes a filter over the checkpointed
      // pass output instead of a second join+shuffle job per pass. Exact
      // and type-agnostic: no sum-of-labels overflow, any id type.
      labels.select(col("node"), col("label"), col("label").as("prev"))
        .union(nbr)
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
    } { (_, next) => next.filter(col("label") =!= col("prev")).count() == 0 }
    settled.select(col("node"), col("label").as("component"))
  }

  // ---------------------------------------------------- O(log n) variant

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): alternating edge
    * rewrites that connect every node's neighborhood to its minimum,
    * halving tree heights each round — O(log n) rounds on ANY graph,
    * where hash-min needs O(diameter). Use this for adversarial long-path
    * graphs; [[connectedComponents]] stays the cheaper choice for
    * small-diameter social graphs.
    *
    * Per round: two (agg + join) passes over the edge list, both hash
    * exchanges on node id — no collect_list (a star graph's hot node
    * never materializes its whole neighborhood in one buffer; min is a
    * partial aggregate). Throws after `maxIters` unsettled rounds.
    * Materializations are executor-local.
    */
  def connectedComponentsLogN(edges: DataFrame, srcCol: String, dstCol: String,
                              maxIters: Int = 30): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val nodes = Checkpoints.materialize(e0.select(col("a").as("node"))
      .union(e0.select(col("b").as("node"))).distinct(), None)
    // The state is the round's compare table; its mx = 1 rows are the
    // deduplicated edge set (the initial edges carry mx = 1 outright).
    val init = Checkpoints.materialize(e0.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct(), None)
      .withColumn("mx", lit(1))
    def edgeSet(s: DataFrame): DataFrame =
      s.filter(col("mx") === 1).select(col("a"), col("b"))
    val settled = Checkpoints.fixpoint("connectedComponentsLogN", init, maxIters, None) { s =>
      val cur = edgeSet(s)
      // The stars emit a MULTISET (r18): their per-star distinct()s are
      // gone — star arithmetic (min per node, filters) is duplicate-
      // insensitive, and per round the row count stays ≤ |edges| + |nodes|
      // (large: one output row per input edge; small: one per b ≤ a edge
      // plus one parent edge per node), so nothing compounds. The ONE
      // exchange below both deduplicates and compares: key-presence tags
      // (max/min over +1 next / −1 cur) detect any set difference on a
      // multiset next against a deduped cur — a key only in next has
      // mx = mn = 1, only in cur has mx = mn = −1, in both mx ≠ mn — and
      // filter(mx = 1) IS distinct(next), already checkpointed for the
      // next round. Replaces 2 distinct exchanges + the tag-cancel
      // exchange + its action per round with 1 exchange + 1 action
      // (q82: 73 → ~50 AQE stage-jobs; at cluster scale, 2 fewer full
      // edge-list shuffles per round).
      val nextRaw = star(star(cur, large = true), large = false)
      nextRaw.select(col("a"), col("b"), lit(1).as("t"))
        .union(cur.select(col("a"), col("b"), lit(-1).as("t")))
        .groupBy(col("a"), col("b"))
        .agg(max(col("t")).as("mx"), min(col("t")).as("mn"))
    } { (_, cmp) => cmp.filter(col("mx") === col("mn")).count() == 0 }
    val cur = edgeSet(settled)
    // Converged edges form a star in canonical (a < b) form: a = the
    // component minimum, b = a member. Roots and isolated nodes label
    // themselves.
    nodes.join(cur, nodes("node") === cur("b"), "left")
      .select(col("node"), coalesce(col("a"), col("node")).as("component"))
  }

  /** One star rewrite. m(u) = min(Γ(u) ∪ {u}). Large: (v, m(u)) for
    * neighbors v > u. Small: (v, m(u)) for neighbors v ≤ u (v ≠ m) plus
    * the (u, m(u)) parent edge itself.
    *
    * MULTISET in, multiset out (r18): min/filter arithmetic is
    * duplicate-insensitive, so the per-star distinct() exchange is gone —
    * the caller deduplicates once per round inside its convergence
    * compare. Row count per star stays ≤ |in| + |nodes| (see the loop
    * comment), so duplicates never compound.
    */
  private def star(e: DataFrame, large: Boolean): DataFrame = {
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val mins = und.groupBy(col("a")).agg(min(col("b")).as("mnb"))
      .select(col("a").as("u"), least(col("a"), col("mnb")).as("m"))
    val j = und.join(mins, col("a") === col("u"))
    val out =
      if (large) j.filter(col("b") > col("a"))
        .select(col("b").as("na"), col("m").as("nb"))
      else j.filter(col("b") <= col("a") && col("b") =!= col("m"))
        .select(col("b").as("na"), col("m").as("nb"))
        .union(mins.select(col("u").as("na"), col("m").as("nb")))
    out.filter(col("na") =!= col("nb"))
      .select(least(col("na"), col("nb")).as("a"),
        greatest(col("na"), col("nb")).as("b"))
  }
}
