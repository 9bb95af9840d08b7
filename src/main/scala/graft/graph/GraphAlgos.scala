package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Checkpoints

/** Iterative / combinatorial graph analytics over edge lists — the
  * ranking and structure queries the reference serves from its Neo4j
  * mention graph (`neo4j_insert/neo4j_twitter_insert.py:60-82` MENTIONS,
  * `glue/reddit_glue.py:112-125` COMMENTED_ON): influence ranking,
  * community structure, conversation reach. Re-expressed as relational
  * fixpoints: every pass is a hash join + partial-aggregable `min`/`sum`
  * per key, and the iterative operators run their passes through
  * [[Checkpoints.fixpoint]].
  */
object GraphAlgos {

  /** Per-node triangle participation counts over an undirected edge list.
    *
    * Node-iterator with degree ordering (Suri & Vassilvitskii, "Counting
    * Triangles and the Curse of the Last Reducer"): direct every edge from
    * its lower-(degree, id) endpoint to the higher one, enumerate wedges
    * only at each edge's LOW endpoint, and close them against the directed
    * edge list. A hot hub with degree d contributes O(d) directed
    * out-edges only when it is the *smaller* endpoint, so wedge fan-out
    * per node is bounded by O(sqrt(m)) — the star-graph reducer that kills
    * the naive a-b-c self-join never materializes. Ordering is by the
    * (degree, id) struct directly; no global rank assignment (a
    * row_number over a single ordering would serialize on one partition
    * at 100 TB). Takes no `checkpointDir`: its one materialization is
    * executor-local.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val und = e0.union(e0.select(col("b").as("a"), col("a").as("b")))
    val deg = und.groupBy(col("a").as("node")).agg(count(lit(1)).as("deg"))
    // Directed edge (lo → hi) by (degree, id); both endpoints keep their
    // (deg, id) struct so downstream ordering needs no re-join.
    // Materialized ONCE (lazy local checkpoint, r18): the ordered edge
    // list has THREE consumers (both wedge sides + the closing-edge
    // probe), and left declarative each consumer re-plans the whole
    // canonicalize + distinct + two degree joins chain — the executed
    // q92/q203 plans carried the events scan 18-20 times. The checkpoint
    // stores edge-grain (lo, hi, rhi) rows — the same rows the wedge
    // join must exchange anyway; at corpus scale each eliminated re-run
    // is a full edge-list canonicalization pass.
    val dir = Checkpoints.materialize(und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .filter(struct(col("da"), col("a")) < struct(col("db"), col("b")))
      .select(col("a").as("lo"), col("b").as("hi"),
        struct(col("db"), col("b")).as("rhi")), None)
    // Wedges at the low endpoint, canonicalized rhi1 < rhi2; the closing
    // edge must then run hi1 → hi2 in the same ordering.
    val x = dir.select(col("lo"), col("hi").as("h1"), col("rhi").as("r1"))
    val y = dir.select(col("lo"), col("hi").as("h2"), col("rhi").as("r2"))
    val wedges = x.join(y, Seq("lo")).filter(col("r1") < col("r2"))
    val tri = wedges.join(dir.select(col("lo").as("h1"), col("hi").as("h2")),
      Seq("h1", "h2"))
    tri.select(explode(array(col("lo"), col("h1"), col("h2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Fixed-iteration PageRank in integer micro-units — deterministic and
    * oracle-exact (no float summation order): ranks are BIGINT micros
    * (1.0 = 1,000,000), each pass is
    * `r'(v) = base + (dampNum * Σ_{u→v} (r(u) div outdeg(u))) div 100`
    * with floor integer division on both levels, so Spark and any SQL
    * engine agree bit-for-bit. Defaults encode the classic 0.15 + 0.85·Σ.
    *
    * Per pass: one hash join (edges × ranks, both keyed on src — the
    * outdegree join is pre-merged into the rank table so the loop body is
    * a single exchange) + one partial-aggregable sum keyed on dst. Rank
    * state is lineage-truncated per pass (localCheckpoint, or reliable
    * checkpoints under `checkpointDir`).
    *
    * Dangling nodes (no out-edges) keep receiving the base term; by
    * default their outbound mass is dropped (the standard
    * simplification). With `redistributeDangling` the pass conserves
    * mass: the dangling nodes' total rank is split evenly across all
    * nodes — `r'(v) = base + (dampNum * (Σ + D div N)) div 100` where
    * `D = Σ_{outdeg(u)=0} r(u)` — one extra partial-aggregable sum per
    * pass, still integer-exact (floor division both levels, so any SQL
    * engine reproduces it bit-for-bit).
    *
    * `tolMicros` adds an early stop: iteration ends once
    * `max_v |r'(v) - r(v)| <= tol` (one extra bounded-scalar aggregate
    * per pass). The driver holds only that scalar. Fixed-`iters` runs
    * (tol = None) stay exactly reproducible for oracles.
    *
    * `personalization` switches to PERSONALIZED PageRank (the
    * random-walk-with-restart ranking behind "related to X" queries):
    * the whole teleport mass concentrates on the seed set — seeds get
    * `(base · N) div |S|`, everyone else 0 — and, when redistributing,
    * the dangling mass returns to the seeds (`D div |S|`) instead of
    * spreading evenly, exactly the restart-vector semantics. Same
    * integer-floor arithmetic, same one-exchange pass shape; the seed
    * flag rides the rank table like outdeg does.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 4, base: Long = 150000L, dampNum: Long = 85L,
               redistributeDangling: Boolean = false,
               tolMicros: Option[Long] = None,
               checkpointDir: Option[String] = None,
               personalization: Option[(DataFrame, String)] = None): DataFrame = {
    val e = Checkpoints.materialize(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().repartition(col("src")), // per-pass join key (r17)
      checkpointDir)
    val nodes = Checkpoints.materialize(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), checkpointDir)
    val nNodes = nodes.count()
    val outdeg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("outdeg"))
    val seedFlagged = personalization match {
      case Some((sdf, scol)) =>
        nodes.join(sdf.select(col(scol).as("node")).distinct()
          .withColumn("is_seed", lit(true)), Seq("node"), "left")
      case None => nodes.withColumn("is_seed", lit(false))
    }
    val nSeeds = personalization.map(_ =>
      seedFlagged.filter(col("is_seed")).count()).getOrElse(0L)
    require(personalization.isEmpty || nSeeds > 0,
      "personalizedPageRank: no seed is a graph node")
    // Per-node teleport term: uniform `base`, or the seed-concentrated
    // share (floor division, mirrored by the oracle's `//`).
    def baseCol: Column = personalization match {
      case Some(_) => when(col("is_seed"), lit(base * nNodes / nSeeds))
        .otherwise(lit(0L))
      case None => lit(base)
    }
    // Rank table carries outdeg (and the seed flag) so each pass joins
    // once, not twice.
    val r0 = Checkpoints.materialize(seedFlagged.join(outdeg, Seq("node"), "left")
      .select(col("node"), lit(1000000L).as("r"),
        coalesce(col("outdeg"), lit(0L)).as("outdeg"),
        coalesce(col("is_seed"), lit(false)).as("is_seed")), checkpointDir)
    val ranks = Checkpoints.fixpoint("pageRank", r0, iters, checkpointDir,
        mustSettle = false) { s =>
      val r = s.drop("r_prev")
      val contrib = e.join(r, e("src") === r("node"))
        .filter(col("outdeg") > 0)
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val joined = r.join(contrib, r("node") === contrib("dst"), "left")
      val withShare =
        if (!redistributeDangling) joined.withColumn("dshare", lit(0L))
        else {
          // D = total rank parked on dangling nodes this pass; its even
          // (or seed-directed) share joins in as a broadcast 1-row frame
          // (one extra partial-aggregable sum, no driver-side data).
          val denom = if (personalization.isDefined) nSeeds else nNodes
          val dang = r.filter(col("outdeg") === 0)
            .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
            .select(expr(s"dmass div CAST($denom AS BIGINT)").as("dshareAll"))
          joined.crossJoin(broadcast(dang))
            .withColumn("dshare",
              if (personalization.isDefined)
                when(col("is_seed"), col("dshareAll")).otherwise(lit(0L))
              else col("dshareAll"))
        }
      withShare.select(col("node"),
        (baseCol + expr(
          s"($dampNum * (coalesce(s, CAST(0 AS BIGINT)) + dshare)) div 100")).as("r"),
        col("outdeg"), col("is_seed"), col("r").as("r_prev"))
    } { (_, next) =>
      tolMicros.exists { tol =>
        next.agg(coalesce(max(abs(col("r") - col("r_prev"))), lit(0L)).as("d"))
          .head().getLong(0) <= tol
      }
    }
    ranks.select(col("node"), col("r").as("rank_micros"))
  }

  /** Minimum hop-distance from a seed set over an undirected edge list —
    * multi-source BFS as Bellman-Ford relaxation: every pass each node
    * takes `min(own depth, min over neighbors (depth + 1))`, settling in
    * O(eccentricity) passes. Same single-shuffle pass shape as
    * [[Components.connectedComponents]]: the node's previous depth rides
    * through the min-aggregate (each node has exactly one state row, so
    * `min` over the union recovers it past the neighbor rows' nulls) and
    * convergence is a filter over the pass output — one join + one
    * aggregate + one bounded count per pass, no second convergence join.
    * Unreached nodes are dropped (depth stays null).
    */
  def bfsDepths(edges: DataFrame, srcCol: String, dstCol: String,
                seeds: DataFrame, seedCol: String,
                maxIters: Int = 50,
                checkpointDir: Option[String] = None): DataFrame = {
    val e = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    // pre-partitioned by the per-pass join key (r17, see Components)
    val und = Checkpoints.materialize(e.union(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().repartition(col("a")), checkpointDir)
    val nodes = und.select(col("a").as("node")).distinct()
    val seed = seeds.select(col(seedCol).as("node")).distinct()
    val d0 = Checkpoints.materialize(nodes.join(seed.withColumn("z", lit(0L)), Seq("node"), "left")
      .select(col("node"), col("z").as("depth")), checkpointDir)
    val settled = Checkpoints.fixpoint("bfsDepths", d0, maxIters, checkpointDir) { s =>
      val d = s.select(col("node"), col("depth"))
      val nbr = und.join(d, col("a") === col("node"))
        .filter(col("depth").isNotNull)
        .select(col("b").as("node"), (col("depth") + 1).as("depth"),
          lit(null).cast("long").as("prev"))
      d.select(col("node"), col("depth"), col("depth").as("prev"))
        .union(nbr)
        .groupBy(col("node"))
        .agg(min(col("depth")).as("depth"), min(col("prev")).as("prev"))
    } { (_, next) => next.filter(!(col("depth") <=> col("prev"))).count() == 0 }
    settled.select(col("node"), col("depth")).filter(col("depth").isNotNull)
  }

  /** Synchronous label propagation (community detection): every node
    * starts labeled with itself; each pass it adopts the most frequent
    * label among its neighbors, ties to the smallest label. Fixed
    * `iters` (the default) keeps the run deterministic AND
    * oracle-reproducible — synchronous LPA can oscillate on bipartite
    * structures, so a convergence stop would be data-dependent; fixed
    * passes are the standard distributed form (Raghavan et al. 2007 §3,
    * the GraphX variant).
    *
    * `earlyStop` turns `iters` into a cap: the loop ends as soon as a
    * pass changes no label (one extra keyed join + full count per pass —
    * the same delta contract PageRank's `tolMicros` has).
    * `requireConverged` adds the loud-failure half: if the cap is hit
    * while labels are still moving (oscillation, or a cap set too low),
    * throw instead of returning a silently-unsettled labeling.
    *
    * Per pass: one hash join (symmetrized edges × labels, keyed on the
    * neighbor) + one count aggregate keyed (node, label) + one argmax
    * aggregate keyed (node) — `max_by(label, (count, -label))` makes the
    * tie-break part of the aggregate, so no window, no sort, all
    * partial-aggregable. Labels are lineage-truncated per pass.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 3,
                       earlyStop: Boolean = false,
                       requireConverged: Boolean = false,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(!requireConverged || earlyStop,
      "requireConverged needs earlyStop (fixed-pass runs do not track deltas)")
    val e0 = edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val sym = Checkpoints.materialize(
      e0.union(e0.select(col("b").as("a"), col("a").as("b"))).distinct()
        .repartition(col("b")), // per-pass join key (r17, see Components)
      checkpointDir)
    val lab0 = Checkpoints.materialize(sym.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab")), checkpointDir)
    val labels = Checkpoints.fixpoint("labelPropagation", lab0, iters, checkpointDir,
        mustSettle = requireConverged) { lab =>
      sym.join(lab, sym("b") === lab("node"))
        .groupBy(sym("a").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("node"))
        .agg(max_by(col("lab"), struct(col("c"), -col("lab"))).as("lab"))
    } { (prev, next) =>
      earlyStop && next.join(
          prev.select(col("node"), col("lab").as("lab_prev")), Seq("node"))
        .filter(col("lab") =!= col("lab_prev")).count() == 0
    }
    labels.select(col("node"), col("lab").as("label"))
  }

  /** k-core decomposition by simultaneous peeling: repeatedly drop every
    * node with degree < k (and its edges) until stable; the survivors
    * are the maximal subgraph where every node keeps ≥ k neighbors — the
    * standard spam/noise filter before community analysis. Returns
    * (node, degree) within the core.
    *
    * Per round: one degree aggregate over the symmetrized survivors +
    * two left-semi joins back onto the edge list — all keyed shuffles,
    * partial-aggregable, nothing driver-side except the edge-count
    * convergence scalar. Rounds are O(peel depth), which is O(log n) on
    * real social graphs (each round strips a whole shell, not one node —
    * the distributed form of Matula-Beck peeling). Loud failure at
    * `maxIters` unsettled rounds rather than a silent partial core.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Long,
            maxIters: Int = 30,
            checkpointDir: Option[String] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e0 = Checkpoints.materialize(edges.select(col(srcCol).as("x"), col(dstCol).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct(), checkpointDir)
    var nEdges = e0.count()
    val core = Checkpoints.fixpoint("kCore", e0, maxIters, checkpointDir) { e =>
      val keep = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select(col("node"))
      e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b"))
    } { (_, next) =>
      val n = next.count()
      val same = n == nEdges
      nEdges = n
      same
    }
    core.select(col("a").as("node")).unionAll(core.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Strongly connected components by iterated dual min-labeling — the
    * bulk-parallel FW-BW family (Fleischer et al. 2000; Orzan 2004's
    * coloring; as surveyed for BSP engines by Slota et al. 2014).
    * Directed edges in, `(node, scc)` out, scc = min node id of the
    * component.
    *
    * Per outer round, over the remaining subgraph:
    *   0. TRIM: a node with no in-edges or no out-edges can't sit on a
    *      cycle — emit it as its own singleton SCC (one pass per round;
    *      the outer loop re-trims, so deep acyclic fringes peel across
    *      rounds under the same cap).
    *   1. DUAL min-label fixpoint, BOTH directions in one frame: f(v) =
    *      min id that can reach v (propagates along edges), g(v) = min
    *      id v can reach (propagates against edges). One hop = one
    *      union + keyed min aggregate carrying (f, g) together.
    *   2. EXTRACT where f(v) = g(v) = c: c reaches v and v reaches c,
    *      so v ∈ SCC(c) — and when it fires for c (no smaller id
    *      upstream or downstream of c), it fires for c's WHOLE
    *      component: members of one SCC share both reachability sets,
    *      hence both labels. Every such class is a complete SCC, all
    *      extracted simultaneously; survivors (f ≠ g: pinned by a
    *      smaller id they can't reach back) wait for that id's
    *      component to leave the graph.
    *
    * Scale shape: every pass is a keyed equi-join + a partial-aggregable
    * min — no collect, no windows; state is lineage-truncated per
    * materialization. `stride` propagation hops run per materialization
    * (one truncated frame + ONE convergence action — labels only ever
    * decrease, so Σf+Σg is a monotone convergence scalar): fixpoint sync
    * barriers are driver round-trips, and at 1000 executors a barrier
    * costs more than the ≤ stride−1 redundant post-convergence hops.
    * The strides run through [[Checkpoints.fixpoint]]. Outer rounds ≤
    * depth of the SCC condensation DAG; inner strides are
    * O(diameter / stride). Both caps are contracts: exhausting either
    * throws loudly rather than returning a partial labeling.
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String, maxOuter: Int = 20,
                                  maxInner: Int = 60, stride: Int = 2,
                                  checkpointDir: Option[String] = None): DataFrame = {
    require(stride >= 1, "stride must be >= 1")
    var e = Checkpoints.materialize(edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct(), checkpointDir)
    var nodes = Checkpoints.materialize(e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct(), checkpointDir)
    var nNodes = nodes.count()
    val spark = edges.sparkSession
    import spark.implicits._
    // done accumulates 2 small unions per outer round — shallow enough
    // to stay lazy until the final truncate.
    var done = Seq.empty[(Long, Long)].toDF("node", "scc")
    var outer = 0
    while (nNodes > 0) {
      if (outer >= maxOuter) throw new IllegalStateException(
        s"stronglyConnectedComponents: $maxOuter outer rounds exhausted — " +
          "SCC condensation deeper than the cap; raise maxOuter")
      // 0. trim (single pass; node counts double as convergence scalars
      // everywhere, one action per materialized frame). Out/in presence
      // rides ONE tagged aggregate (r18) — the previous
      // distinct/intersect/semi chain paid ~4 exchanges for the same set.
      // Every survivor is in `nodes` by construction (e is semi-joined to
      // nodes on both sides each round), so no membership join is needed.
      val survivors = Checkpoints.materialize(
        e.select(col("a").as("node"), lit(1).as("o"), lit(0).as("i"))
          .union(e.select(col("b").as("node"), lit(0).as("o"), lit(1).as("i")))
          .groupBy(col("node")).agg(max(col("o")).as("o"), max(col("i")).as("i"))
          .filter(col("o") === 1 && col("i") === 1)
          .select(col("node")), checkpointDir)
      val nSurvivors = survivors.count()
      if (nSurvivors < nNodes) {
        done = done.union(nodes.join(survivors, Seq("node"), "left_anti")
          .select(col("node"), col("node").as("scc")))
        nodes = survivors
        e = Checkpoints.materialize(e
          .join(nodes.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(nodes.select(col("node").as("b")), Seq("b"), "left_semi"),
          checkpointDir)
        nNodes = nSurvivors
      }
      if (nNodes > 0) {
        // 1. dual min-label fixpoint: f rides a→b, g rides b→a — over
        // ONE direction-tagged edge list, so each hop references the
        // label state once for messages + once for the identity carry.
        // (Three references per hop would cube the lazy plan per stride
        // level; two keeps the stride-deep plan ~2^stride leaves, which
        // Catalyst handles comfortably at stride ≤ 8.)
        val ed = Checkpoints.materialize(
          e.select(col("a").as("s"), col("b").as("d"), lit(true).as("fwd"))
            .union(e.select(col("b").as("s"), col("a").as("d"), lit(false).as("fwd")))
            .repartition(col("s")), // per-hop join key (r17)
          checkpointDir)
        def hop(c: DataFrame): DataFrame =
          c.select(col("node"), col("f"), col("g"))
            .union(ed.join(c, ed("s") === c("node"))
              .select(ed("d").as("node"),
                when(col("fwd"), c("f")).as("f"),
                when(!col("fwd"), c("g")).as("g")))
            .groupBy(col("node")).agg(min(col("f")).as("f"), min(col("g")).as("g"))
        val color0 = Checkpoints.materialize(nodes.select(col("node"),
          col("node").as("f"), col("node").as("g")), checkpointDir)
        def scalar(c: DataFrame): Long =
          c.agg((sum(col("f")) + sum(col("g"))).as("s")).head().getLong(0)
        var cSum = scalar(color0)
        val color = Checkpoints.fixpoint("stronglyConnectedComponents", color0,
            maxInner, checkpointDir) { c =>
          Iterator.iterate(c)(hop).drop(stride).next()
        } { (_, next) =>
          val s2 = scalar(next)
          val same = s2 == cSum
          cSum = s2
          same
        }
        // 2. extract complete SCCs where f = g.
        val mark = color.filter(col("f") === col("g"))
        done = done.union(mark.select(col("node"), col("f").as("scc")))
        nodes = Checkpoints.materialize(
          nodes.join(mark.select(col("node")), Seq("node"), "left_anti"), checkpointDir)
        e = Checkpoints.materialize(e
          .join(nodes.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(nodes.select(col("node").as("b")), Seq("b"), "left_semi"),
          checkpointDir)
        val nLeft = nodes.count()
        if (nLeft == nNodes) throw new IllegalStateException(
          "stronglyConnectedComponents: no component extracted in a round — " +
            "dual labeling converged without an f = g class (impossible on a " +
            "finite graph; indicates an unconverged fixpoint)")
        nNodes = nLeft
      }
      outer += 1
    }
    Checkpoints.materialize(done, checkpointDir)
  }

  /** Neighborhood function via KMV sketch propagation — the HyperANF
    * shape (Boldi, Rosa & Vigna, "HyperANF: Approximating the
    * Neighbourhood Function of Very Large Graphs", WWW 2011) with a KMV
    * bottom-k sketch instead of HyperLogLog so the estimate is INTEGER
    * arithmetic an oracle replays exactly: per node and hop h, the
    * (estimated) size of the out-ball {m : node reaches m in ≤ h hops}.
    * The hop-h sketch is the KMV merge of the node's own hop-(h−1) sketch
    * with its successors' — set-union semantics ride the bottom-k merge,
    * so the whole distance distribution costs O(E·k) per round instead of
    * the O(n·ball) exact frontier sets (the difference between "effective
    * diameter of the mention graph" being computable at 100 TB or not).
    *
    * Sketches are plain sorted arrays (merge = flatten → sort →
    * distinct → take k — a pure set function, partition-order invariant);
    * node ids hash through the portable linear hash, estimates through
    * [[graft.functions.KmvAgg.estimate]] ((k−1)·M div h_k, exact below
    * k). Lineage truncated per hop like every iterative pass here.
    *
    * Returns (node, hop, n_sk, est) for hops 1..maxHops.
    */
  def neighborhoodKmv(edges: DataFrame, srcCol: String, dstCol: String,
                      k: Int, maxHops: Int,
                      checkpointDir: Option[String] = None): DataFrame = {
    import graft.functions.KmvAgg
    require(k > 1 && maxHops >= 1, "need k > 1 and maxHops >= 1")
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val h0 = graft.dedup.Dedup.seeded(col("node"), 0)
    var state = nodes.select(col("node"), array(h0).as("sk"))
    var out: DataFrame = null
    for (hop <- 1 to maxHops) {
      val fromSucc = e.join(state, e("dst") === state("node"))
        .select(e("src").as("node"), col("sk"))
      state = Checkpoints.materialize(
        state.unionByName(fromSucc)
          .groupBy(col("node"))
          .agg(expr(s"slice(array_distinct(sort_array(flatten(collect_list(sk)))), 1, $k)")
            .as("sk")),
        checkpointDir)
      val snap = state.select(col("node"), lit(hop).as("hop"),
        size(col("sk")).cast("long").as("n_sk"),
        KmvAgg.estimate(k, col("sk")).as("est"))
      out = if (out == null) snap else out.unionByName(snap)
    }
    out
  }
}
