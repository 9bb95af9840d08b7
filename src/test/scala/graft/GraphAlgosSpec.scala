package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphAlgos

class GraphAlgosSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // ------------------------------------------------------------ triangles

  test("K4 has four triangles, three per node") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = GraphAlgos.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("hot hub with one chord: only the closed wedge counts") {
    // star hub 100 → 1..10, plus chord (1,2): exactly one triangle.
    val edges = ((1L to 10L).map(i => (100L, i)) :+ (1L, 2L)).toDF("src", "dst")
    val out = GraphAlgos.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(100L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("duplicate / reversed / self-loop edges do not change counts") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (1L, 3L), (3L, 3L))
      .toDF("src", "dst")
    val out = GraphAlgos.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  // ------------------------------------------------------------- pagerank

  test("2-cycle is a fixed point at exactly 1.0 (integer micros)") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = GraphAlgos.pageRank(edges, "src", "dst", iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("dangling sink: hand-computed two-iteration values match exactly") {
    // a → b, b dangling. r0 = 1e6 both.
    // it1: b = 150000 + 85*1000000//100 = 1000000 ; a = 150000
    // it2: b = 150000 + 85*150000//100  = 277500  ; a = 150000
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphAlgos.pageRank(edges, "src", "dst", iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 150000L, 2L -> 277500L))
  }

  // ------------------------------------------------------------------ bfs

  test("path graph depths from a single seed; unreachable nodes dropped") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphAlgos.bfsDepths(edges, "src", "dst", seeds, "node")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
  }

  test("multi-source: each node takes the nearest seed's distance") {
    // path 1-2-3-4-5-6, seeds {1, 6}: depths 0,1,2,2,1,0
    val edges = (1L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(1L, 6L).toDF("node")
    val out = GraphAlgos.bfsDepths(edges, "src", "dst", seeds, "node")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L, 6L -> 0L))
  }

  test("bfs maxIters guard fails loudly") {
    val edges = (1L until 60L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    intercept[IllegalStateException] {
      GraphAlgos.bfsDepths(edges, "src", "dst", seeds, "node", maxIters = 5).count()
    }
  }

  // -------------------------------------------- pagerank: dangling mass

  test("redistributeDangling conserves total mass; hand-computed values") {
    // 1 → 2, node 2 dangling, N = 2. Per pass D = r(2), dshare = D div 2:
    // it1: r(1) = 150000 + 85*(0 + 500000) div 100        = 575000
    //      r(2) = 150000 + 85*(1000000 + 500000) div 100  = 1425000
    // it2: dshare = 1425000 div 2 = 712500
    //      r(1) = 150000 + 85*712500 div 100              = 755625
    //      r(2) = 150000 + 85*(575000 + 712500) div 100   = 1244375
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = GraphAlgos.pageRank(edges, "src", "dst", iters = 2,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 755625L, 2L -> 1244375L))
    assert(out.values.sum == 2000000L) // mass conserved exactly
  }

  test("redistribution on a graph with no dangling nodes is a no-op") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val plain = GraphAlgos.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val redis = GraphAlgos.pageRank(edges, "src", "dst", iters = 3,
      redistributeDangling = true).as[(Long, Long)].collect().toMap
    assert(plain == redis)
  }

  test("tolMicros early stop lands on the same fixed point as a long run") {
    // 2-cycle reaches its fixed point after one pass; tol-stop at 50
    // iters must equal the plain 4-iter run.
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val stopped = GraphAlgos.pageRank(edges, "src", "dst", iters = 50,
      tolMicros = Some(0L)).as[(Long, Long)].collect().toMap
    assert(stopped == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  test("reliable checkpointDir: same results, checkpoint files materialize") {
    // The SparkContext checkpoint dir is set-once (Checkpoints.ensureDir);
    // if an earlier suite already pinned it on the shared session, reuse
    // that root instead of requesting a fresh one (which would be refused).
    val dir = spark.sparkContext.getCheckpointDir match {
      case Some(existing) => new java.net.URI(existing).getPath
      case None => TestSpark.tempDir("graft_ckpt_").toString
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val local = GraphAlgos.pageRank(edges, "src", "dst", iters = 3)
      .as[(Long, Long)].collect().toMap
    val reliable = GraphAlgos.pageRank(edges, "src", "dst", iters = 3,
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(local == reliable)
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles()).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir))) // lineage actually hit the dir
  }

  test("personalized pageRank: teleport mass lands only on seeds") {
    // 1 -> 2 -> 3 (3 dangling), seed = {1}. N = 3, S = 1.
    // pass 1: r(1) = 150000*3 = 450000 (contrib 0);
    //         r(2) = 0.85 * 1e6 = 850000; r(3) = 850000.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphAlgos.pageRank(edges, "src", "dst", iters = 1,
        personalization = Some((seeds, "node")))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 450000L, 2L -> 850000L, 3L -> 850000L))
  }

  test("personalized pageRank: dangling mass returns to the seeds") {
    // Same chain with redistribution: dangling node 3 parks 1e6 in pass
    // 1 -> seed 1 additionally gets 0.85 * 1e6.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val out = GraphAlgos.pageRank(edges, "src", "dst", iters = 1,
        redistributeDangling = true,
        personalization = Some((seeds, "node")))
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1300000L, 2L -> 850000L, 3L -> 850000L))
  }

  test("personalized pageRank requires a seed that is a graph node") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(99L).toDF("node")
    intercept[IllegalArgumentException] {
      GraphAlgos.pageRank(edges, "src", "dst", iters = 1,
        personalization = Some((seeds, "node")))
    }
  }

  // --------------------------------------------------- LPA convergence

  test("LPA earlyStop lands on the settled labeling before the pass cap") {
    // Triangle (odd cycle — converges): pass 1 gives (1,0,0), pass 2 all 0,
    // pass 3 confirms no change. earlyStop must break there, not run 10.
    val tri = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val out = GraphAlgos.labelPropagation(tri, "src", "dst", iters = 10,
        earlyStop = true, requireConverged = true)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("LPA requireConverged fails loudly on an oscillating bipartite graph") {
    // A single edge is the minimal bipartite oscillator: labels swap every
    // synchronous pass forever. The cap must produce an error, not a
    // silently-unsettled labeling.
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      GraphAlgos.labelPropagation(edge, "src", "dst", iters = 6,
        earlyStop = true, requireConverged = true)
    }
    // Without the contract flag the capped run still returns (documented
    // fixed-pass semantics).
    assert(GraphAlgos.labelPropagation(edge, "src", "dst", iters = 6,
      earlyStop = true).count() == 2)
  }

  test("LPA requireConverged without earlyStop is rejected") {
    val edge = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] {
      GraphAlgos.labelPropagation(edge, "src", "dst", iters = 3,
        requireConverged = true)
    }
  }

  // ------------------------------------------------- kCore convergence

  test("kCore long-path adversarial fixture: deep peel converges; tight cap fails loudly") {
    // Path of 24 nodes, k=2: each round strips only the two endpoints, so
    // the peel is ~11 rounds deep — the worst case for a shell-at-a-time
    // algorithm. The default cap absorbs it (empty 2-core, a path has
    // none); a cap below the peel depth must throw, not return a partial
    // core.
    val path = (0L until 23L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphAlgos.kCore(path, "src", "dst", k = 2L).count() == 0)
    intercept[IllegalStateException] {
      GraphAlgos.kCore(path, "src", "dst", k = 2L, maxIters = 5)
    }
    // Clique + pendant tail: the tail peels off, the K4 survives intact.
    val k4 = Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L),
      (11L, 13L), (12L, 13L))
    val tail = Seq((13L, 20L), (20L, 21L), (21L, 22L))
    val out = GraphAlgos.kCore((k4 ++ tail).toDF("src", "dst"), "src", "dst", k = 3L)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10L -> 3L, 11L -> 3L, 12L -> 3L, 13L -> 3L))
  }

  // ------------------------------------------------------------------ scc

  test("scc: cycles collapse, DAG links and tails stay singletons") {
    // 2-cycle {1,2} → chain 3→4 → 3-cycle {5,6,7}; direction matters:
    // the 1↔2 and 5→6→7→5 cycles are SCCs, 3 and 4 are singletons even
    // though they are weakly connected to everything.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L)).toDF("src", "dst")
    val out = GraphAlgos.stronglyConnectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("scc: two cycles sharing a node are ONE component; duplicates/self-loops ignored") {
    // figure-eight at node 2: 1→2→1 and 2→3→2 are mutually reachable
    // through 2, so {1,2,3} is a single SCC — the coloring's backward
    // phase must not stop at the first cycle.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (1L, 2L), (3L, 3L), (4L, 4L)).toDF("src", "dst")
    val out = GraphAlgos.stronglyConnectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    // 4's only edge is a self-loop (dropped) — it never enters the node
    // set; figure-eight collapses to min id 1.
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("scc: outer-round cap throws loudly instead of returning partial labels") {
    // 3 rings chained one-way: condensation depth 3 > maxOuter 2.
    def ring(base: Long) =
      (0L until 3L).map(i => (base + i, base + (i + 1) % 3))
    val edges = (ring(0) ++ ring(10) ++ ring(20) ++
      Seq((0L, 10L), (10L, 20L))).toDF("src", "dst")
    assertThrows[IllegalStateException] {
      GraphAlgos.stronglyConnectedComponents(edges, "src", "dst", maxOuter = 2)
    }
    val ok = GraphAlgos.stronglyConnectedComponents(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(ok == (ring(0) ++ ring(10) ++ ring(20)).map(_._1)
      .map(n => n -> (n / 10 * 10)).toMap)
  }

  // ------------------------------------------- neighborhood function (KMV)

  test("neighborhoodKmv is exact on a chain while balls stay below k") {
    // 1→2→3→4: ball_h(n) grows by one node per hop until the chain ends.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val out = GraphAlgos.neighborhoodKmv(edges, "src", "dst", k = 8, maxHops = 3)
      .select("node", "hop", "est").as[(Long, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out((1L, 1)) == 2L && out((1L, 2)) == 3L && out((1L, 3)) == 4L)
    assert(out((4L, 3)) == 1L) // sink: ball never grows
    assert(out((3L, 1)) == 2L && out((3L, 2)) == 2L)
  }

  test("neighborhoodKmv estimator regime replays the (k-1)M/h_k statistic") {
    // Star: center → 20 leaves. ball_1(center) has 21 members > k = 4, so
    // the estimate must be the exact order-statistic formula over the
    // portable hash — replayed here from first principles.
    val leaves = (100L to 119L)
    val edges = leaves.map(l => (1L, l)).toDF("src", "dst")
    val est = GraphAlgos.neighborhoodKmv(edges, "src", "dst", k = 4, maxHops = 1)
      .filter($"node" === 1L).select("est").as[Long].head()
    val hashes = (leaves :+ 1L)
      .map(n => (graft.dedup.Dedup.hashA(0) * n + graft.dedup.Dedup.hashB(0)) % 1000000007L)
      .sorted
    assert(est == 3L * 1000000007L / hashes(3))
  }
}
