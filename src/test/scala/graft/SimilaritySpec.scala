package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.similarity.Similarity

class SimilaritySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val e1 = Seq(1.0f, 0.0f, 0.0f)
  private val e2 = Seq(0.0f, 1.0f, 0.0f)
  private val e12 = Seq(1.0f, 1.0f, 0.0f)

  test("dot/norm/cosine expressions compute expected values") {
    val df = Seq((e1, e12)).toDF("a", "b")
      .select(Similarity.dot($"a", $"b").as("d"),
        Similarity.norm($"a").as("na"), Similarity.cosine($"a", $"b").as("c"))
    val r = df.head()
    assert(r.getDouble(0) == 1.0)
    assert(r.getDouble(1) == 1.0)
    assert(math.abs(r.getDouble(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("cosine of zero vector is 0.0, not NaN") {
    val z = Seq(0.0f, 0.0f, 0.0f)
    val df = Seq((z, e1)).toDF("a", "b").select(Similarity.cosine($"a", $"b"))
    assert(df.head().getDouble(0) == 0.0)
  }

  test("bucketNorm kernel matches signBucket/norm expressions") {
    val vecs = Seq(
      (1L, (0 until 64).map(i => math.sin(i * 0.7).toFloat)),
      (2L, (0 until 64).map(i => math.cos(i * 1.3).toFloat)))
    val df = vecs.toDF("vec_id", "v")
    val expr = df.select($"vec_id",
        Similarity.signBucket($"v", 8, 64).as("bucket"), Similarity.norm($"v").as("nrm"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val kern = Similarity.bucketNorm(df, "vec_id", "v", 8, 64)
      .select("id", "bucket", "nrm")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expr == kern)
  }

  test("bruteForceTopK ranks by cosine with id tiebreak and excludes self") {
    val df = Seq((1L, e1), (2L, e12), (3L, e2), (4L, e1)).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1L),
        "vec_id", "embedding", 3, dim = 3)
      .orderBy("rank").collect()
    // nearest to e1: its clone id=4 (cos 1), then e12 (cos .707), then e2 (cos 0)
    assert(out.map(_.getLong(2)).toSeq == Seq(4L, 2L, 3L))
    assert(out.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
  }

  test("hardNegatives excludes same-label rows and keeps cosine order") {
    // Query 1 (label 0): its exact clone id=4 shares the label and MUST
    // be excluded — the top negative is the next-most-similar e12
    // (label 1), then e2 (label 1). Also pins the bucketNorm extra-column
    // pass-through that carries the label through the kernel.
    val df = Seq((1L, e1, 0), (2L, e12, 1), (3L, e2, 1), (4L, e1, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(df, df.filter($"vec_id" === 1L),
        "vec_id", "embedding", "label", 3, dim = 3)
      .orderBy("rank").collect()
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 3L)) // id 4 excluded
    assert(out.map(_.getInt(3)).toSeq == Seq(1, 1))    // neg_label carried
    assert(out.head.getDouble(4) > out(1).getDouble(4))
  }

  test("labelCoherence flags a planted wrong-label vector, integer-exact") {
    // Label 0 = three copies of e1 plus one planted e2 (orthogonal to
    // the centroid direction): the clone cosines are ~1, the outlier's
    // is ~0 < 0.5 → exactly one n_low. Label 1 is internally coherent.
    val df = Seq((1L, e1, 0), (2L, e1, 0), (3L, e1, 0), (4L, e2, 0),
      (5L, e12, 1), (6L, e12, 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCoherence(df, "vec_id", "embedding", "label",
        lowTau = 0.5)
      .orderBy("label").collect()
    assert(out.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((0, 4L, 1L), (1, 2L, 0L)))
    assert(out(0).getDouble(3) < 0.5 && out(0).getDouble(4) > 0.9)
    assert(out(1).getDouble(3) > 0.99) // exact clones of one vector
  }

  test("multiProbeRecallCurve: nested candidate sets, monotone hits") {
    val mk = (seed: Int) => (0 until 64).map(i => math.sin(seed * 31 + i * 0.9).toFloat)
    val df = ((1L to 60L).map(id => (id, mk(id.toInt))) :+ (99L, mk(1)))
      .toDF("vec_id", "embedding")
    val out = Similarity.multiProbeRecallCurve(df, df.filter($"vec_id" <= 8L),
        "vec_id", "embedding", k = 3, nProbes = Seq(1, 2, 4), planes = 5)
      .orderBy("n_probe").collect()
    val hits = out.map(_.getLong(1))
    assert(hits.sliding(2).forall(p => p(0) <= p(1))) // nested probes
    assert(out.forall(_.getBoolean(2)))               // gated monotone flag
  }

  test("ivfTopK finds a planted near-duplicate via centroid probing") {
    val mk = (seed: Int) => (0 until 64).map(i => math.sin(seed * 100 + i).toFloat)
    val rows = (1L to 40L).map(id => (id, mk(id.toInt))) :+ (99L, mk(1)) // 99 clones 1
    val df = rows.toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(df, df.filter($"vec_id" === 1L),
      "vec_id", "embedding", k = 1, nCells = 4, nProbe = 2, dim = 64)
    val top = out.head()
    assert(top.getLong(2) == 99L) // the clone is rank 1
    assert(math.abs(top.getDouble(3) - 1.0) < 1e-9)
  }

  test("lshTopK only scores within matching buckets and never the query itself") {
    val df = Seq((1L, e1), (2L, e1), (3L, e2)).toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(df, df, "vec_id", "embedding", 5, planes = 4, dim = 3)
    assert(out.filter($"query_id" === $"corpus_id").count() == 0)
    // the two identical vectors must find each other
    assert(out.filter($"query_id" === 1L && $"corpus_id" === 2L).count() == 1)
  }

  test("scalarQuantize: hand-computed codes, extremes exact, flat dim codes 0") {
    // dim stats: d1 in [0,1], d2 in [0,2], d3 flat (all 7).
    val df = Seq(
      (1L, Seq(0.0f, 0.0f, 7.0f)),
      (2L, Seq(1.0f, 2.0f, 7.0f)),
      (3L, Seq(0.5f, 1.0f, 7.0f))).toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantize(df, "vec_id", "embedding",
        dim = 3, levels = 10, minCosine = 0.9)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    // codes: v1 = (0,0,0) sum 0; v2 = (10,10,0) sum 20; v3 = (5,5,0) sum 10
    assert(out(1L) == ((0L, 0L, 0L, true)))
    assert(out(2L) == ((20L, 0L, 10L, true)))
    assert(out(3L) == ((10L, 0L, 5L, true)))
  }

  test("ivfRecallCurve: hits monotone in nProbe; full probe equals brute force") {
    val df = (0L until 64L).map { i =>
      (i, (0 until 64).map(d => math.sin(i * 64 + d + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.ivfRecallCurve(df, df.filter(col("vec_id") < 4),
        "vec_id", "embedding", k = 3, nProbes = Seq(1, 2, 4, 16), nCells = 16)
      .orderBy(col("n_probe")).collect()
    val hits = out.map(_.getLong(1))
    assert(out.forall(_.getBoolean(2)), "monotone_ok must hold at every level")
    assert(hits.sliding(2).forall(p => p(0) <= p(1)))
    // probing every cell IS brute force: all 4 queries x top-3 recovered
    assert(hits.last == 12L)
    intercept[IllegalArgumentException] {
      Similarity.ivfRecallCurve(df, df, "vec_id", "embedding", 3, Seq(4, 2))
    }
  }

  test("pqTopK matches an independent PQ reference, integer-exact") {
    // dim=8, m=2 subspaces of 4: every subspace dim feeds the seed bits
    val dim = 8
    val m = 2
    val sub = dim / m
    val vecs: Seq[(Long, Seq[Float])] = (0L until 12L).map { i =>
      (i, (0 until dim).map(d => math.sin(i * 37 + d * 5 + 1).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(df, df.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 4, m = m, dim = dim)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Long)].collect().toSeq

    // reference: micros -> sign-seed cells -> truncating-mean codebook ->
    // argmin encode -> ADC, in plain Scala (Long / truncates toward zero,
    // matching Spark div)
    val micros = vecs.map { case (id, v) =>
      id -> v.map(x => math.round(x.toDouble * 1e6)).toArray
    }.toMap
    def cellOf(v: Array[Long], s: Int): Int =
      (0 until 4).map(j => if (v(s * sub + j) >= 0) 1 << j else 0).sum
    val cb: Map[(Int, Int), Array[Long]] =
      (for (s <- 0 until m; c <- 0 until 16) yield {
        val members = micros.values.filter(v => cellOf(v, s) == c).toSeq
        (s, c) -> (if (members.isEmpty) null
          else Array.tabulate(sub)(j =>
            members.map(_(s * sub + j)).sum / members.size))
      }).toMap
    def d2(v: Array[Long], s: Int, cent: Array[Long]): Long =
      (0 until sub).map { j =>
        val diff = v(s * sub + j) - cent(j); diff * diff
      }.sum
    def encode(v: Array[Long]): Array[Int] = Array.tabulate(m) { s =>
      (0 until 16).filter(c => cb(s -> c) != null)
        .minBy(c => (d2(v, s, cb(s -> c)), c))
    }
    val expect = (0L until 3L).flatMap { qid =>
      val q = micros(qid)
      micros.keys.filter(_ != qid).toSeq
        .map { cid =>
          val code = encode(micros(cid))
          (cid, (0 until m).map(s => d2(q, s, cb(s -> code(s)))).sum)
        }
        .sortBy { case (cid, ad) => (ad, cid) }.take(4).zipWithIndex
        .map { case ((cid, ad), i) => (qid, i + 1L, cid, ad) }
    }
    assert(got == expect)
  }

  test("ivfPqTopK: planted clusters retrieved first; partition-invariant") {
    // two tight clusters with opposite signs in every dim — the coarse
    // quantizer must separate them, and ADC must rank own-cluster first
    val dim = 16
    val vecs = (0L until 24L).map { i =>
      val cluster = if (i < 12L) 1.0f else -1.0f
      (i, (0 until dim).map(d =>
        cluster * (0.5f + 0.01f * ((i * 7 + d) % 13).toFloat)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def run(parts: Int) =
      Similarity.ivfPqTopK(df.repartition(parts),
          df.filter(col("vec_id").isin(0L, 13L)), "vec_id", "embedding",
          k = 8, nCells = 4, nProbe = 2, m = 4, dim = dim)
        .orderBy($"query_id", $"rank")
        .as[(Long, Long, Long, Long)].collect().toSeq
    val out = run(3)
    // query 0 (cluster A): all 8 hits from A; query 13 (cluster B): from B
    val hitsA = out.filter(_._1 == 0L).map(_._3)
    val hitsB = out.filter(_._1 == 13L).map(_._3)
    assert(hitsA.nonEmpty && hitsA.forall(_ < 12L), s"cross-cluster hits: $hitsA")
    assert(hitsB.nonEmpty && hitsB.forall(_ >= 12L), s"cross-cluster hits: $hitsB")
    // ranks contiguous, distances non-decreasing within a query
    Seq(0L, 13L).foreach { q =>
      val rows = out.filter(_._1 == q)
      assert(rows.map(_._2) == (1L to rows.length))
      assert(rows.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
    // integer pipeline ⇒ identical output under any partitioning
    assert(run(7) == out)
  }

  test("pqTrain codebook is the truncating integer mean per (s, cell, dim)") {
    // two vectors land in the same cell of subspace 0 (both all-positive
    // in dims 1-4); centroid must be the element-wise su div cnt
    val df = Seq(
      (1L, Seq(0.1f, 0.2f, 0.3f, 0.4f, -0.1f, -0.2f, -0.3f, -0.4f)),
      (2L, Seq(0.3f, 0.4f, 0.5f, 0.6f, -0.5f, -0.6f, -0.7f, -0.8f)))
      .toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(df, "vec_id", "embedding", m = 2, dim = 8)
      .orderBy($"s", $"cell", $"pos")
      .as[(Long, Long, Long, Long)].collect()
    // subspace 0: cell 15 (all signs positive), means of micros
    val s0 = cb.filter(r => r._1 == 0L).map(_._4).toSeq
    assert(s0 == Seq(200000L, 300000L, 400000L, 500000L))
    // subspace 1: cell 0 (all negative); truncating mean toward zero
    val s1 = cb.filter(r => r._1 == 1L).map(_._4).toSeq
    assert(s1 == Seq(-300000L, -400000L, -500000L, -600000L))
  }

  private def sorted(d: org.apache.spark.sql.DataFrame) =
    d.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq

  private val vecs16 = (0L until 30L).map { i =>
    (i, (0 until 16).map(d => math.sin(i * 31 + d * 7 + 2).toFloat))
  }.toDF("vec_id", "embedding")

  // One spec per index: the operator picks broadcast (default bound) or
  // shuffle (maxQueryBatch = 0) for its query side, and both paths must
  // return identical rows.
  Seq[(String, Int => org.apache.spark.sql.DataFrame)](
    "bruteForceTopK" -> (b => Similarity.bruteForceTopK(vecs16,
      vecs16.filter(col("vec_id") < 5), "vec_id", "embedding", k = 6,
      dim = 16, maxQueryBatch = b)),
    "pqTopK" -> (b => Similarity.pqTopK(vecs16,
      vecs16.filter(col("vec_id") < 5), "vec_id", "embedding", k = 6, m = 4,
      dim = 16, maxQueryBatch = b)),
    "ivfPqTopK" -> (b => Similarity.ivfPqTopK(vecs16,
      vecs16.filter(col("vec_id") < 5), "vec_id", "embedding", k = 6,
      nCells = 4, nProbe = 2, m = 4, dim = 16, maxQueryBatch = b))
  ).foreach { case (name, run) =>
    test(s"$name: broadcast and shuffle query paths return identical rows") {
      assert(sorted(run(0)) == sorted(run(Similarity.DefaultMaxQueryBatch)))
    }
  }

  private def executedPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("bruteForceTopK broadcasts a small query set and tiles it at maxQueryBatch = 0") {
    val qs = vecs16.filter(col("vec_id") < 5)
    def plan(b: Int) = executedPlan(Similarity.bruteForceTopK(vecs16, qs,
      "vec_id", "embedding", k = 3, dim = 16, maxQueryBatch = b))
    assert(plan(Similarity.DefaultMaxQueryBatch).contains("BroadcastNestedLoopJoin"))
    val shuffled = plan(0)
    assert(!shuffled.contains("BroadcastNestedLoopJoin"), shuffled)
  }

  test("pqTopK tiles its ADC tables against the codes at maxQueryBatch = 0") {
    // Without a join hint Spark's size-based choice broadcasts the small
    // table side, collecting executor-built tables through the driver.
    val shuffled = executedPlan(Similarity.pqTopK(vecs16,
      vecs16.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, m = 4,
      dim = 16, maxQueryBatch = 0))
    assert(!shuffled.contains("BroadcastNestedLoopJoin"), shuffled)
    assert(shuffled.contains("CartesianProduct"), shuffled)
  }

  test("IVF+PQ state: persisted search == distributed path; ingest == build encode") {
    // Frozen-model invariants: (1) searching the persisted postings with
    // the persisted centroids/codebooks reproduces the in-memory
    // shuffle path bit-for-bit; (2) re-assigning the corpus against
    // its own frozen state reproduces the persisted postings exactly
    // (assign/encode is deterministic given the model) — so a batch
    // ingested tomorrow gets byte-identical treatment to one indexed at
    // train time.
    val dim = 16
    val df = (0L until 40L).map { i =>
      (i, (0 until dim).map(d => math.sin(i * 17 + d * 5 + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val qs = df.filter(col("vec_id") < 4)
    val stateDir = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_state_").toString
    Similarity.writeIvfPqState(df, "vec_id", "embedding", stateDir,
      nCells = 4, m = 4, dim = dim)
    assert(sorted(Similarity.ivfPqSearchState(qs, stateDir, None,
        "vec_id", "embedding", k = 6, nProbe = 2, m = 4, dim = dim)) ==
      sorted(Similarity.ivfPqTopK(df, qs, "vec_id", "embedding",
        k = 6, nCells = 4, nProbe = 2, m = 4, dim = dim, maxQueryBatch = 0)))
    val re = Similarity.ivfPqAssignToState(df, stateDir, "vec_id",
        "embedding", m = 4, dim = dim)
      .orderBy("corpus_id").collect().map(_.toSeq).toSeq
    val persisted = spark.read.parquet(stateDir + "/postings")
      .orderBy("corpus_id").collect().map(_.toSeq).toSeq
    assert(re == persisted)
  }

  test("above maxQueryBatch each ANN entry point returns its default-bound rows") {
    val dim = 8
    val df = (0L until 10L).map { i =>
      (i, (0 until dim).map(d => math.cos(i * 13 + d).toFloat))
    }.toDF("vec_id", "embedding")
    // 10 queries against a bound of 3: the operator switches to the
    // shuffle path instead of refusing the batch
    Seq[Int => org.apache.spark.sql.DataFrame](
      b => Similarity.pqTopK(df, df, "vec_id", "embedding",
        k = 2, m = 2, dim = dim, maxQueryBatch = b),
      b => Similarity.ivfPqTopK(df, df, "vec_id", "embedding",
        k = 2, nCells = 2, nProbe = 1, m = 2, dim = dim, maxQueryBatch = b),
      b => Similarity.bruteForceTopK(df, df, "vec_id", "embedding",
        k = 2, dim = dim, maxQueryBatch = b)
    ).foreach { f =>
      val above = sorted(f(3))
      assert(above.nonEmpty)
      assert(above == sorted(f(Similarity.DefaultMaxQueryBatch)))
    }
  }

  test("jlProject components are the floor-micro signed sums of the planes") {
    // A unit basis vector e_i projects to exactly the i-th column of the
    // ±1 plane matrix (scaled to micros): floor(±1·1e6) = ±1000000.
    val dim = 8
    val i = 3 // e_3 (0-based)
    val df = Seq((7L, Seq.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val rv = Similarity.jlProject(df, "vec_id", "embedding",
        outDims = 4, dim = dim)
      .select("rv").as[Seq[Long]].head()
    val want = (0 until 4).map { p =>
      math.floor(Similarity.planesArr(4, dim)(p)(i) * 1000000.0).toLong
    }
    assert(rv == want)
    assert(rv.forall(v => v == 1000000L || v == -1000000L))
  }

  test("jlProject preserves identical vectors (reduced distance zero)") {
    val v = Seq.tabulate(8)(j => (j * 0.17f) - 0.5f)
    val out = Similarity.jlProject(
        Seq((1L, v), (2L, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", outDims = 4, dim = 8)
      .select("rv").as[Seq[Long]].collect()
    assert(out(0) == out(1))
  }
}
