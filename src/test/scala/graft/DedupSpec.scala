package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.{Dedup, PairJoin}
import graft.expressions.{CharHash, MinhashKernels}

class DedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("charHashStr (kernel) matches charHash (expression) exactly") {
    val inputs = Seq("hello", "", "a b c", "The quick brown fox!", "x" * 100)
    val exprVals = inputs.toDF("s").select(Dedup.charHash(col("s"))).collect().map(_.getLong(0))
    val hofVals = inputs.toDF("s").select(Dedup.charHashHof(col("s"))).collect().map(_.getLong(0))
    val kernelVals = inputs.map(CharHash.hash)
    assert(exprVals.toSeq == kernelVals)
    assert(hofVals.toSeq == kernelVals)
  }

  test("exactDedup keeps min id per key") {
    val df = Seq(("dup", 5L), ("dup", 2L), ("uniq", 9L)).toDF("text", "id")
    val out = Dedup.exactDedup(df, "text", "id").orderBy("id")
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(2L, 9L))
  }

  test("shingles produces distinct k-grams incl. short-text edge") {
    val df = Seq("a b c d", "a b").toDF("t").select(Dedup.shingles($"t", 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0).toSet == Set("a b c", "b c d"))
    assert(rows(1).toSet == Set("a b")) // n < k: one truncated shingle
  }

  test("minhash kernel bands match the expression-form signature") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    // expression form
    val exprSig = docs
      .withColumn("sh", Dedup.shingleHashes($"text", 3))
      .withColumn("sig", Dedup.minhashSignature($"sh", 16))
    val exprBands = exprSig.select($"doc_id", posexplode(
        array((0 until 4).map(b => Dedup.bandHash($"sig", b * 4, 4)): _*)).as(Seq("band", "bh")))
      .select("doc_id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // kernel form
    val kernelBands = Dedup.minhashBands(docs, "doc_id", "text", 3, 16, 4)
      .select("id", "band", "bh").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(exprBands == kernelBands)
  }

  test("minhashNearDups finds a planted near-duplicate, not the distinct doc") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val near = base.replace("mu", "nu") // one token differs
    val far = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("simhash kernel matches expression form; identical docs have distance 0") {
    val docs = Seq((1L, "spark scala data pipeline"), (2L, "spark scala data pipeline"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val exprSigs = docs.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kernelSigs = Dedup.simhashBands(docs, "doc_id", "text", 30, 3)
      .select("id", "sig").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exprSigs == kernelSigs)
    assert(exprSigs(1L) == exprSigs(2L))
    assert(java.lang.Long.bitCount(exprSigs(1L) ^ exprSigs(3L)) > 0)
  }

  test("wide (60-bit) simhash: three forms agree, upper bits carry signal") {
    // The wide mode votes bits 30..59 over a SECOND seed (one seeded hash
    // only has 30 random bits mod P). All three implementations — HOF
    // column, codegen'd simhash_sig expression (via simhashBands), and the
    // JVM kernel it calls — must produce the identical 60-bit signature,
    // and the upper half must actually discriminate (not be all-zero).
    val docs = Seq((1L, "spark scala data pipeline"), (2L, "spark scala data pipeline"),
      (3L, "completely different words here"),
      (4L, "spark scala data pipelines")).toDF("doc_id", "text")
    val hof = docs.select($"doc_id", Dedup.simhash($"text", 60).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expr = Dedup.simhashBands(docs, "doc_id", "text", 60, 4)
      .select("id", "sig").distinct().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kern = docs.collect().map(r => r.getLong(0) ->
      MinhashKernels.simhashSig(UTF8String.fromString(r.getString(1)), 60)).toMap
    assert(hof == expr && expr == kern)
    assert(hof(1L) == hof(2L))
    // upper 30 bits must differ somewhere across distinct docs
    assert(hof.values.map(_ >>> 30).toSet.size > 1,
      "upper 30 bits are degenerate — second seed not applied")
    // seed 1 must be genuinely decorrelated from seed 0 (ADVICE r16: the
    // old hashA(1)=2·hashA(0) family made hs2=(2·hs) mod P — a near-shift
    // whose bits mirror seed 0's, which the signal check above can't see).
    // Per-token check: for every token, the seed-1 hash must not be the
    // ×2-shift of the seed-0 hash, and the two hash streams must disagree.
    val tok = docs.select(explode(Dedup.tokenHashes($"text", 0)).as("h0"))
      .collect().map(_.getLong(0))
    val tok1 = docs.select(explode(Dedup.tokenHashes($"text", 1)).as("h1"))
      .collect().map(_.getLong(0))
    assert(tok.length == tok1.length)
    val shifted = tok.zip(tok1).count { case (h0, h1) => h1 == (2L * h0) % Dedup.P }
    assert(shifted == 0,
      s"seed-1 hashes are the 2x-affine image of seed 0 for $shifted tokens")
    // band keys at 60/4 are 15-bit values
    val bhs = Dedup.simhashBands(docs, "doc_id", "text", 60, 4)
      .select("bh").collect().map(_.getLong(0))
    assert(bhs.forall(b => b >= 0 && b < (1L << 15)))
  }

  test("incremental banding: mod-P band keys, occupancy content-bounded") {
    // r17 (VERDICT item 8): the incremental/streaming near-dup paths
    // (q138/q140/q244) band with MINHASH keys — a fold of per-band row
    // minima mod P ≈ 2^30 — not a fixed-width simhash band, so they
    // cannot re-inherit the pinned-width quadratic the q34 gate
    // migration retired. Pin the two properties that keep them linear:
    // band keys span the mod-P domain (distinct-bucket count tracks the
    // corpus, it is not a pinned 2^10 space), and bucket occupancy is
    // driven by CONTENT (the planted twins), not by corpus size.
    val rng = new scala.util.Random(42)
    val base = (1L to 2000L).map { i =>
      (i, Seq.fill(12)("w" + rng.nextInt(50000)).distinct.mkString(" "))
    }
    val twins = base.collect { case (i, t) if i % 40 == 0 => (i + 100000L, t) }
    val docs = (base ++ twins).toDF("doc_id", "text")
    val bands = Dedup.minhashBands(docs, "doc_id", "text", 3, 16, 4)
      .select("band", "bh").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(bands.forall { case (_, bh) => bh >= 0 && bh < Dedup.P })
    val occ = bands.groupBy(identity).map(_._2.size)
    // only identical content collides: planted twins pair up (occupancy
    // 2), unrelated 12-token docs essentially never do in a 2^30 space
    assert(occ.max <= 4,
      s"a band bucket holds ${occ.max} docs — occupancy not content-bounded")
    // the bucket DOMAIN scales with the corpus: ~one bucket per doc per
    // band minus the planted twins, nowhere near a pinned 1024 buckets
    val distinctBuckets = bands.distinct.length
    assert(distinctBuckets > 4 * 2000 * 9 / 10,
      s"only $distinctBuckets distinct band buckets for ${docs.count()} docs")
  }

  test("simhashShape: gate SFs pin the legacy 30-bit shape, 10x data widens") {
    // Gate SFs (sf0.01=500, sf0.1=5000, sf1=50000 docs) must all derive
    // the bit-identical legacy 30/3 contract with the unscaled threshold —
    // the property that made the r17 gate migration output-invariant at
    // every SF the driver checks.
    assert(Dedup.simhashShape(500L, 2) == ((30, 2)))
    assert(Dedup.simhashShape(5000L, 2) == ((30, 2)))
    assert(Dedup.simhashShape(50000L, 2) == ((30, 2)))
    assert(Dedup.simhashShape(50000L, 3) == ((30, 3)))
    // sf10 (500k docs): w=14 -> 42-bit signature, thresholds scale by w/10
    assert(Dedup.simhashShape(500000L, 2) == ((42, 2)))
    assert(Dedup.simhashShape(500000L, 3) == ((42, 4)))
    // width ceiling = the 60-bit two-seed signature
    assert(Dedup.simhashShape(1L << 40, 2) == ((60, 4)))
    // degenerate corpora clamp to the floor
    assert(Dedup.simhashShape(0L, 2) == ((30, 2)))
    assert(Dedup.simhashShape(1L, 2) == ((30, 2)))
  }

  test("jaccard of arrays: identical=1, disjoint=0, empty-union=0") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("x", "y")
      .select(Dedup.jaccard($"x", $"y").as("j"))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(1.0, 0.0, 0.0))
  }

  test("ngramJaccardPairs: banded token-set blocking finds dups, skips distinct docs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L))) // bigram Jaccard 6/8 = 0.75
  }

  /** The tiler's two replicated self-join sides, driven directly. */
  private def selfSides(keyed: DataFrame, keys: Seq[String], id: String, cap: Int) =
    PairJoin.replicateSelf(
      PairJoin.tile(keyed, keys, id, cap, PairJoin.hotKeys(keyed, keys, cap)),
      keys, keyed.columns.filterNot(keys.contains).toSeq)

  /** The tiled self-join's (a.id, b.id) pairs, with multiplicity, sorted. */
  private def selfPairIds(keyed: DataFrame, keys: Seq[String], cap: Int): Seq[(Long, Long)] =
    PairJoin.selfPairs(keyed, keys, "id", cap)
      .select(col("a.id").cast("long"), col("b.id").cast("long"))
      .as[(Long, Long)].collect().toSeq.sorted

  test("selfPairs: tiling emits each pair of a hot bucket exactly once") {
    val n = 60
    val keyed = (1L to n).map(i => (0, 0L, i)).toDF("band", "bh", "id")
    val pairs = selfPairIds(keyed, Seq("band", "bh"), cap = 7)
    val expected = for { a <- 1L to n; b <- (a + 1) to n } yield (a, b)
    assert(pairs == expected) // all C(60,2) pairs, once each, a < b
  }

  test("selfPairs: no tile-pair join group exceeds the cap bound") {
    // One hot bucket of 200 ids + one cold bucket of 3: the hot bucket must
    // be split across tiles so no (key, tl, tr) group exceeds ~cap rows per
    // side; the cold bucket must stay un-replicated (T = 1).
    val hot = (1L to 200L).map(i => (0, 7L, i))
    val cold = (201L to 203L).map(i => (0, 8L, i))
    val keyed = (hot ++ cold).toDF("band", "bh", "id")
    val cap = 16
    val (aSide, bSide) = selfSides(keyed, Seq("band", "bh"), "id", cap)
    for (side <- Seq(aSide, bSide)) {
      val maxGroup = side.groupBy("band", "bh", "_tl", "_tr")
        .count().agg(max("count")).collect()(0).getLong(0)
      // hash tiles are balanced in expectation; 3× headroom absorbs variance
      assert(maxGroup <= 3L * cap, s"group of $maxGroup exceeds bound")
    }
    // cold bucket: exactly one copy per row per side (no replication)
    val coldA = aSide.filter(col("bh") === 8L).count()
    assert(coldA == 3L)
    // and the tiled pair set is still exact
    assert(selfPairIds(keyed, Seq("band", "bh"), cap).size == 200 * 199 / 2 + 3)
  }

  test("selfPairs: occupancy-adaptive tiling fans a barely-hot bucket wide") {
    // SKEW_r14 leg B: T = ceil(n/cap) gives a bucket just over the cap
    // T = 2 — three half-cap² pair groups while the rest of the stage is
    // cold (27× task skew measured at sf1). The adaptive width must fan
    // a hot bucket to ~minTiles = shuffleWidth/2 tiles (floored at 256
    // rows/tile) with the pair set unchanged.
    val spark = TestSpark.spark
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32") // minTiles = 16
    try {
      val n = 1200L
      val keyed = (1L to n).map(i => (0, 0L, i)).toDF("band", "bh", "id")
      val cap = 1024 // n barely over cap: the old width would be T = 2
      val (aSide, _) = selfSides(keyed, Seq("band", "bh"), "id", cap)
      // capEff = min(1024, max(256, ceil(1200/16))) = 256 → T = 5
      val tiles = aSide.select("_tr").distinct().count()
      assert(tiles == 5L, s"expected 5 adaptive tiles, got $tiles")
      val maxGroup = aSide.groupBy("_tl", "_tr").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxGroup <= 3L * 256L, s"tile group of $maxGroup exceeds bound")
      val pairs = PairJoin.selfPairs(keyed, Seq("band", "bh"), "id", cap).count()
      assert(pairs == n * (n - 1) / 2) // pair set is tile-width-independent
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("assoc-rules pair stage: power-user basket tiled, support exact") {
    // q202's shape: baskets keyed by user, one power user holding 80
    // items (>> cap) plus normal 3-item users. The tiled pair stage must
    // (a) keep every (user, tl, tr) join group at ~cap rows per side —
    // the bounded-fan-out guarantee VERDICT r9/r10 asked for — and
    // (b) reproduce the plain self-join's per-pair support exactly: each
    // in-basket pair once, a.item < b.item.
    val power = (1L to 80L).map(i => (999L, i))
    val normal = for (u <- 1L to 10L; i <- 1L to 3L) yield (u, i)
    val fb = (power ++ normal).toDF("user_id", "item")
    val cap = 8
    val (aS, bS) = selfSides(fb, Seq("user_id"), "item", cap)
    for (side <- Seq(aS, bS)) {
      val maxGroup = side.groupBy("user_id", "_tl", "_tr")
        .count().agg(max("count")).collect()(0).getLong(0)
      assert(maxGroup <= 3L * cap, s"group of $maxGroup exceeds bound")
    }
    val support = PairJoin.selfPairs(fb, Seq("user_id"), "item", cap)
      .select(col("a.item").as("i"), col("b.item").as("j"))
      .groupBy("i", "j").count()
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val expected = ((for { a <- 1L to 80L; b <- (a + 1) to 80L } yield (a, b))
      .map(_ -> 1L).toMap.toSeq ++
      (for { a <- 1L to 3L; b <- (a + 1) to 3L } yield ((a, b), 10L)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(support == expected)
  }

  test("tiler: every self-pair keyed table gives the plain self-join's pairs at cap 2 and 4096") {
    // Seeded fixture with one planted hot bucket per table: 12 identical
    // docs / vectors / hashes / a 40-item basket. At cap 2 the hot bucket
    // tiles 6 ways; at 4096 nothing tiles. Both must give the plain
    // in-bucket self-join's pairs, each once per shared key.
    val rng = new scala.util.Random(20261019L)
    val words = (0 until 12).map(i => s"w$i")
    val boiler = "subscribe like comment share follow today"
    val docs = ((1L to 60L).map(i => (i, Seq.fill(8)(words(rng.nextInt(12))).mkString(" "))) ++
      (101L to 112L).map(i => (i, boiler))).toDF("doc_id", "text")
    val dim = 8
    val hotVec = Seq.fill(dim)(rng.nextGaussian().toFloat)
    val vecs = ((1L to 60L).map(i => (i, Seq.fill(dim)(rng.nextGaussian().toFloat))) ++
      (101L to 112L).map(i => (i, hotVec))).toDF("vec_id", "embedding")
    val hashes = (1L to 60L).map(i => (i, rng.nextLong() & ((1L << 60) - 1))) ++
      (101L to 112L).map(i => (i, 0x0ABCDEF012345678L))
    val mask = (1L << 15) - 1
    val imageBands = hashes.toDF("id", "ahash")
      .withColumn("w", lit(4)).withColumn("h", lit(3))
      .select(col("id"), col("ahash"), col("w"), col("h"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("ahash"), b * 15).bitwiseAND(lit(mask))): _*)).as(Seq("band", "bh")))
    val baskets = ((1L to 40L).map(i => (999L, i)) ++
      (for (u <- 1L to 20L; i <- Seq.fill(3)(1L + rng.nextInt(30)).distinct) yield (u, i)))
      .toDF("user_id", "id")
    val tables: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("minhash bands", Dedup.minhashBands(docs, "doc_id", "text", 3, 16, 4), Seq("band", "bh")),
      ("simhash bands", Dedup.simhashBands(docs, "doc_id", "text", 30, 3), Seq("band", "bh")),
      ("embedding sign buckets", graft.similarity.Similarity
        .bucketNorm(vecs, "vec_id", "embedding", 8, dim).select("bucket", "id"), Seq("bucket")),
      ("semanticDedup cells", graft.similarity.Similarity
        .kmeansAssign(vecs, "vec_id", "embedding", 2, dim)._1
        .select(col("cell"), col("corpus_id").as("id")), Seq("cell")),
      ("q241 image bands", imageBands, Seq("w", "h", "band", "bh")),
      ("q202 baskets", baskets, Seq("user_id")))
    for ((name, t0, keys) <- tables) {
      val t = t0.localCheckpoint()
      val maxBucket = t.groupBy(keys.map(col): _*).count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxBucket >= 12, s"$name: no planted hot bucket ($maxBucket rows)")
      val plain = t.as("x").join(t.as("y"), keys)
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").cast("long"), col("y.id").cast("long"))
        .as[(Long, Long)].collect().toSeq.sorted
      val at2 = selfPairIds(t, keys, cap = 2)
      assert(at2.nonEmpty && at2 == plain, s"$name: cap 2 differs from the plain self-join")
      assert(selfPairIds(t, keys, cap = 4096) == at2, s"$name: cap 4096 differs from cap 2")
    }
  }

  test("simhashNearDups with a planted hot bucket stays exact under tiling") {
    // 40 identical docs (one degenerate band bucket) + 1 distinct: tiny cap
    // forces tiling; the pair set must be all C(40,2) identical pairs.
    val dup = (1L to 40L).map(i => (i, "spark spark spark spark"))
    val docs = (dup :+ (99L, "entirely different words appear here")).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text",
        bits = 30, bands = 3, maxHamming = 0, bucketCap = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == 40 * 39 / 2)
    assert(pairs.forall { case (a, b) => a < b && b <= 40 })
  }

  test("embeddingNearDups finds the planted duplicate vector") {
    val v = (0 until 64).map(i => math.sin(i + 1).toFloat)
    val v2 = v.updated(0, v(0) + 0.001f)
    val other = (0 until 64).map(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((1L, v), (2L, v2), (3L, other)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", threshold = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("nearDupClusters closes pair chains transitively (A~B~C one cluster)") {
    // base text long enough that one-word drift keeps Jaccard >= 0.5 for
    // neighbors but lets A and C drift below a candidate match.
    val words = (0 until 30).map(i => s"w$i")
    def drift(k: Int): String =
      words.zipWithIndex.map { case (w, i) => if (i < k) s"x$i" else w }.mkString(" ")
    val df = Seq(
      (1L, drift(0)), (2L, drift(4)), (3L, drift(8)),
      (100L, (0 until 30).map(i => s"zz$i").mkString(" "))).toDF("doc_id", "text")
    val clusters = Dedup.nearDupClusters(df, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 1,2,3 all land in component 1 (even if (1,3) was never a pair);
    // the distinct doc 100 has no pair, so it is absent (own cluster).
    assert(clusters.keySet == Set(1L, 2L, 3L))
    assert(clusters.values.toSet == Set(1L))
  }

  test("decontaminate flags the planted benchmark overlap, spares clean docs") {
    val bench = Seq((100L, "the capital of france is paris obviously"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "quiz answer the capital of france is paris obviously end"),
      (2L, "completely different words about gardening and soil"),
      (3L, "the capital city question")).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text",
        shingleK = 5, minOverlap = 1)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false))
  }
  test("dedupAgainstHistory: re-landed texts drop, new texts survive, empty history passes all") {
    val history = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta"), (11L, "epsilon zeta"),
      (12L, "gamma delta"), (13L, "eta theta")).toDF("doc_id", "text")
    val fp = Dedup.fingerprints(history, "text")
    assert(fp.columns.toSeq == Seq("fp_len", "fp_x", "fp_c")) // no text retained
    val out = Dedup.dedupAgainstHistory(batch, fp, "text", expectedHistory = 100L)
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(11L, 13L))
    val none = Dedup.fingerprints(history.limit(0), "text")
    val all = Dedup.dedupAgainstHistory(batch, none, "text", expectedHistory = 100L)
      .select("doc_id").as[Long].collect().sorted
    assert(all.toSeq == Seq(10L, 11L, 12L, 13L))
  }

  test("incrementalNearDups: re-crawled same-id doc is not its own duplicate") {
    // The q138 fixture keeps batch and history ids disjoint, so this
    // behavior is invisible to the oracle gate — pinned here instead: a
    // doc re-crawled under its EXISTING id meets itself in every band
    // and must NOT be reported (it would be deleted as a duplicate of
    // itself downstream), while a true near-dup of ANOTHER history doc
    // is still found, and batch-internal pairs are excluded by design.
    val words = (0 until 30).map(i => s"w${i * 37 % 101}").mkString(" ")
    val history = Seq(
      (1L, words),                       // also re-crawled tonight as id 1
      (2L, words + " tail alpha")        // anchor for the arriving near-dup
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, words),                       // same id, same text: NOT a dup of itself
      (10L, words + " tail alpha"),      // exact content dup of history 2
      (11L, words + " tail alpha")       // batch-internal twin of 10: not reported
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalNearDups(batch, history, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(!out.contains((1L, 1L)), s"self-pair reported: $out")
    assert(out.contains((10L, 2L)) && out.contains((11L, 2L)), s"missing true dups: $out")
    assert(!out.contains((10L, 11L)) && !out.contains((11L, 10L)),
      s"batch-internal pair leaked: $out")
    // id 1's batch copy still pairs with OTHER history docs it matches
    // (1 vs 2 share the 30-word prefix — whether that clears 0.5 is the
    // operator's business; just assert no self-pair crept in anywhere)
    assert(out.forall { case (a, b) => a != b })
  }

  test("incrementalNearDups: a planted hot history bucket is structurally tiled") {
    // VERDICT r5 item 2 — the adversarial fixture: a boilerplate family
    // of identical history docs all landing in ONE (band, bh) bucket.
    // The two-sided join must bound the per-reducer group instead of
    // trusting AQE: history rows of the hot bucket spread over
    // T = ceil(n/cap) tiles, batch rows replicate T ways, cold buckets
    // pay nothing — and the pair set is exactly what the untiled join
    // would produce.
    val boiler = "subscribe like comment share follow " * 4
    val history = ((1L to 120L).map(i => (i, boiler)) :+
      (500L, "entirely different vocabulary here appears once")).toDF("doc_id", "text")
    val batch = (1001L to 1003L).map(i => (i, boiler)).toDF("doc_id", "text")
    val cap = 16
    val nb = Dedup.minhashBands(batch, "doc_id", "text", 3, 16, 4)
    val hb = Dedup.minhashBands(history, "doc_id", "text", 3, 16, 4)
    val keys = Seq("band", "bh")
    val hot = PairJoin.hotKeys(hb, keys, cap)
    val hTiled = PairJoin.tile(hb, keys, "id", cap, hot)
    val nTiled = PairJoin.replicateBatch(PairJoin.tile(nb, keys, "id", cap, hot), keys, "id", "id_new")
    // history side: no (band, bh, _tile) group exceeds the cap bound
    // (3x headroom: hash tiles balance in expectation, not exactly)
    val maxH = hTiled.groupBy("band", "bh", "_tile").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxH <= 3L * cap, s"history tile group of $maxH exceeds bound")
    // batch side: each batch band row fans out T = ceil(120/16) = 8 ways
    // in the hot bucket, and the cold bucket stays un-replicated
    val hotFan = nTiled.groupBy("id_new", "band").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(hotFan == 8L, s"expected 8-way fan-out in hot bucket, got $hotFan")
    // end to end: every batch doc pairs with every boilerplate history
    // doc at J = 1.0 (identical text), never the distinct doc
    val out = Dedup.incrementalNearDups(batch, history, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5,
        bucketCap = cap)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(out == (for { n <- 1001L to 1003L; h <- 1L to 120L } yield (n, h)).toSet)
  }

  test("incrementalNearDupsFromState: the plan reads ONLY persisted state, never history text") {
    // VERDICT r5 item 3 — the production nightly shape: batch N+1's plan
    // must touch the parquet state tables and nothing else (the batch
    // itself is an in-memory relation here, so ANY file scan in the plan
    // that isn't under stateDir would be a history re-read).
    val words = (0 until 30).map(i => s"w${i * 37 % 101}").mkString(" ")
    val history = Seq((1L, words), (2L, words + " tail alpha"),
      (3L, "completely different content lives here")).toDF("doc_id", "text")
    val batch = Seq((10L, words)).toDF("doc_id", "text")
    val stateDir = TestSpark.tempDir("dedup_state_").toString
    Dedup.writeNearDupState(history, "doc_id", "text", stateDir,
      shingleK = 3, numHashes = 16, bands = 4)
    val out = Dedup.incrementalNearDupsFromState(batch, stateDir,
      "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
      threshold = 0.5)
    // answer parity with the in-plan path
    val expected = Dedup.incrementalNearDups(batch, history, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    val got = out.select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(got == expected && got.contains((10L, 1L)))
    // plan property: every file scan location is under stateDir
    // (sparkPlan, not executedPlan: AQE wraps the tree in an adaptive
    // node whose inner scans a straight collect doesn't reach)
    val scans = out.queryExecution.sparkPlan.collectWithSubqueries {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty, "expected parquet state scans in the plan")
    assert(scans.forall(_.contains(stateDir)),
      s"plan scans files outside the state dir: $scans")
  }

  test("persisted-state census: hot buckets tile from state, no in-plan census agg") {
    // r14: the hot-bucket census is maintained WITH the state (a property
    // of the standing corpus, not of tonight's batch), so the read path
    // never re-aggregates the corpus-sized band table — the one exchange
    // the streaming rehearsal measured as per-trigger state-proportional.
    val boiler = "subscribe like comment share follow " * 4
    val history = ((1L to 120L).map(i => (i, boiler)) :+
      (500L, "entirely different vocabulary here appears once")).toDF("doc_id", "text")
    val batch = (1001L to 1003L).map(i => (i, boiler)).toDF("doc_id", "text")
    val stateDir = TestSpark.tempDir("dedup_census_").toString
    Dedup.writeNearDupState(history, "doc_id", "text", stateDir,
      shingleK = 3, numHashes = 16, bands = 4, bucketCap = 16)
    // the census landed in the state: the boilerplate family's 4 band
    // buckets, each of size 120 > 16
    val hot = spark.read.parquet(s"$stateDir/hot").collect()
    assert(hot.length == 4 && hot.forall(_.getLong(2) == 120L),
      s"expected 4 hot buckets of 120, got ${hot.mkString(",")}")
    // pair parity with the in-plan path at the same cap
    val got = Dedup.incrementalNearDupsFromState(batch, stateDir,
        "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
        threshold = 0.5, bucketCap = 16)
      .select($"id_new", $"id_old").as[(Long, Long)].collect().toSet
    assert(got == (for { n <- 1001L to 1003L; h <- 1L to 120L } yield (n, h)).toSet)
    // plan property: no (band, bh) aggregate anywhere — the census comes
    // from the persisted table, so the only aggregates left in the
    // FromState plan are candidate-bounded (the pair distinct, the verify
    // joins), never a census re-aggregation of the band-state scan
    val out = Dedup.incrementalNearDupsFromState(batch, stateDir,
      "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
      threshold = 0.5, bucketCap = 16)
    val censusAggs = out.queryExecution.sparkPlan.collectWithSubqueries {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.map(_.name).toSet == Set("band", "bh") => a
    }
    assert(censusAggs.isEmpty,
      "read path still aggregates the band-state table (census not from state)")
  }

  test("splitFractions gates realized fractions against the target") {
    val split = ((1L to 80L).map(i => (i, "train")) ++
      (81L to 89L).map(i => (i, "val")) ++
      (90L to 100L).map(i => (i, "test"))).toDF("id", "split")
    val out = Dedup.splitFractions(split, tolBp = 200L)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out("train") == ((8000L, true)))
    assert(out("val") == ((900L, true)))   // 9% vs 10%: inside ±2%
    assert(out("test") == ((1100L, true)))
    // a starved eval set trips the gate
    val skew = ((1L to 97L).map(i => (i, "train")) ++
      (98L to 99L).map(i => (i, "val")) :+ ((100L, "test"))).toDF("id", "split")
    val bad = Dedup.splitFractions(skew, tolBp = 500L)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(bad == Map("train" -> false, "val" -> false, "test" -> false))
  }

  test("leakageSafeSplit: cluster members move between splits as one unit") {
    val docs = (0L until 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val clusters = Seq((10L, 10L), (11L, 10L), (12L, 10L),
      (50L, 50L), (51L, 50L)).toDF("node", "component")
    val out = Dedup.leakageSafeSplit(docs, "doc_id", clusters)
      .select($"doc_id", $"rep", $"split").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = out.map(t => t._1 -> t._3).toMap
    // whole-family coherence: the leakage guarantee itself
    assert(Set(byId(10L), byId(11L), byId(12L)).size == 1)
    assert(Set(byId(50L), byId(51L)).size == 1)
    // singletons represent themselves; every split is populated at n=300
    assert(out.filter(_._1 == 99L).head._2 == 99L)
    assert(out.map(_._3).toSet == Set("train", "val", "test"))
    // rough 80/10/10 shape under the uniform hash (loose bounds)
    val n = out.length.toDouble
    val train = out.count(_._3 == "train") / n
    assert(train > 0.65 && train < 0.95, s"train share $train")
    intercept[IllegalArgumentException] {
      Dedup.leakageSafeSplit(docs, "doc_id", clusters, trainPct = 90, valPct = 10)
    }
  }

  test("semanticDedup: planted near-identical vector drops, orthogonal ones keep") {
    val dim = 8
    def vec(xs: Double*): Seq[Float] =
      (xs ++ Seq.fill(dim - xs.length)(0.0)).map(_.toFloat)
    val df = Seq(
      (1L, vec(1, 0, 0)),           // keeper (lowest id of the dup pair)
      (2L, vec(0.99, 0.01, 0)),     // near-identical to 1 -> dropped
      (3L, vec(0, 1, 0)),           // orthogonal -> kept
      (4L, vec(0, 0, 1))            // orthogonal -> kept
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(df, "vec_id", "embedding",
        threshold = 0.9, nCells = 2, dim = dim)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out(1L) && !out(2L) && out(3L) && out(4L))
    assert(out.size == 4)
  }
}
