package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.expressions.CharHash

/** Wave 3 — near-dup deduplication + similarity search (the training-data
  * operators, SURVEY.md §7.2 step 7). Every pipeline is mirrored 1:1 in a
  * generated DuckDB oracle — including the LSH candidate generation, not
  * just the verify step — so the hash compare covers recall behavior too.
  */
object DedupQueries {

  private val P = Dedup.P

  /** Zipfian-vocabulary corpus with PLANTED near-dup families at a
    * controlled rate — the realistic-selectivity complement to the raw
    * `documents` fixture (whose tiny vocabulary makes every near-dup
    * family artificially dense; NOTES.md). Derived deterministically from
    * doc_id with integer arithmetic only, so Spark and DuckDB generate
    * byte-identical text:
    *
    *   - 40 tokens per doc; token i of seed g hashes to
    *     h = (g·1000003 + i·10007) mod P, then a zipf-ish rank: 30% of
    *     positions draw from a 20-token head ("stopwords"), 70% from a
    *     5000-token tail — so unrelated docs share head tokens (as real
    *     corpora do) but essentially never share a 3-shingle.
    *   - Families: doc_id ≡ 48 (mod 50) is an EXACT dup of 47 (same seed);
    *     ≡ 49 (mod 50) is a NEAR dup of 47 (token 7 replaced with a
    *     doc-unique 'x<id>', Jaccard ≈ 0.85) — 3-member families over 6%
    *     of the corpus, everything else a singleton.
    */
  /** The token-rank formula shared verbatim by both engines. The inner
    * affine fold is SQUARED mod P before the small-modulus rank draws:
    * without the square, `g·1000003 + i·10007` never wraps P for small
    * ids, so ranks are affine in (g, i) with coefficients 3 and 7 — doc
    * seeds 7 apart become 3-token-shifted copies of each other and the
    * whole corpus chains into mega near-dup clusters. Squaring makes the
    * wrap effective at every id, so unrelated seeds share no shingles.
    * `castTo` bridges the one dialect difference (STRING vs VARCHAR).
    */
  private def zipfTokenExpr(castTo: String): String = {
    val seed = "(CASE WHEN doc_id % 50 = 48 THEN doc_id - 1 " +
      "WHEN doc_id % 50 = 49 THEN doc_id - 2 ELSE doc_id END)"
    val t = s"(($seed * 1000003 + i * 10007) % $P)"
    val h = s"(($t * $t + $t) % $P)"
    s"""CASE WHEN doc_id % 50 = 49 AND i = 7
       |  THEN concat('x', CAST(doc_id AS $castTo))
       |  ELSE concat('t', CAST(
       |    CASE WHEN $h % 10 < 3 THEN $h % 20 ELSE $h % 5000 END
       |    AS $castTo)) END""".stripMargin
  }

  private[queries] def zipfCorpus(s: SparkSession, dir: String): DataFrame =
    // The 40-token generation expression is the CPU here, and the local
    // single-row-group parquet gives the scan ~2 splits — widen the
    // doc_id-only projection (8 bytes/row) to the configured shuffle
    // width BEFORE generating, so the kernel runs at full parallelism
    // (explicit count: exempt from AQE coalescing).
    Tables.load(s, dir, "documents").select(col("doc_id"))
      .repartition(s.sessionState.conf.numShufflePartitions)
      .selectExpr(
        "doc_id",
        s"""array_join(transform(sequence(0, 39), i ->
           |${zipfTokenExpr("STRING")}), ' ') AS text""".stripMargin)

  /** [[zipfCorpus]] as a DuckDB CTE (`zdocs`), token-for-token identical. */
  private[queries] val zipfCorpusCte: String =
    s"""zdocs AS (
       |  SELECT doc_id,
       |    array_to_string(list_transform(range(0, 40), i ->
       |${zipfTokenExpr("VARCHAR")}), ' ') AS text
       |  FROM documents)""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The minhash near-dup pipeline over the REALISTIC corpus: planted
    // 3-member families (one exact + one near dup per family anchor) must
    // surface — and essentially nothing else, because unrelated zipf docs
    // share stopword-head tokens but not shingles. Same operator as q32;
    // what changes is the fixture physics (banded buckets stay sparse, as
    // at 100 TB on a real crawl).
    "q131_zipf_neardups" -> ((s, dir) => {
      Dedup.minhashNearDups(zipfCorpus(s, dir),
          "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Banding-parameter recall curve (the q143/q154 recall-gate pattern
    // for MinHash LSH): 16 minhashes split as 2/4/8 bands, candidate
    // volume vs recall of exact-Jaccard-≥0.5 truth — the measured basis
    // for choosing (bands, rows) before a 100 TB dedup run instead of
    // trusting the 1-(1-s^r)^b formula. Ground truth is inherently
    // quadratic, so it runs on a FIXED 400-doc audit panel (whole planted
    // families — ids ≡ 47/48/49 mod 50 stay contiguous) whose cost does
    // not grow with SF; candidates come from the production banding
    // kernel on the same panel.
    "q260_minhash_recall" -> ((s, dir) => {
      val panel = zipfCorpus(s, dir).filter(col("doc_id") < 400)
      val sets = Dedup.shingleHashSets(panel, "doc_id", "text", 3)
        .localCheckpoint()
      val a = sets.select(col("id").as("id_a"), col("sh").as("sh_a"))
      val b = sets.select(col("id").as("id_b"), col("sh").as("sh_b"))
      val truth = Dedup.appendJaccard(
          a.join(broadcast(b), col("id_a") < col("id_b")), "sh_a", "sh_b", "j")
        .filter(col("j") >= 0.5)
        .select(col("id_a"), col("id_b")).localCheckpoint()
      val perCfg = Seq(2, 4, 8).map { nb =>
        // Band keys derive from the CHECKPOINTED hash sets (r18):
        // Dedup.minhashBands(panel, ...) re-ran the corpus generation +
        // shingle kernel per config AND per join side (6 text passes for
        // the three configs, 7 with the truth sets) — the §1
        // one-kernel-pass rule applied to the recall harness.
        // minhash_band_keys_from_hashes is arithmetic-identical to the
        // text form (MinhashExprSpec pins parity).
        val bandRows = sets.select(col("id"),
            posexplode(call_function("minhash_band_keys_from_hashes",
              col("sh"), lit(16), lit(nb))))
          .select(col("pos").as("band"), col("col").as("bh"), col("id"))
        val x = bandRows.select(col("band"), col("bh"), col("id").as("id_a"))
        val y = bandRows.select(col("band"), col("bh"), col("id").as("id_b"))
        x.join(y, Seq("band", "bh")).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
          .withColumn("n_bands", lit(nb.toLong))
      }.reduce(_ unionByName _)
      val nt = truth.agg(count(lit(1)).as("n_truth"))
      perCfg
        .join(broadcast(truth.withColumn("hit", lit(1L))),
          Seq("id_a", "id_b"), "left")
        .groupBy(col("n_bands"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .crossJoin(broadcast(nt))
        .withColumn("recall_bp", expr("(10000 * n_found) div n_truth"))
        .select(col("n_bands"), col("n_candidates"), col("n_truth"),
          col("n_found"), col("recall_bp"))
        .orderBy(col("n_bands"))
    }),

    // Keep-one-per-cluster over the planted families: transitive closure
    // must recover exactly the {47, 48, 49} (mod 50) triples.
    "q132_zipf_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(zipfCorpus(s, dir), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("component"))
    }),
    // Leakage-safe split over the planted families: the 3-member near-dup
    // clusters must move between splits AS UNITS (assignment hashes the
    // cluster representative), so "a near-copy of a training doc in the
    // test set" is impossible by construction — a per-doc hash split
    // would straddle ~half the families. The oracle replays the closure
    // and the representative hash.
    "q139_cluster_split" -> ((s, dir) => {
      val corpus = zipfCorpus(s, dir)
      val clusters = Dedup.nearDupClusters(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      Dedup.leakageSafeSplit(corpus, "doc_id", clusters)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("split"))
    }),

    // Realized split fractions under a tolerance gate: hashing the
    // cluster representative holds 80/10/10 only in expectation, so the
    // pipeline emits the realized basis-point fractions and a ±5%
    // boolean — the pre-training sanity check that a cluster-size skew
    // can't silently starve an eval set. The oracle replays the closure,
    // the representative hash, AND the tolerance arithmetic.
    "q141_split_fractions" -> ((s, dir) => {
      val corpus = zipfCorpus(s, dir)
      val clusters = Dedup.nearDupClusters(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      Dedup.splitFractions(Dedup.leakageSafeSplit(corpus, "doc_id", clusters))
        .orderBy(col("split"))
    }),

    // Incremental near-dup vs the standing corpus (the nightly-crawl
    // shape): the planted family members (≡48, 49 mod 50) arrive as
    // "tonight's batch" and must each hit their history anchor (≡47) —
    // exact dups at J=1.0, near dups at J≈0.85 modulo honest LSH banding
    // misses; batch-internal pairs (48 vs 49) are NOT reported. History
    // text is banded once here (sandbox); in production the band/set
    // tables are persisted state and the batch join touches only them —
    // which is exactly what q140 runs.
    "q138_incr_neardup" -> ((s, dir) => {
      val corpus = zipfCorpus(s, dir)
      val isBatch = col("doc_id") % 50 === 48 || col("doc_id") % 50 === 49
      Dedup.incrementalNearDups(
          corpus.filter(isBatch), corpus.filter(!isBatch),
          "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
          threshold = 0.5)
        .orderBy(col("id_new"), col("id_old"))
    }),

    // The PERSISTED-STATE form of q138 — the production nightly shape
    // (VERDICT r5 item 3): batch N writes its band/shingle-set tables as
    // parquet state; batch N+1 joins ONLY that state. Same fixture and
    // same expected pairs as q138, but the history side of this plan is
    // two parquet state scans — history TEXT is provably never re-read
    // (DedupStateSpec pins the plan property; the state build itself is
    // cached as a fixture so the timed passes measure the batch join).
    "q140_state_neardup" -> ((s, dir) => {
      val corpus = zipfCorpus(s, dir)
      val isBatch = col("doc_id") % 50 === 48 || col("doc_id") % 50 === 49
      val state = FixtureCache.dir("neardup_state", dir) { d =>
        Dedup.writeNearDupState(corpus.filter(!isBatch), "doc_id", "text",
          d, shingleK = 3, numHashes = 16, bands = 4)
      }
      Dedup.incrementalNearDupsFromState(corpus.filter(isBatch), state,
          "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
          threshold = 0.5)
        .orderBy(col("id_new"), col("id_old"))
    }),

    // n-gram (bigram-set) Jaccard near-dups, content-bounded blocking:
    // banded minhash over the bigram set (never quadratic in a natural key).
    "q31_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(Tables.load(s, dir, "documents"),
          "doc_id", "text", 0.7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MinHash(16) + LSH(4 bands) near-dup pairs, shingle-Jaccard verified.
    "q32_minhash_neardups" -> ((s, dir) => {
      Dedup.minhashNearDups(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup-threshold tuning curve — the sweep a corpus team runs before
    // fixing a Jaccard cutoff: ONE LSH + verify pass (q32's pipeline at
    // its recall floor 0.5), then every candidate threshold evaluated on
    // the verified pair table (pairs kept + distinct docs touched per
    // cutoff). The sweep explodes the PAIR table (tiny — pairs, not
    // docs), so five thresholds cost one near-dup pass + a few KB, not
    // five passes. Thresholds compare in bp against jaccard·10⁴ — the
    // same IEEE product on both engines.
    "q303_threshold_sweep" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(Tables.load(s, dir, "documents"),
          "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4,
          threshold = 0.5)
        .localCheckpoint() // two consumers per threshold (pairs + docs)
      val sw = pairs
        .withColumn("threshold_bp",
          explode(array(Seq(5000, 6000, 7000, 8000, 9000).map(lit): _*)))
        .filter(col("jaccard") * 10000 >= col("threshold_bp"))
      val nPairs = sw.groupBy(col("threshold_bp"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = sw
        .select(col("threshold_bp"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .distinct()
        .groupBy(col("threshold_bp")).agg(count(lit(1)).as("n_docs"))
      nPairs.join(nDocs, "threshold_bp")
        .select(col("threshold_bp").cast("long").as("threshold_bp"),
          col("n_pairs"), col("n_docs"))
        .orderBy(col("threshold_bp"))
    }),

    // Incremental exact dedup: a simulated nightly batch (a re-crawl
    // slice = byte-identical dups of history, plus updated docs = new
    // content under new ids) deduped against the corpus's persisted
    // fingerprints — Bloom gate, then fingerprint anti-join; history
    // text is never rescanned. Survivors = the updated docs only.
    "q109_incr_dedup" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val recrawl = docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang"))
      val updated = docs.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" update v2")).as("text"), col("lang"))
      val batch = recrawl.unionByName(updated)
      Dedup.dedupAgainstHistory(batch, Dedup.fingerprints(docs, "text"),
          "text", expectedHistory = 100000L)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: corpus docs sharing >= 2 distinct
    // 3-gram shingles with the held-out benchmark slice (doc_id % 97)
    // are flagged — per-lang contamination counts.
    "q88_decontaminate" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      Dedup.decontaminate(corpus, bench, "doc_id", "text",
          shingleK = 3, minOverlap = 2)
        .join(docs.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"))
        .orderBy(col("lang"))
    }),

    // Contamination REPORT — the audit dual of q88's filter: q88 answers
    // "which corpus docs touch the benchmark", this answers "how badly is
    // each benchmark doc leaked into the training split", the number an
    // eval-integrity review actually cites. Per eval doc (doc_id % 97 ==
    // 0): the share of its DISTINCT 5-gram shingles that appear anywhere
    // in the train split, in basis points, rolled up per lang. Shingles
    // exchange as 8-byte charHashes (the q187 lesson — never shuffle the
    // strings); the train side is a distinct hash set, the probe an
    // ids-only left join on the hash.
    "q240_contamination_report" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 5)
        .withColumn("is_eval", col("doc_id") % 97 === 0)
      val sh = d.select(col("doc_id"), col("lang"), col("is_eval"),
          explode(expr("transform(sequence(0, size(w) - 5)," +
            " i -> concat_ws(' ', slice(w, i + 1, 5)))")).as("g"))
        .select(col("doc_id"), col("lang"), col("is_eval"),
          Dedup.charHash(col("g")).as("h"))
      val trainSet = sh.filter(!col("is_eval")).select(col("h")).distinct()
        .withColumn("seen", lit(1))
      sh.filter(col("is_eval"))
        .select(col("doc_id"), col("lang"), col("h")).distinct()
        .join(trainSet, Seq("h"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("seen").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .withColumn("contam_bp", expr("n_hit * 10000 div n_shingles"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_eval_docs"),
          sum(col("n_hit")).as("sum_hits"),
          expr("sum(contam_bp) div count(1)").as("mean_contam_bp"),
          sum(when(col("contam_bp") >= 5000, 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy(col("lang"))
    }),

    // Decontamination with the fact-side exchange REDUCED by a Bloom
    // sketch of the benchmark's shingle set — the 100 TB form of q88: at
    // scale the corpus shingle stream is the dominant exchange and only
    // the sliver matching a bench shingle survives the join, so the
    // bench keys ship as a ~0.1% -size model artifact and the codegen'd
    // might_contain prunes corpus shingles BEFORE they shuffle. False
    // positives are removed by the exact join that follows; false
    // negatives cannot happen — the result is EXACTLY q88's semantics
    // (oracle = the plain SQL), the sketch only moves work. The plan is
    // asserted in PlanAuditSpec (bloom_might_contain below the exchange).
    "q243_bloom_decontam" -> ((s, dir) => {
      import graft.ops.BloomJoin
      val docs = Tables.load(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val benchSh = Dedup.shingleHashSets(bench, "doc_id", "text", 3)
        .select(explode(col("sh")).as("h")).distinct()
      val sketch = BloomJoin.buildSketch(benchSh, "h",
        expectedItems = 1000000L, fpp = 0.03)
      val corpusSh = Dedup.shingleHashSets(corpus, "doc_id", "text", 3)
        .select(col("id"), explode(col("sh")).as("h"))
      val overlaps = corpusSh
        .filter(BloomJoin.mightContain(corpusSh, col("h"), sketch))
        .join(benchSh, "h")
        .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
      corpus.select(col("doc_id").as("id"), col("lang"))
        .join(overlaps, Seq("id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(coalesce(col("n_overlap"), lit(0L)) >= 2, 1L)
            .otherwise(0L)).as("n_contaminated"),
          sum(coalesce(col("n_overlap"), lit(0L))).as("sum_overlap"))
        .orderBy(col("lang"))
    }),

    // THE END-TO-END CORPUS BUILD — the whole training-data pipeline as
    // one composed query, emitting the funnel report every real corpus
    // release ships: raw -> near-dup keep-best (minhash clusters, best
    // quality keeper, singletons pass) -> quality gate (heuristic score
    // >= 0.70) -> benchmark decontamination (3-shingle overlap >= 2
    // against the held-out slice) -> final doc + token counts per lang.
    // Every stage is an operator gated elsewhere (q125, q25, q88); what
    // THIS row pins is their composition — stage ordering, the
    // unclustered-docs-pass-dedup rule, and the funnel arithmetic.
    // Scale shape is inherited: banding + tiled buckets for pairs, one
    // keyed agg per stage, ids-only anti-join for decontam.
    "q242_corpus_build" -> ((s, dir) => {
      import graft.queries.{TextQueries => TQ}
      val docs = Tables.load(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 97 =!= 0)
      val bench = docs.filter(col("doc_id") % 97 === 0)
      val clusters = Dedup.nearDupClusters(corpus, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val qual = corpus.select(col("doc_id"), col("lang"),
        graft.ops.CoreOps.cents(
          graft.text.TextOps.qualityScore(col("text"), TQ.stopwords), 6)
          .as("q_u"))
      val keepers = clusters
        .join(qual.select(col("doc_id").as("node"), col("q_u")), "node")
        .groupBy(col("component"))
        .agg(max(struct(col("q_u"), (-col("node")).as("nid"))).as("b"))
        .select((-col("b.nid")).as("doc_id"))
      // d1 feeds f1, d2, d2docs and both sides of the decontamination, so
      // its subtree would repeat under every later stage's plan: serialized
      // into each task binary, it grew them to 11.6 MiB at sf0.1. One eager
      // fill cuts it to a single leaf.
      val d1 = graft.ops.Checkpoints.materialize(corpus.select(col("doc_id"))
        .join(clusters.select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
        .unionByName(keepers)
        .join(qual, "doc_id"), None, eager = true)
      val d2 = d1.filter(col("q_u") >= 700000L)
      val d2docs = d2.join(corpus.select(col("doc_id"), col("text")), "doc_id")
      val d3 = d2docs.join(
        Dedup.decontaminate(d2docs, bench, "doc_id", "text",
            shingleK = 3, minOverlap = 2)
          .select(col("id").as("doc_id"), col("contaminated")), "doc_id")
        .filter(!col("contaminated"))
      val f0 = corpus.groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
      val f1 = d1.groupBy(col("lang")).agg(count(lit(1)).as("n_dedup"))
      val f2 = d2.groupBy(col("lang")).agg(count(lit(1)).as("n_quality"))
      val f3 = d3.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_final"),
          sum(size(split(col("text"), " ")).cast("long")).as("toks_final"))
      f0.join(f1, Seq("lang"), "left").join(f2, Seq("lang"), "left")
        .join(f3, Seq("lang"), "left")
        .select(col("lang"), col("n_raw"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("toks_final"), lit(0L)).as("toks_final"))
        .orderBy(col("lang"))
    }),

    // Near-dup clustering: minhash pairs closed under transitivity
    // (hash-min components), per-cluster sizes — the keep-one-per-cluster
    // dedup a training corpus actually ships.
    "q77_neardup_clusters" -> ((s, dir) => {
      Dedup.nearDupClusters(Tables.load(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
        .groupBy(col("component")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("component"))
    }),

    // SimHash 30-bit signatures (deterministic, portable): the codegen'd
    // simhash_sig expression, one call per row.
    "q33_simhash" -> ((s, dir) => {
      org.apache.spark.sql.GraftFunctions.register(s)
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), call_function("simhash_sig", col("text"), lit(30)).as("sig"))
        .orderBy(col("doc_id"))
    }),

    // SimHash banded near-dup pairs, Hamming-verified. OCCUPANCY-SCALED
    // shape (r17): the old fixed 30/3 contract pinned 2^10 buckets per
    // band forever, so candidates grew ~n^2/2^10 — q34 was the r16 sf10
    // leg's heaviest query (69 s, 1.9 G candidates). The shape now
    // derives from the corpus count via Dedup.simhashShape: every gate
    // SF derives the bit-identical 30-bit/h2 contract, sf10 derives
    // 42-bit bands (16x fewer accidental collisions per band). The count
    // is one parquet-metadata pass; the oracle mirrors the same integer
    // rule from the same table. Fixed 30/3 stays the pigeonhole opt-in.
    "q34_simhash_pairs" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val (bits, maxH) = Dedup.simhashShape(d.count(), baseHamming = 2)
      Dedup.simhashNearDups(d, "doc_id", "text",
          bits = bits, bands = 3, maxHamming = maxH)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash over the zipfian planted-family corpus (q34's operator, the
    // realistic fixture): exact dups pair at hamming 0; one-token near
    // dups surface only when a band's w bits all survive the edit — the
    // short-document recall physics the oracle mirrors exactly. Same
    // occupancy-scaled shape as q34 (zdocs is row-for-row documents, so
    // the width derives from the documents count on both engines).
    "q135_zipf_simhash" -> ((s, dir) => {
      val n = Tables.load(s, dir, "documents").count()
      val (bits, maxH) = Dedup.simhashShape(n, baseHamming = 3)
      Dedup.simhashNearDups(zipfCorpus(s, dir),
          "doc_id", "text", bits = bits, bands = 3, maxHamming = maxH)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Brute-force cosine top-k (exact ANN baseline): 5 query vectors.
    "q35_ann_brute" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // q35 with the shuffle path forced (`maxQueryBatch = 0`): the query
    // side is tiled against the corpus by a cartesian product instead of
    // broadcast, so the large-query-set path stays under the oracle and
    // bench gates. Must land on exactly q35's rows — same oracle, same hash.
    "q227_ann_brute_dist" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", 3, maxQueryBatch = 0)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining for contrastive training: per query, the 3
    // most-cosine-similar vectors with a DIFFERENT label — "looks like
    // the positive but isn't". Same broadcast + per-query top-k shape as
    // q35; the label rides the norm kernel as a pass-through column (no
    // second corpus join to recover it).
    "q149_hard_negatives" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.hardNegatives(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "label", 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Topic-mixture data card: k-means-lite cells (Similarity.kmeansAssign,
    // the q50/q116 clustering) crossed with the supervision label — per
    // (cell, label) counts and within-cell shares in bp. The embedding-
    // space composition report a mixture dashboard ships: which semantic
    // clusters a source/label dominates, and where clusters mix labels
    // (annotation noise or genuinely ambiguous regions). Centroids are the
    // bounded model artifact; the cross is one partial-aggregable rollup
    // plus a 16-row broadcast of cell totals.
    "q249_cluster_mixture" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val (assigned, _) = Similarity.kmeansAssign(e, "vec_id", "embedding")
      val byCell = assigned
        .select(col("cell").cast("long").as("cell"),
          col("corpus_id").as("vec_id"))
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("n"))
      val tot = byCell.groupBy(col("cell")).agg(sum(col("n")).as("cn"))
      byCell.join(broadcast(tot), "cell")
        .select(col("cell"), col("label"), col("n"),
          expr("(n * 10000) div cn").as("share_bp"))
        .orderBy(col("cell"), col("label"))
    }),

    // Embedding normalization audit: every cosine/IVF/PQ operator in this
    // library assumes unit-ish vectors, so the data-quality gate a real
    // pipeline runs BEFORE indexing is "are they actually normalized" —
    // per label: integer-micro deviation of ‖v‖² from 1e12 (sum/max) and
    // the count beyond a 1e6 tolerance (float32 quantization keeps honest
    // unit vectors inside ~2e6 here, so the threshold splits the corpus
    // non-trivially rather than rubber-stamping it). One scan-local
    // kernel + one partial-aggregable rollup; exact integers both engines.
    "q250_embedding_norm_check" -> ((s, dir) => {
      Tables.load(s, dir, "embeddings")
        .withColumn("n2", expr(
          """aggregate(transform(embedding,
            |  x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
            |  CAST(0 AS BIGINT), (acc, v) -> acc + v * v)""".stripMargin))
        .withColumn("dev", abs(col("n2") - lit(1000000000000L)))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(col("dev")).as("sum_absdev"),
          max(col("dev")).as("max_absdev"),
          sum(when(col("dev") > 1000000L, 1L).otherwise(0L)).as("n_offunit"))
        .orderBy(col("label"))
    }),

    // SoftDeDup: instead of DROPPING near-duplicates, down-weight them —
    // every member of an n-doc near-dup cluster carries weight 1/n
    // (integer micros), so a family contributes ~one doc of training
    // signal no matter how often it was crawled. Output = per-source
    // effective corpus size; the delta vs n_docs·1e6 is exactly the
    // redundancy the weighting removed. One cluster pipeline (shared
    // shape with q132) + a size agg + one left join back to the corpus.
    "q151_softdedup_weights" -> ((s, dir) => {
      val clusters = Dedup.nearDupClusters(zipfCorpus(s, dir), "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val sizes = clusters.groupBy(col("component")).agg(count(lit(1)).as("_csize"))
      val mem = clusters.join(sizes, "component")
        .select(col("node").as("doc_id"), col("_csize"))
      Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(mem, Seq("doc_id"), "left")
        .withColumn("w_u", coalesce(expr("1000000 div _csize"), lit(1000000L)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w_u")).as("eff_size_u"))
        .orderBy(col("source"))
    }),

    // Sign-LSH bucketed embedding near-dups (the 100 TB ANN path).
    "q36_embedding_neardups" -> ((s, dir) => {
      // OCCUPANCY-SCALED plane count (r16; the q273 rule applied to the
      // single-bucket form): fixed 8 planes = 256 buckets forever, so the
      // bucket self-join's candidates grow n²/256 — the r16 full sf10 leg
      // measured the quadratic as the suite's only >10× ratio (11.5× raw).
      // planes = bitLength((n−1) div 79) clamped to [8, 20] keeps
      // per-bucket occupancy ~constant (~79, the old sf1 occupancy):
      // every gate SF (n ≤ 20k) derives 8 — BIT-IDENTICAL to the fixed
      // shape, since plane p's hyperplane depends only on p — while sf10's
      // 200k vectors derive 12 (4096 buckets). The count is a parquet-
      // footer-cheap pre-pass; the oracle mirrors the same bit-length
      // arithmetic from the same table.
      val e = Tables.load(s, dir, "embeddings")
      val n = e.count()
      val planes = math.max(8, math.min(20,
        64 - java.lang.Long.numberOfLeadingZeros((n - 1) / 79)))
      Dedup.embeddingNearDups(e, "vec_id", "embedding",
          threshold = 0.4, planes = planes)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SemDeDup: k-means-cluster embeddings, drop docs with a lower-id
    // cosine-0.4 neighbor in their cluster. The clustering is the SAME
    // deterministic k-means-lite the IVF index uses (shared oracle CTEs).
    "q116_semantic_dedup" -> ((s, dir) => {
      Dedup.semanticDedup(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, nCells = 16)
        .orderBy(col("id"))
    }),

    // Bitext mining (the LASER/CCMatrix shape): cross-LANGUAGE document
    // pairs whose embeddings sit cosine-≥0.4, candidates from the q36
    // sign-LSH bucket join (ids + lang + length ride the bucket rows;
    // text never moves), plus the standard bitext cleaning gate — the
    // char-length ratio in bp with keep = ratio ≥ ½. The
    // parallel-corpus miner a multilingual training pipeline runs over
    // a web crawl; same-language pairs are near-dups (q36's job), not
    // bitext, so the join demands lang_a < lang_b.
    "q273_bitext_mining" -> ((s, dir) => {
      import graft.similarity.Similarity.{appendCosine, bucketNorm}
      val e = Tables.load(s, dir, "embeddings")
        .join(Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars")),
          col("doc_id") === col("vec_id"))
      // 4-band signature (the q257 OR-amplification) rather than one
      // 8-plane bucket: at cosine 0.4 a single bucket keeps ~2.5% of true
      // pairs (measured: 1 of 48) — as a RECALL device sign-LSH needs
      // banding here just as MinHash does.
      //
      // OCCUPANCY-SCALED band width (r14): a fixed 4-bit band has 16
      // buckets forever, so candidate pairs grow n²/16 — the sf10 probe
      // measured the quadratic live (328 s median, 29× the sf1 wall on
      // 10× data). The width w now grows with the corpus so per-bucket
      // occupancy stays ~constant: w = bitLength((n−1) div 1250),
      // floored at 4 — which makes every gate SF (n ≤ 20k) BIT-IDENTICAL
      // to the fixed shape, since plane p's hyperplane depends only on p
      // — and capped at 15 so 4 bands stay inside a 63-bit long (beyond
      // ~41M vectors the signature needs multi-long words; SCALE.md).
      // The count is a bounded pre-pass (like CoreOps.hotKeyCounts' sample);
      // the oracle mirrors the same integer bit-length arithmetic, so
      // both engines derive the same w from the same table.
      val nVecs = e.count()
      val w = math.max(4, math.min(15,
        64 - java.lang.Long.numberOfLeadingZeros((nVecs - 1) / 1250)))
      val withB = bucketNorm(e, "vec_id", "embedding", planes = 4 * w, dim = 64,
          extra = Seq("lang", "n_chars"))
        .withColumn("band", explode(array((0 until 4).map(lit): _*)))
        .withColumn("sig",
          expr(s"shiftrightunsigned(bucket, band * $w) % ${1L << w}"))
      val a = withB.select(col("band"), col("sig"), col("id").as("id_a"),
        col("v").as("v_a"), col("nrm").as("nrm_a"), col("lang").as("lang_a"),
        col("n_chars").as("nc_a"))
      val b = withB.select(col("band"), col("sig"), col("id").as("id_b"),
        col("v").as("v_b"), col("nrm").as("nrm_b"), col("lang").as("lang_b"),
        col("n_chars").as("nc_b"))
      appendCosine(
          a.join(b, Seq("band", "sig"))
            .filter(col("id_a") < col("id_b") && col("lang_a") < col("lang_b")),
          "v_a", "v_b", "nrm_a", "nrm_b", "cosine")
        .filter(col("cosine") >= 0.4)
        .select(col("id_a"), col("id_b"), col("lang_a"), col("lang_b"),
          col("cosine"),
          expr("(10000 * least(nc_a, nc_b)) div greatest(nc_a, nc_b)")
            .as("len_ratio_bp"))
        .withColumn("keep", col("len_ratio_bp") >= 5000)
        .distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Semantic decontamination (cross-set, banded sign-LSH candidates,
    // broadcast benchmark): which corpus vectors sit cosine-≥0.35 to an
    // eval-set vector — the paraphrase-leakage check exact/Bloom
    // decontam (q88/q243) can't express. Corpus side never shuffles.
    "q257_semantic_decontam" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Dedup.crossSetDecontam(
          e.filter(col("vec_id") >= 25), e.filter(col("vec_id") < 25),
          "vec_id", "embedding", threshold = 0.35)
        .orderBy(col("id"))
    }),

    // Int8 scalar quantization of the embedding store (4× compression for
    // the 100 TB vector shelf): exact integer code stats hash-gated; the
    // reconstruction-cosine floor surfaces as the tolerance boolean.
    "q122_sq8_quantize" -> ((s, dir) => {
      Similarity.scalarQuantize(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, levels = 255, minCosine = 0.995)
        .orderBy(col("id"))
    }),

    // The dedup decision a corpus ships: keep the BEST-quality doc per
    // near-dup cluster — (quality micros DESC, id ASC) argmax instead of
    // lowest-id. One tiny aggregate over the cluster table (clusters ≪
    // docs); unclustered docs are untouched by construction.
    "q125_keep_best" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
      val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
      val qual = docs.select(col("doc_id").as("node"),
        graft.ops.CoreOps.cents(graft.text.TextOps.qualityScore(
          col("text"), TextQueries.stopwords), 6).as("q_u"))
      clusters.join(qual, Seq("node"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("q_u"), (-col("node")).as("nid"))).as("b"))
        .select(col("component"), col("n_docs"),
          (-col("b.nid")).as("keeper"), col("b.q_u").as("keeper_q_u"))
        .orderBy(col("component"))
    }),

    // ANN recall@5 evaluation — the harness that justifies shipping the
    // LSH path at 100 TB: per query, |lsh top-5 ∩ brute-force top-5| as
    // an exact integer. Both rankings share the (sim DESC, id ASC)
    // tiebreak, so the intersection is deterministic; the oracle replays
    // BOTH retrieval paths and the same intersection.
    "q124_ann_recall" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
      val exact = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", 5)
        .select(col("query_id"), col("corpus_id"))
      val approx = Similarity.lshTopK(e, qs, "vec_id", "embedding", 5,
          planes = 4, dim = 64)
        .select(col("query_id"), col("corpus_id"))
      val hits = exact.join(approx, Seq("query_id", "corpus_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      qs.select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy(col("query_id"))
    }),

    // The IVF nProbe/recall tuning curve under the gate (VERDICT r5
    // item 9): recall@5 hit totals for nProbe ∈ {1, 2, 4} over the SAME
    // clustering, with the monotonicity guarantee (nested candidate
    // sets) pinned as a gated boolean. This is the curve a deployment
    // reads to pick its probe budget; the oracle replays both retrieval
    // paths at every probe level plus the same window check.
    "q143_ivf_recall_curve" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfRecallCurve(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbes = Seq(1, 2, 4), nCells = 16)
        .select(col("n_probe").cast("long").as("n_probe"), col("n_hits"),
          col("monotone_ok"))
        .orderBy(col("n_probe"))
    }),

    // Label-coherence audit: per label, every member's cosine to the
    // label centroid — the mislabel/outlier sweep before contrastive
    // training. Integer-milli vectors and centroids end to end (the
    // centroid is a truncating integer mean, bounded whatever the label
    // size), so the only doubles are the final sqrt/divide — exact on
    // any engine. One (label, dim) partial agg + a broadcast centroid
    // join; no pairwise anything.
    "q153_label_coherence" -> ((s, dir) => {
      Similarity.labelCoherence(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", "label", lowTau = 0.1)
        .orderBy(col("label"))
    }),

    // Multi-probe sign-LSH recall curve (Lv et al. 2007): recall
    // recovered by probing Hamming-1 neighbor buckets instead of adding
    // hash tables — the corpus hashes ONCE, extra cost is per-query
    // only. Candidate sets are nested in n_probe, so the curve is
    // structurally monotone; still gated, with the oracle replaying
    // both retrieval paths at each probe level.
    "q154_multiprobe_recall" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.multiProbeRecallCurve(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", k = 5, nProbes = Seq(1, 3), planes = 6)
        .select(col("n_probe").cast("long").as("n_probe"), col("n_hits"),
          col("monotone_ok"))
        .orderBy(col("n_probe"))
    }),

    // IVF+PQ — the canonical billion-vector index (FAISS IVFPQ): coarse
    // cells + residual product codes + per-probed-cell ADC tables, all
    // integer after the micros conversion, so the ENTIRE index —
    // assignment, residuals, codebooks, probes, ranked distances —
    // hash-gates exactly against a from-first-principles SQL replay.
    "q176_ivfpq" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Product quantization + asymmetric-distance top-k (Jégou et al.
    // 2011): corpus vectors as m 4-bit codes, query distance = sum of
    // per-subspace table lookups. Integer micros end to end — codebook,
    // encode argmin, and every ADC distance hash-gate EXACTLY (no float
    // fold order anywhere, unlike the cosine family). The memory form
    // that makes billion-vector serving fit: dim floats → m nibbles.
    "q160_pq_adc" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // q160 with the shuffle path forced (`maxQueryBatch = 0`): query ADC
    // tables built on the executors (never collected), scored through a
    // cross join with the corpus codes. Must land on exactly q160's rows —
    // same oracle, same hash.
    "q177_pq_adc_dist" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, maxQueryBatch = 0)
        .orderBy(col("query_id"), col("rank"))
    }),

    // q176 with the shuffle path forced (`maxQueryBatch = 0`): probe
    // tables built on the executors, candidates meet probers through an
    // equi-join on the coarse cell — the shuffle key a cell-partitioned
    // serving layout uses at scale. Same oracle, same hash as q176.
    "q178_ivfpq_dist" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 10, nCells = 16, nProbe = 4,
          maxQueryBatch = 0)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Incremental IVF+PQ index maintenance — the nightly-embedding-ingest
    // shape (VERDICT r7 item 5): the standing corpus (vec_id % 10 ≠ 7)
    // trains centroids+codebooks ONCE and persists centroids/codebooks/
    // postings as parquet state; tonight's batch (≡ 7) assigns+encodes
    // against the FROZEN model in one kernel pass; search runs over state
    // postings ∪ the fresh batch postings. History vectors are provably
    // never rescanned (the state build is a cached fixture; the search
    // plan's only embedding scans are the batch and the queries —
    // PlanAuditSpec pins it). Oracle replays train-on-history/encode-all
    // from first principles, integer end to end.
    "q226_ivfpq_incr" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val isBatch = col("vec_id") % 10 === 7
      val state = FixtureCache.dir("ivfpq_state", dir) { d =>
        Similarity.writeIvfPqState(e.filter(!isBatch), "vec_id", "embedding",
          d, nCells = 16, m = 8)
      }
      val newPosts = Similarity.ivfPqAssignToState(e.filter(isBatch), state,
        "vec_id", "embedding", m = 8)
      Similarity.ivfPqSearchState(e.filter(col("vec_id") < 5), state,
          Some(newPosts), "vec_id", "embedding", k = 10, nProbe = 4, m = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF index-health census after an incremental ingest: postings per
    // coarse cell over state ∪ tonight's batch — the cell-balance check
    // that tells an operator when drift has lopsided the index and a
    // re-train is due (a hot cell makes every probe of it scan-heavy;
    // FAISS ops watch exactly this). One partial-aggregable count over
    // the m-nibble postings — vectors are never touched.
    "q228_ivf_cell_balance" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val isBatch = col("vec_id") % 10 === 7
      val state = FixtureCache.dir("ivfpq_state", dir) { d =>
        Similarity.writeIvfPqState(e.filter(!isBatch), "vec_id", "embedding",
          d, nCells = 16, m = 8)
      }
      val newPosts = Similarity.ivfPqAssignToState(e.filter(isBatch), state,
        "vec_id", "embedding", m = 8)
      s.read.parquet(state + "/postings").unionByName(newPosts)
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"))
    }))

  // ---------------------------------------------------------------- oracles

  /** Distinct 3-shingles of `text` (matches Dedup.shingles for k=3). */
  private val shingleSql =
    """list_distinct(list_transform(
      |  range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
      |  i -> array_to_string((string_split(text, ' '))[i+1:i+3], ' ')))""".stripMargin

  private def jaccardSql(a: String, b: String) =
    s"""CASE WHEN len(list_distinct(list_concat($a, $b))) = 0 THEN 0.0
       |ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE)
       |   / CAST(len(list_distinct(list_concat($a, $b))) AS DOUBLE) END""".stripMargin

  /** `tok → h` CTEs: per-doc distinct k-shingle hashes — the arithmetic
    * mirror of [[graft.expressions.ShingleHashes]], shared by the minhash
    * family and the decontamination oracle so the fold can never
    * desynchronize between them. `extraCols` rides extra projection
    * columns through (e.g. `" lang,"`).
    */
  /** `h` is `AS MATERIALIZED`: the verify stage references it two or three
    * times (both pair sides + the contamination probe) and DuckDB inlines
    * non-materialized CTEs, re-running the whole shingle fold per
    * reference (q31's oracle was ~11 s at sf0.1 from exactly this).
    */
  private[queries] def shingleCtes(shingleK: Int, extraCols: String = "",
                                   from: String = "documents"): String =
    s"""tok AS (
       |  SELECT doc_id,$extraCols
       |    list_transform(string_split(text, ' '), tk -> ${CharHash.duckdbSql("tk")}) AS th
       |  FROM $from),
       |h AS MATERIALIZED (
       |  SELECT doc_id,$extraCols
       |    list_distinct(list_transform(
       |      range(0, greatest(len(th) - $shingleK, 0) + 1),
       |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), th[i+1:i+$shingleK]),
       |             (acc, x) -> (acc * 1000003 + x) % $P))) AS hs
       |  FROM tok)""".stripMargin

  /** The shared CTE chain `tok → h → sigs → bands → cand → v` (shingle
    * hashes, seeded signatures, band folds, band self-join, Jaccard
    * verify) — the full candidate-generation mirror, reused by the pair
    * and cluster oracles.
    */
  private def minhashCtes(shingleK: Int, numHashes: Int, bands: Int,
                          from: String = "documents"): String = {
    val rpb = numHashes / bands
    val sigExprs = (0 until numHashes).map { i =>
      s"list_min(list_transform(hs, h -> (${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % $P)) AS s$i"
    }.mkString(",\n    ")
    def bandExpr(b: Int): String =
      (0 until rpb).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc * 1000003 + s${b * rpb + r}) % $P)"
      }
    s"""${shingleCtes(shingleK, from = from)},
       |sigs AS (
       |  SELECT doc_id,
       |    $sigExprs
       |  FROM h),
       |bands AS MATERIALIZED (
       |  SELECT doc_id, unnest([${(0 until bands).mkString(", ")}]) AS band,
       |    unnest([${(0 until bands).map(bandExpr).mkString(", ")}]) AS bh
       |  FROM sigs),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT id_a, id_b, ${jaccardSql("sa.hs", "sb.hs")} AS jaccard
       |  FROM cand JOIN h sa ON cand.id_a = sa.doc_id JOIN h sb ON cand.id_b = sb.doc_id)""".stripMargin
  }

  private def minhashOracleSql(shingleK: Int, numHashes: Int, bands: Int,
                               threshold: Double): String =
    s"""WITH ${minhashCtes(shingleK, numHashes, bands)}
       |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= $threshold ORDER BY id_a, id_b""".stripMargin

  /** Cluster oracle: same pair pipeline, then min-label transitive closure
    * (recursive CTE) and per-cluster sizes.
    */
  private def minhashClusterOracleSql(shingleK: Int, numHashes: Int,
                                      bands: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${minhashCtes(shingleK, numHashes, bands)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT a AS node, a AS r FROM sym
       |  UNION
       |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
       |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
       |SELECT component, count(*) AS n_docs FROM lab
       |GROUP BY component ORDER BY component""".stripMargin

  /** q125's oracle: the cluster closure of [[minhashClusterOracleSql]]
    * joined to the shared quality formula, argmax by (q_u DESC, id ASC).
    */
  private def minhashKeepBestOracleSql(shingleK: Int, numHashes: Int,
                                       bands: Int, threshold: Double): String =
    s"""WITH RECURSIVE ${minhashCtes(shingleK, numHashes, bands)},
       |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= $threshold),
       |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
       |reach AS (
       |  SELECT a AS node, a AS r FROM sym
       |  UNION
       |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
       |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
       |qual AS (
       |  SELECT doc_id, CAST(round((${TextQueries.qualitySql}) * 1000000.0) AS BIGINT) AS q_u
       |  FROM documents),
       |sel AS (
       |  SELECT component, node, q_u,
       |    row_number() OVER (PARTITION BY component
       |      ORDER BY q_u DESC, node ASC) AS rn,
       |    count(*) OVER (PARTITION BY component) AS n_docs
       |  FROM lab JOIN qual ON qual.doc_id = lab.node)
       |SELECT component, CAST(n_docs AS BIGINT) AS n_docs,
       |  node AS keeper, q_u AS keeper_q_u
       |FROM sel WHERE rn = 1 ORDER BY component""".stripMargin

  /** SimHash signature SQL over a relation exposing (doc_id, text). */
  private def simhashSigSql(from: String = "documents"): String = {
    val bitTerms = (0 until 30).map { j =>
      s"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> $j) & 1 = 1)) > len(hs) THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n    + ")
    s"""SELECT doc_id, $bitTerms AS sig
       |FROM (
       |  SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
       |    t -> (${Dedup.hashA(0)} * ${CharHash.duckdbSql("t")} + ${Dedup.hashB(0)}) % $P) AS hs
       |  FROM $from)""".stripMargin
  }

  /** Exact integer bit length of a non-negative BIGINT SQL expression:
    * #{j ∈ [0,63) : k ≥ 2^j} — pure integer comparisons, no
    * floating-point LOG2 whose fractional error could shift the result
    * by one at exact powers of two (ADVICE r17).
    */
  private[queries] def bitLenSql(k: String): String =
    s"len(list_filter(range(0, 63), j -> ($k) >= (CAST(1 AS BIGINT) << CAST(j AS INTEGER))))"

  /** 60-bit two-seed SimHash signature SQL over (doc_id, text) — the WIDE
    * superset (bit j < 30 from seed 0, bit j ≥ 30 from seed 1 =
    * Dedup.wideA1/wideB1): masking to 3w bits reproduces any narrower
    * occupancy-derived shape exactly (see Dedup.simhashShape). The char
    * fold runs once per distinct token; both seed streams rehash it.
    */
  private def simhashSigWideSql(from: String = "documents"): String = {
    def terms(arr: String, off: Int) = (0 until 30).map { j =>
      s"(CASE WHEN 2 * len(list_filter($arr, h -> (h >> $j) & 1 = 1)) > len($arr) THEN CAST(${1L << (j + off)} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n    + ")
    s"""SELECT doc_id, ${terms("hs", 0)}
       |    + ${terms("hs2", 30)} AS sig
       |FROM (
       |  SELECT doc_id,
       |    list_transform(chl, h -> (${Dedup.hashA(0)} * h + ${Dedup.hashB(0)}) % $P) AS hs,
       |    list_transform(chl, h -> (${Dedup.wideA1} * h + ${Dedup.wideB1}) % $P) AS hs2
       |  FROM (
       |    SELECT doc_id, list_transform(list_distinct(string_split(text, ' ')),
       |      t -> ${CharHash.duckdbSql("t")}) AS chl
       |    FROM $from))""".stripMargin
  }

  /** Shared band/pair tail of the simhash oracles — occupancy-scaled
    * shape (3 bands × w bits; w = clamp(10, 20, bitLen((n−1)//49)) from
    * the same `documents` count the Spark side reads, Hamming threshold
    * (baseHamming·w)//10 — Dedup.simhashShape, integer-for-integer).
    * `s` must be the 60-bit wide signature ([[simhashSigWideSql]]);
    * masking its low 3w bits reproduces the w-band shape exactly.
    * `bands` is self-joined (two references) → MATERIALIZED, or DuckDB
    * re-runs the whole per-bit signature fold for each side.
    */
  private def simhashPairSql(baseHamming: Int): String =
    s"""wv AS (
       |  SELECT GREATEST(10, LEAST(20, ${bitLenSql("(count(*) - 1) // 49")})) AS w
       |  FROM documents),
       |bands AS MATERIALIZED (
       |  SELECT doc_id,
       |    sig & ((CAST(1 AS BIGINT) << CAST(3 * w AS INTEGER)) - 1) AS msig,
       |    band,
       |    (sig >> CAST(band * w AS INTEGER))
       |      & ((CAST(1 AS BIGINT) << CAST(w AS INTEGER)) - 1) AS bh
       |  FROM s, wv, LATERAL (SELECT unnest(range(0, 3)) AS band) r),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.msig, b.msig)) AS INT) AS hamming
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT id_a, id_b, hamming FROM pairs, wv
       |WHERE hamming <= ($baseHamming * w) // 10
       |ORDER BY id_a, id_b""".stripMargin

  private val dotSql =
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> CAST(%s[i] AS DOUBLE) * CAST(%s[i] AS DOUBLE))), (acc, x) -> acc + x)"

  private[queries] def cosineSql(a: String, b: String) = {
    val d = dotSql.format(a, b)
    val na = s"sqrt(${dotSql.format(a, a)})"
    val nb = s"sqrt(${dotSql.format(b, b)})"
    s"CASE WHEN $na * $nb = 0.0 THEN 0.0 ELSE ($d) / ($na * $nb) END"
  }

  /** Sign-LSH bucket SQL (mirrors Similarity.signBucket for 64-dim, `planes`). */
  private def bucketSql(v: String, planes: Int): String =
    (0 until planes).map { p =>
      val proj = s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
        s"i -> CAST($v[i] AS DOUBLE) * CAST(sign(sin(CAST(i * ${p + 1} AS DOUBLE))) AS DOUBLE))), (acc, x) -> acc + x)"
      s"(CASE WHEN $proj > 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("\n    + ")

  /** Generated oracle for Similarity.lshTopK with the given query filter. */
  def lshOracle(queryPred: String, k: Int, planes: Int): String =
    s"""WITH b AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", planes)} AS bucket FROM embeddings),
       |c AS (SELECT bucket, vec_id AS corpus_id, embedding AS cv FROM b),
       |q AS (SELECT bucket, vec_id AS query_id, embedding AS qv FROM b WHERE $queryPred),
       |scored AS (
       |  SELECT query_id, corpus_id, ${cosineSql("cv", "qv")} AS sim
       |  FROM c JOIN q USING (bucket) WHERE corpus_id <> query_id),
       |ranked AS (
       |  SELECT query_id, corpus_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, corpus_id, sim FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  /** Generated oracle for Similarity.ivfTopK (true IVF: exact micro-unit
    * centroid means, nearest-centroid assignment, one Lloyd refinement
    * pass, nProbe fan-out).
    */
  /** WITH-body CTEs replicating [[graft.similarity.Similarity.kmeansAssign]]
    * at one refine pass: LSH-seeded integer-micro centroid means, argmax
    * reassignment — terminating in `assign1(cell, corpus_id)`. Shared by
    * the IVF and SemDeDup oracles so the clustering can never drift
    * between them. `base`/`cent*`/`assign*` are AS MATERIALIZED: each is
    * referenced several times downstream and un-hinted DuckDB inlining
    * would re-run the 64-dim bucket/centroid arithmetic per reference.
    */
  private def kmeansCtes(nCells: Int): String = {
    val planes = java.lang.Integer.numberOfTrailingZeros(nCells)
    def sumExprs(src: String) = (0 until 64).map(i =>
      s"sum(CAST(round(CAST($src[${i + 1}] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s$i")
      .mkString(",\n    ")
    val centExprs = (0 until 64).map(i =>
      s"CAST(CAST(s$i AS DOUBLE) / 1000000.0 / cnt AS REAL)").mkString(", ")
    def assignSql(cent: String) =
      s"""SELECT cell, corpus_id FROM (
         |    SELECT c.cell, b.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${cosineSql("b.embedding", "c.cv")} DESC, c.cell) AS rn
         |    FROM base b CROSS JOIN $cent c)
         |  WHERE rn = 1""".stripMargin
    s"""base AS MATERIALIZED (
       |  SELECT vec_id, embedding, ${bucketSql("embedding", planes)} AS bucket FROM embeddings),
       |sums0 AS (
       |  SELECT bucket, count(*) AS cnt,
       |    ${sumExprs("embedding")}
       |  FROM base GROUP BY bucket),
       |cent0 AS MATERIALIZED (SELECT bucket AS cell, [$centExprs] AS cv FROM sums0),
       |assign0 AS MATERIALIZED (
       |  ${assignSql("cent0")}),
       |sums1 AS (
       |  SELECT a.cell, count(*) AS cnt,
       |    ${sumExprs("b.embedding")}
       |  FROM assign0 a JOIN base b ON b.vec_id = a.corpus_id GROUP BY a.cell),
       |cent1 AS MATERIALIZED (SELECT cell, [$centExprs] AS cv FROM sums1),
       |assign1 AS MATERIALIZED (
       |  ${assignSql("cent1")})""".stripMargin
  }

  /** Shared by q138 (in-plan history) and q140 (persisted state): both
    * paths must land on the same pairs.
    */
  private def incrNearDupOracle: String =
    s"""WITH $zipfCorpusCte,
       |${minhashCtes(3, 16, 4, from = "zdocs")}
       |SELECT CASE WHEN id_b % 50 IN (48, 49) THEN id_b ELSE id_a END AS id_new,
       |  CASE WHEN id_b % 50 IN (48, 49) THEN id_a ELSE id_b END AS id_old,
       |  jaccard
       |FROM v
       |WHERE (id_a % 50 IN (48, 49)) <> (id_b % 50 IN (48, 49))
       |  AND jaccard >= 0.5
       |ORDER BY id_new, id_old""".stripMargin

  /** Generated oracle for [[graft.similarity.Similarity.ivfRecallCurve]]:
    * brute-force ground truth once, probe ranking once at max(nProbes)
    * depth, then per-level top-k + hit counts and the same monotonicity
    * window. All shared CTEs materialized (each feeds every level).
    */
  def ivfCurveOracle(queryPred: String, k: Int, nCells: Int,
                     probes: Seq[Int]): String = {
    val maxP = probes.max
    val levels = probes.map { p =>
      s"""  SELECT CAST($p AS BIGINT) AS n_probe, (
         |    SELECT CAST(count(*) AS BIGINT) FROM (
         |      SELECT query_id, corpus_id FROM (
         |        SELECT query_id, corpus_id,
         |          row_number() OVER (PARTITION BY query_id
         |            ORDER BY sim DESC, corpus_id) AS rk
         |        FROM scored WHERE probe_rn <= $p) WHERE rk <= $k) t
         |    JOIN exact USING (query_id, corpus_id)) AS n_hits""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${kmeansCtes(nCells)},
       |q AS MATERIALIZED (
       |  SELECT b.vec_id AS query_id, b.embedding AS qv FROM base b
       |  WHERE $queryPred),
       |exact AS MATERIALIZED (
       |  SELECT query_id, corpus_id FROM (
       |    SELECT q.query_id, c.vec_id AS corpus_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosineSql("c.embedding", "q.qv")} DESC, c.vec_id) AS rn
       |    FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
       |  WHERE rn <= $k),
       |probes AS MATERIALIZED (
       |  SELECT query_id, cell, rn FROM (
       |    SELECT q.query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosineSql("q.qv", "c.cv")} DESC, c.cell) AS rn
       |    FROM q CROSS JOIN cent1 c)
       |  WHERE rn <= $maxP),
       |scored AS MATERIALIZED (
       |  SELECT p.query_id, p.rn AS probe_rn, a.corpus_id,
       |    ${cosineSql("ce.embedding", "p2.qv")} AS sim
       |  FROM assign1 a JOIN probes p USING (cell)
       |  JOIN embeddings ce ON ce.vec_id = a.corpus_id
       |  JOIN q p2 ON p2.query_id = p.query_id
       |  WHERE a.corpus_id <> p.query_id),
       |curve AS (
       |$levels)
       |SELECT n_probe, n_hits,
       |  COALESCE(n_hits >= max(n_hits) OVER (ORDER BY n_probe
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE)
       |    AS monotone_ok
       |FROM curve ORDER BY n_probe""".stripMargin
  }

  /** Generated oracle for [[graft.similarity.Similarity.pqTopK]]: replays
    * micros, sign-seed cells, truncating-mean codebooks, argmin encode and
    * the ADC sum from first principles — the `dist` CTE doubles as both
    * the encode distances and the query distance tables, exactly as the
    * operator defines them. Integer end to end: no float anywhere.
    */
  def pqOracle(queryPred: String, k: Int, m: Int, dim: Int): String = {
    val sub = dim / m
    val cellSql = (0 until 4).map(j =>
      s"(CASE WHEN v[((i-1)//$sub)*$sub+${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH vm AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex AS MATERIALIZED (
       |  SELECT vec_id, (i-1)//$sub AS s, i AS pos, v[i] AS x,
       |    $cellSql AS cell
       |  FROM vm, LATERAL (SELECT unnest(range(1, ${dim + 1})) AS i) r),
       |cb AS MATERIALIZED (
       |  SELECT s, cell, pos, CAST(sum(x) AS BIGINT) // count(*) AS cu
       |  FROM ex GROUP BY s, cell, pos),
       |dist AS MATERIALIZED (
       |  SELECT e.vec_id, e.s, c.cell,
       |    CAST(sum((e.x - c.cu) * (e.x - c.cu)) AS BIGINT) AS d
       |  FROM ex e JOIN cb c ON c.s = e.s AND c.pos = e.pos
       |  GROUP BY e.vec_id, e.s, c.cell),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cell) AS rn
       |    FROM dist) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id FROM embeddings b WHERE $queryPred),
       |adc AS (
       |  SELECT d.vec_id AS query_id, c.vec_id AS corpus_id,
       |    CAST(sum(d.d) AS BIGINT) AS adist
       |  FROM codes c
       |  JOIN dist d ON d.s = c.s AND d.cell = c.code
       |  JOIN q ON q.query_id = d.vec_id
       |  WHERE c.vec_id <> d.vec_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, corpus_id, adist FROM (
       |  SELECT query_id, corpus_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, corpus_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Generated oracle for [[graft.similarity.Similarity.ivfPqTopK]]:
    * first principles, integer end to end — leading-sign coarse seeds,
    * truncating-mean centroids, one Lloyd reassignment by integer L2,
    * per-vector RESIDUALS, PQ codebooks/codes on the residuals, query
    * probes + per-probed-cell ADC tables, ranked ADC sums.
    */
  def ivfPqOracle(queryPred: String, k: Int, nCells: Int, nProbe: Int,
                  m: Int, dim: Int): String =
    ivfPqStateOracle(queryPred, k, nCells, nProbe, m, dim, trainPred = "TRUE")

  /** [[ivfPqOracle]] with a TRAIN/ENCODE split (q226): centroids and PQ
    * codebooks are learned only from rows satisfying `trainPred` (use
    * the bare token VID for the vector id — it is alias-qualified per
    * CTE), while assignment, residuals, codes, probes, and ADC cover the
    * full corpus — the frozen-model incremental-ingest replay.
    */
  /** The coarse-quantizer CTE prefix shared by the IVF+PQ replays:
    * micros vectors, per-dim explode, centroids trained on `trainPred`
    * rows (bare token VID = the vector id, alias-qualified), distances,
    * and the full-corpus assignment. Callers append their own tail.
    */
  private def ivfPqCoarseCtes(nCells: Int, dim: Int,
                              trainPred: String): String = {
    val cplanes = java.lang.Integer.numberOfTrailingZeros(nCells)
    val seed = (0 until cplanes)
      .map(j => s"(CASE WHEN v[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")
    s"""vm AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding,
       |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |ex0 AS MATERIALIZED (
       |  SELECT vec_id, i, v[i] AS x, $seed AS cell0
       |  FROM vm, LATERAL (SELECT unnest(range(1, ${dim + 1})) AS i) r),
       |cc AS MATERIALIZED (
       |  SELECT cell0 AS cell, i, CAST(sum(x) AS BIGINT) // count(*) AS cu
       |  FROM ex0 WHERE ${trainPred.replace("VID", "ex0.vec_id")}
       |  GROUP BY 1, 2),
       |cd AS MATERIALIZED (
       |  SELECT e.vec_id, c.cell,
       |    CAST(sum((e.x - c.cu) * (e.x - c.cu)) AS BIGINT) AS d
       |  FROM ex0 e JOIN cc c ON c.i = e.i GROUP BY 1, 2),
       |asg AS MATERIALIZED (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM cd) WHERE rn = 1)""".stripMargin
  }

  private def ivfPqStateOracle(queryPred: String, k: Int, nCells: Int,
                               nProbe: Int, m: Int, dim: Int,
                               trainPred: String): String = {
    val sub = dim / m
    s"""WITH ${ivfPqCoarseCtes(nCells, dim, trainPred)},
       |rex AS MATERIALIZED (
       |  SELECT e.vec_id, a.cell, (e.i - 1) // $sub AS s, e.i AS pos,
       |    e.x - c.cu AS xr
       |  FROM ex0 e JOIN asg a USING (vec_id)
       |  JOIN cc c ON c.cell = a.cell AND c.i = e.i),
       |pcell AS MATERIALIZED (
       |  SELECT vec_id, s,
       |    CAST(sum(CASE WHEN (pos - 1) % $sub < 4 AND xr >= 0
       |      THEN (1 << CAST((pos - 1) % $sub AS INT)) ELSE 0 END) AS BIGINT)
       |      AS pc
       |  FROM rex GROUP BY 1, 2),
       |cb AS MATERIALIZED (
       |  SELECT r.s, p.pc AS cell, r.pos,
       |    CAST(sum(r.xr) AS BIGINT) // count(*) AS cu
       |  FROM rex r JOIN pcell p ON p.vec_id = r.vec_id AND p.s = r.s
       |  WHERE ${trainPred.replace("VID", "r.vec_id")}
       |  GROUP BY 1, 2, 3),
       |pdist AS MATERIALIZED (
       |  SELECT r.vec_id, r.s, c.cell,
       |    CAST(sum((r.xr - c.cu) * (r.xr - c.cu)) AS BIGINT) AS d
       |  FROM rex r JOIN cb c ON c.s = r.s AND c.pos = r.pos
       |  GROUP BY 1, 2, 3),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cell) AS rn
       |    FROM pdist) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id FROM embeddings b WHERE $queryPred),
       |probes AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cell FROM (
       |    SELECT cd.vec_id, cd.cell,
       |      row_number() OVER (PARTITION BY cd.vec_id ORDER BY d, cell) AS rn
       |    FROM cd JOIN q ON q.query_id = cd.vec_id)
       |  WHERE rn <= $nProbe),
       |qrex AS MATERIALIZED (
       |  SELECT p.query_id, p.cell, (e.i - 1) // $sub AS s, e.i AS pos,
       |    e.x - c.cu AS xr
       |  FROM probes p JOIN ex0 e ON e.vec_id = p.query_id
       |  JOIN cc c ON c.cell = p.cell AND c.i = e.i),
       |qdist AS MATERIALIZED (
       |  SELECT r.query_id, r.cell, r.s, cb.cell AS pqc,
       |    CAST(sum((r.xr - cb.cu) * (r.xr - cb.cu)) AS BIGINT) AS d
       |  FROM qrex r JOIN cb ON cb.s = r.s AND cb.pos = r.pos
       |  GROUP BY 1, 2, 3, 4),
       |adc AS (
       |  SELECT qd.query_id, co.vec_id AS corpus_id,
       |    CAST(sum(qd.d) AS BIGINT) AS adist
       |  FROM codes co JOIN asg a ON a.vec_id = co.vec_id
       |  JOIN qdist qd ON qd.cell = a.cell AND qd.s = co.s
       |    AND qd.pqc = co.code
       |  WHERE co.vec_id <> qd.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, corpus_id, adist FROM (
       |  SELECT query_id, corpus_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, corpus_id) AS BIGINT) AS rank
       |  FROM adc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  def ivfOracle(queryPred: String, k: Int, nCells: Int, nProbe: Int): String = {
    s"""WITH ${kmeansCtes(nCells)},
       |probes AS (
       |  SELECT cell, query_id FROM (
       |    SELECT c.cell, b.vec_id AS query_id,
       |      row_number() OVER (PARTITION BY b.vec_id
       |        ORDER BY ${cosineSql("b.embedding", "c.cv")} DESC, c.cell) AS rn
       |    FROM base b CROSS JOIN cent1 c WHERE $queryPred)
       |  WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT p.query_id, a.corpus_id, ${cosineSql("ce.embedding", "qe.embedding")} AS sim
       |  FROM assign1 a JOIN probes p USING (cell)
       |  JOIN embeddings ce ON ce.vec_id = a.corpus_id
       |  JOIN embeddings qe ON qe.vec_id = p.query_id
       |  WHERE a.corpus_id <> p.query_id)
       |SELECT query_id, rank, corpus_id, sim FROM (
       |  SELECT query_id, corpus_id, sim,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INT) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q249_cluster_mixture" ->
      s"""WITH ${kmeansCtes(16)},
         |lab AS (
         |  SELECT CAST(a.cell AS BIGINT) AS cell, e.label, count(*) AS n
         |  FROM assign1 a JOIN embeddings e ON e.vec_id = a.corpus_id
         |  GROUP BY 1, 2),
         |tot AS (SELECT cell, sum(n) AS cn FROM lab GROUP BY 1)
         |SELECT cell, label, CAST(n AS BIGINT) AS n,
         |  CAST((n * 10000) // cn AS BIGINT) AS share_bp
         |FROM lab JOIN tot USING (cell)
         |ORDER BY cell, label""".stripMargin,

    "q250_embedding_norm_check" ->
      """WITH d AS (
        |  SELECT label, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS du
        |  FROM embeddings),
        |v AS (
        |  SELECT label, abs(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, 65), i -> du[i] * du[i])),
        |    (a, b) -> a + b) - 1000000000000) AS dev
        |  FROM d)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(dev) AS BIGINT) AS sum_absdev,
        |  CAST(max(dev) AS BIGINT) AS max_absdev,
        |  CAST(sum(CASE WHEN dev > 1000000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_offunit
        |FROM v GROUP BY label ORDER BY label""".stripMargin,

    // Signatures computed once; per-config band folds bit-replay
    // Dedup.minhashBands (same seeded hashes, same 1000003 fold); truth
    // is the exact shingle-hash Jaccard on the same 400-doc panel.
    "q260_minhash_recall" -> {
      val sigExprs = (0 until 16).map { i =>
        s"list_min(list_transform(hs, h -> (${Dedup.hashA(i)} * h + ${Dedup.hashB(i)}) % $P)) AS s$i"
      }.mkString(",\n    ")
      def bandExpr(nb: Int, b: Int): String = {
        val rpb = 16 / nb
        (0 until rpb).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
          s"(($acc * 1000003 + s${b * rpb + r}) % $P)"
        }
      }
      def candCte(nb: Int): String =
        s"""bands$nb AS (
           |  SELECT doc_id, unnest([${(0 until nb).mkString(", ")}]) AS band,
           |    unnest([${(0 until nb).map(b => bandExpr(nb, b)).mkString(", ")}]) AS bh
           |  FROM sigs),
           |cand$nb AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands$nb a JOIN bands$nb b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)""".stripMargin
      s"""WITH $zipfCorpusCte,
         |panel AS (SELECT doc_id, text FROM zdocs WHERE doc_id < 400),
         |${shingleCtes(3, from = "panel")},
         |sigs AS MATERIALIZED (SELECT doc_id, $sigExprs FROM h),
         |truth AS MATERIALIZED (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM h a JOIN h b ON a.doc_id < b.doc_id
         |  WHERE ${jaccardSql("a.hs", "b.hs")} >= 0.5),
         |${Seq(2, 4, 8).map(candCte).mkString(",\n")},
         |u AS (${Seq(2, 4, 8)
            .map(nb => s"SELECT $nb AS n_bands, id_a, id_b FROM cand$nb")
            .mkString(" UNION ALL ")})
         |SELECT CAST(n_bands AS BIGINT) AS n_bands,
         |  CAST(count(*) AS BIGINT) AS n_candidates,
         |  (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
         |  CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_found,
         |  CAST((10000 * sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END))
         |    // (SELECT count(*) FROM truth) AS BIGINT) AS recall_bp
         |FROM u LEFT JOIN truth t ON u.id_a = t.id_a AND u.id_b = t.id_b
         |GROUP BY n_bands ORDER BY n_bands""".stripMargin
    },

    "q131_zipf_neardups" ->
      s"""WITH $zipfCorpusCte,
         |${minhashCtes(3, 16, 4, from = "zdocs")}
         |SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "q132_zipf_clusters" ->
      s"""WITH RECURSIVE $zipfCorpusCte,
         |${minhashCtes(3, 16, 4, from = "zdocs")},
         |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a AS node, a AS r FROM sym
         |  UNION
         |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
         |SELECT component, count(*) AS n_docs FROM lab
         |GROUP BY component ORDER BY component""".stripMargin,

    "q139_cluster_split" ->
      s"""WITH RECURSIVE $zipfCorpusCte,
         |${minhashCtes(3, 16, 4, from = "zdocs")},
         |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a AS node, a AS r FROM sym
         |  UNION
         |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |rep AS (
         |  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS rep
         |  FROM zdocs d LEFT JOIN lab l ON l.node = d.doc_id),
         |assigned AS (
         |  SELECT doc_id,
         |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          ${CharHash.duckdbSql("CAST(rep AS VARCHAR)")} % 100 AS h FROM rep))
         |SELECT split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    // The full-corpus banding restricted to CROSS-class pairs (exactly one
    // side in the batch residues): identical candidate generation to the
    // engine's two-sided join, oriented by class membership, not id order.
    "q138_incr_neardup" -> incrNearDupOracle,

    // The persisted-state path must produce the IDENTICAL answer to the
    // in-plan path — state is a materialization, not a semantic change.
    "q140_state_neardup" -> incrNearDupOracle,

    // q139's closure + representative hash, extended with the realized-
    // fraction arithmetic (basis points, integer) and the ±5% boolean.
    "q141_split_fractions" ->
      s"""WITH RECURSIVE $zipfCorpusCte,
         |${minhashCtes(3, 16, 4, from = "zdocs")},
         |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a AS node, a AS r FROM sym
         |  UNION
         |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |rep AS (
         |  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS rep
         |  FROM zdocs d LEFT JOIN lab l ON l.node = d.doc_id),
         |assigned AS (
         |  SELECT doc_id,
         |    CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM (SELECT doc_id,
         |          ${CharHash.duckdbSql("CAST(rep AS VARCHAR)")} % 100 AS h FROM rep)),
         |counts AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs
         |           FROM assigned GROUP BY split),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS t FROM counts)
         |SELECT split, n_docs,
         |  CAST(round(n_docs * 10000.0 / t) AS BIGINT) AS frac_bp,
         |  abs(CAST(round(n_docs * 10000.0 / t) AS BIGINT) -
         |      CASE split WHEN 'train' THEN 8000 WHEN 'val' THEN 1000
         |           ELSE 1000 END) <= 500 AS within_tol
         |FROM counts CROSS JOIN tot ORDER BY split""".stripMargin,

    "q143_ivf_recall_curve" -> ivfCurveOracle("b.vec_id < 20", 5, 16, Seq(1, 2, 4)),

    "q31_ngram_jaccard" -> minhashOracleSql(2, 16, 8, 0.7),

    "q32_minhash_neardups" -> minhashOracleSql(3, 16, 4, 0.5),

    "q303_threshold_sweep" ->
      s"""WITH ${minhashCtes(3, 16, 4)},
         |kept AS MATERIALIZED (
         |  SELECT id_a, id_b, jaccard FROM v WHERE jaccard >= 0.5),
         |sw AS MATERIALIZED (
         |  SELECT t.threshold_bp, k.id_a, k.id_b
         |  FROM kept k
         |  JOIN (SELECT unnest([5000, 6000, 7000, 8000, 9000])
         |          AS threshold_bp) t
         |    ON k.jaccard * 10000 >= t.threshold_bp),
         |np AS (SELECT threshold_bp, CAST(count(*) AS BIGINT) AS n_pairs
         |       FROM sw GROUP BY 1),
         |nd AS (
         |  SELECT threshold_bp, CAST(count(*) AS BIGINT) AS n_docs FROM (
         |    SELECT DISTINCT threshold_bp, id FROM (
         |      SELECT threshold_bp, id_a AS id FROM sw
         |      UNION ALL SELECT threshold_bp, id_b FROM sw))
         |  GROUP BY 1)
         |SELECT CAST(threshold_bp AS BIGINT) AS threshold_bp, n_pairs, n_docs
         |FROM np JOIN nd USING (threshold_bp)
         |ORDER BY threshold_bp""".stripMargin,

    "q77_neardup_clusters" -> minhashClusterOracleSql(3, 16, 4, 0.5),

    "q125_keep_best" -> minhashKeepBestOracleSql(3, 16, 4, 0.5),

    // The bloom prefilter is result-transparent: the oracle is the exact
    // overlap SQL (q88's shape + the summed overlap mass).
    "q243_bloom_decontam" ->
      s"""WITH ${shingleCtes(3, " lang,")},
         |bench AS (SELECT DISTINCT unnest(hs) AS bh FROM h WHERE doc_id % 97 = 0),
         |corp AS (SELECT doc_id, unnest(hs) AS ch FROM h WHERE doc_id % 97 <> 0),
         |ov AS (
         |  SELECT doc_id, count(*) AS n_overlap
         |  FROM corp JOIN bench ON corp.ch = bench.bh GROUP BY doc_id)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN COALESCE(ov.n_overlap, 0) >= 2 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  CAST(sum(COALESCE(ov.n_overlap, 0)) AS BIGINT) AS sum_overlap
         |FROM h LEFT JOIN ov USING (doc_id)
         |WHERE doc_id % 97 <> 0
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // The funnel replayed stage by stage. Clustering runs on corpus-only
    // pairs: band keys are per-doc, so restricting the verified pair set
    // to corpus endpoints equals clustering the corpus alone — no bench
    // doc can bridge two corpus clusters. The shared `h` CTE then serves
    // both decontamination sides.
    "q242_corpus_build" ->
      s"""WITH RECURSIVE ${minhashCtes(3, 16, 4)},
         |p AS (SELECT id_a, id_b FROM v
         |      WHERE jaccard >= 0.5 AND id_a % 97 <> 0 AND id_b % 97 <> 0),
         |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a AS node, a AS r FROM sym
         |  UNION
         |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |corp AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
         |qual AS (
         |  SELECT doc_id, lang,
         |    CAST(round((${TextQueries.qualitySql}) * 1000000.0) AS BIGINT) AS q_u
         |  FROM corp),
         |keep1 AS (
         |  SELECT doc_id FROM corp WHERE doc_id NOT IN (SELECT node FROM lab)
         |  UNION ALL
         |  SELECT node AS doc_id FROM (
         |    SELECT lab.node, row_number() OVER (PARTITION BY component
         |      ORDER BY q_u DESC, node ASC) AS rn
         |    FROM lab JOIN qual ON qual.doc_id = lab.node)
         |  WHERE rn = 1),
         |d1 AS (SELECT q.doc_id, q.lang, q.q_u
         |       FROM keep1 k JOIN qual q ON q.doc_id = k.doc_id),
         |d2 AS (SELECT * FROM d1 WHERE q_u >= 700000),
         |bsh AS (SELECT DISTINCT unnest(hs) AS bh FROM h WHERE doc_id % 97 = 0),
         |csh AS (SELECT doc_id, unnest(hs) AS ch FROM h WHERE doc_id % 97 <> 0),
         |ov AS (SELECT doc_id, count(*) AS n_overlap
         |       FROM csh JOIN bsh ON csh.ch = bsh.bh GROUP BY doc_id),
         |d3 AS (SELECT d2.doc_id, d2.lang FROM d2 LEFT JOIN ov USING (doc_id)
         |       WHERE COALESCE(ov.n_overlap, 0) < 2),
         |f0 AS (SELECT lang, count(*) AS n_raw FROM corp GROUP BY 1),
         |f1 AS (SELECT lang, count(*) AS n_dedup FROM d1 GROUP BY 1),
         |f2 AS (SELECT lang, count(*) AS n_quality FROM d2 GROUP BY 1),
         |f3 AS (SELECT d3.lang, count(*) AS n_final,
         |         sum(len(string_split(c.text, ' '))) AS toks
         |       FROM d3 JOIN corp c ON c.doc_id = d3.doc_id GROUP BY 1)
         |SELECT f0.lang, f0.n_raw,
         |  CAST(COALESCE(f1.n_dedup, 0) AS BIGINT) AS n_dedup,
         |  CAST(COALESCE(f2.n_quality, 0) AS BIGINT) AS n_quality,
         |  CAST(COALESCE(f3.n_final, 0) AS BIGINT) AS n_final,
         |  CAST(COALESCE(f3.toks, 0) AS BIGINT) AS toks_final
         |FROM f0 LEFT JOIN f1 USING (lang) LEFT JOIN f2 USING (lang)
         |  LEFT JOIN f3 USING (lang)
         |ORDER BY f0.lang""".stripMargin,

    // Text-equality semantics: the engine dedups on a 3-component
    // content fingerprint (len, xxhash64, charHash); the oracle states
    // the contract directly as a NOT EXISTS on the text.
    "q109_incr_dedup" ->
      """WITH batch AS (
        |  SELECT doc_id + 100000 AS doc_id, text, lang FROM documents
        |  WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text || ' update v2' AS text, lang
        |  FROM documents WHERE doc_id % 7 = 3)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM batch b
        |WHERE NOT EXISTS (SELECT 1 FROM documents h WHERE h.text = b.text)
        |ORDER BY doc_id""".stripMargin,

    "q88_decontaminate" ->
      s"""WITH ${shingleCtes(3, " lang,")},
         |bench AS (SELECT DISTINCT unnest(hs) AS bh FROM h WHERE doc_id % 97 = 0),
         |corp AS (SELECT doc_id, unnest(hs) AS ch FROM h WHERE doc_id % 97 <> 0),
         |ov AS (
         |  SELECT doc_id, count(*) AS n_overlap
         |  FROM corp JOIN bench ON corp.ch = bench.bh GROUP BY doc_id)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN COALESCE(ov.n_overlap, 0) >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_contaminated
         |FROM h LEFT JOIN ov USING (doc_id)
         |WHERE doc_id % 97 <> 0
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // Per-eval-doc distinct-5-gram overlap vs the train split's hash set,
    // same charHash both sides so the join replays bit-for-bit.
    "q240_contamination_report" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, doc_id % 97 = 0 AS is_eval,
         |    string_split(text, ' ') AS w
         |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
         |s AS MATERIALIZED (
         |  SELECT doc_id, lang, is_eval,
         |    ${CharHash.duckdbSql("w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] || ' ' || " +
            "w[i + 3] || ' ' || w[i + 4]")} AS h
         |  FROM t, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r),
         |tv AS (SELECT DISTINCT h FROM s WHERE NOT is_eval),
         |ev AS (SELECT DISTINCT doc_id, lang, h FROM s WHERE is_eval),
         |per AS (
         |  SELECT ev.doc_id, ev.lang, count(*) AS n_shingles,
         |    sum(CASE WHEN tv.h IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM ev LEFT JOIN tv ON tv.h = ev.h GROUP BY 1, 2),
         |d AS (SELECT lang, n_hit,
         |  n_hit * 10000 // n_shingles AS contam_bp FROM per)
         |SELECT lang, count(*) AS n_eval_docs,
         |  CAST(sum(n_hit) AS BIGINT) AS sum_hits,
         |  CAST(sum(contam_bp) // count(*) AS BIGINT) AS mean_contam_bp,
         |  CAST(sum(CASE WHEN contam_bp >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_simhash" ->
      s"""SELECT doc_id, sig FROM (${simhashSigSql()}) WHERE doc_id < 50 ORDER BY doc_id""",

    "q34_simhash_pairs" ->
      s"""WITH s AS (${simhashSigWideSql()}),
         |${simhashPairSql(2)}""".stripMargin,

    // SimHash under REALISTIC selectivity: exact-dup family members
    // (hamming 0) must surface through the banding; the single-token near
    // dups mostly do NOT — a 1-of-40-token edit flips every signature bit
    // whose vote margin it decides (~a third of them), which is simhash's
    // honest behavior on short documents. The oracle replays the identical
    // banding, so the gate pins the recall physics, not a wishful 100%.
    "q135_zipf_simhash" ->
      s"""WITH $zipfCorpusCte,
         |s AS (${simhashSigWideSql("zdocs")}),
         |${simhashPairSql(3)}""".stripMargin,

    "q149_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
         |           FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS cv, label AS cl FROM embeddings),
         |scored AS (
         |  SELECT query_id, corpus_id, cl, ${cosineSql("cv", "qv")} AS sim
         |  FROM c CROSS JOIN q WHERE corpus_id <> query_id AND cl <> ql),
         |ranked AS (
         |  SELECT query_id, corpus_id, cl, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, corpus_id, cl AS neg_label, sim
         |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,

    // Integer-milli vectors, truncating-mean centroid ( // ≡ Spark div:
    // both truncate toward zero, verified on negatives), IEEE sqrt/div
    // last.
    "q153_label_coherence" ->
      """WITH d AS (
        |  SELECT vec_id AS id, label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS du
        |  FROM embeddings),
        |comp AS (
        |  SELECT label, i, CAST(sum(du[i]) AS BIGINT) AS su,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM d, LATERAL (SELECT unnest(range(1, 65)) AS i) r
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(su // n ORDER BY i) AS cu FROM comp GROUP BY label),
        |scored AS (
        |  SELECT d.label,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65), i -> du[i] * cu[i])),
        |      (acc, x) -> acc + x) AS dot,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65), i -> du[i] * du[i])),
        |      (acc, x) -> acc + x) AS nd,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(1, 65), i -> cu[i] * cu[i])),
        |      (acc, x) -> acc + x) AS nc
        |  FROM d JOIN cent USING (label)),
        |cosd AS (
        |  SELECT label,
        |    CASE WHEN nd = 0 OR nc = 0 THEN 0.0
        |         ELSE CAST(dot AS DOUBLE) /
        |           (sqrt(CAST(nd AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE))) END AS cos
        |  FROM scored)
        |SELECT label, count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN cos < 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  min(cos) AS min_cos, max(cos) AS max_cos
        |FROM cosd GROUP BY label ORDER BY label""".stripMargin,

    "q160_pq_adc" -> pqOracle("b.vec_id < 5", k = 10, m = 8, dim = 64),

    "q176_ivfpq" -> ivfPqOracle("b.vec_id < 5", k = 10, nCells = 16,
      nProbe = 4, m = 8, dim = 64),

    // distributed variants: identical semantics, identical oracles
    "q177_pq_adc_dist" -> pqOracle("b.vec_id < 5", k = 10, m = 8, dim = 64),

    "q178_ivfpq_dist" -> ivfPqOracle("b.vec_id < 5", k = 10, nCells = 16,
      nProbe = 4, m = 8, dim = 64),

    // train-on-history / encode-all frozen-model replay (state form)
    "q226_ivfpq_incr" -> ivfPqStateOracle("b.vec_id < 5", k = 10,
      nCells = 16, nProbe = 4, m = 8, dim = 64,
      trainPred = "VID % 10 <> 7"),

    // same frozen coarse model; census of the full-corpus assignment
    "q228_ivf_cell_balance" ->
      s"""WITH ${ivfPqCoarseCtes(16, 64, "VID % 10 <> 7")}
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(count(*) AS BIGINT) AS n_vecs
         |FROM asg GROUP BY 1 ORDER BY 1""".stripMargin,

    "q154_multiprobe_recall" -> {
      def level(p: Int): String = {
        val probeSet = (Seq("q.qb") ++ (0 until p - 1).map(i =>
          s"xor(q.qb, CAST(${1L << i} AS BIGINT))")).mkString(", ")
        s"""SELECT $p AS n_probe, CAST(count(*) AS BIGINT) AS n_hits
           |FROM (
           |  SELECT query_id, corpus_id FROM (
           |    SELECT q.query_id, c.corpus_id,
           |      row_number() OVER (PARTITION BY q.query_id
           |        ORDER BY ${cosineSql("c.cv", "q.qv")} DESC, c.corpus_id) AS rn
           |    FROM c JOIN q
           |      ON c.bucket IN ($probeSet) AND c.corpus_id <> q.query_id)
           |  WHERE rn <= 5) a
           |JOIN exact USING (query_id, corpus_id)""".stripMargin
      }
      s"""WITH b AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 6)} AS bucket
         |  FROM embeddings),
         |c AS (SELECT bucket, vec_id AS corpus_id, embedding AS cv FROM b),
         |q AS (SELECT bucket AS qb, vec_id AS query_id, embedding AS qv
         |      FROM b WHERE vec_id < 20),
         |exact AS MATERIALIZED (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c2.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("c2.embedding", "q.qv")} DESC, c2.vec_id) AS rn
         |    FROM embeddings c2 CROSS JOIN q WHERE c2.vec_id <> q.query_id)
         |  WHERE rn <= 5),
         |lvl AS (
         |${level(1)}
         |UNION ALL
         |${level(3)})
         |SELECT CAST(n_probe AS BIGINT) AS n_probe, n_hits,
         |  coalesce(n_hits >= max(n_hits) OVER (ORDER BY n_probe
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), true) AS monotone_ok
         |FROM lvl ORDER BY n_probe""".stripMargin
    },

    "q151_softdedup_weights" ->
      s"""WITH RECURSIVE $zipfCorpusCte,
         |${minhashCtes(3, 16, 4, from = "zdocs")},
         |p AS (SELECT id_a, id_b FROM v WHERE jaccard >= 0.5),
         |sym AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT a AS node, a AS r FROM sym
         |  UNION
         |  SELECT s2.a, reach.r FROM sym s2 JOIN reach ON reach.node = s2.b),
         |lab AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS n FROM lab GROUP BY component),
         |m AS (SELECT l.node AS doc_id, sz.n FROM lab l JOIN sz USING (component)),
         |w AS (
         |  SELECT d.doc_id, d.source,
         |    COALESCE(1000000 // m.n, 1000000) AS w_u
         |  FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs, CAST(sum(w_u) AS BIGINT) AS eff_size_u
         |FROM w GROUP BY source ORDER BY source""".stripMargin,

    // distributed brute-force: identical semantics, identical oracle
    "q227_ann_brute_dist" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, corpus_id, ${cosineSql("cv", "qv")} AS sim
         |  FROM c CROSS JOIN q WHERE corpus_id <> query_id),
         |ranked AS (
         |  SELECT query_id, corpus_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, corpus_id, sim FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "q35_ann_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS corpus_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT query_id, corpus_id, ${cosineSql("cv", "qv")} AS sim
         |  FROM c CROSS JOIN q WHERE corpus_id <> query_id),
         |ranked AS (
         |  SELECT query_id, corpus_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, corpus_id) AS INT) AS rank
         |  FROM scored)
         |SELECT query_id, rank, corpus_id, sim FROM ranked WHERE rank <= 3
         |ORDER BY query_id, rank""".stripMargin,

    "q124_ann_recall" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 4)} AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qb
         |      FROM b WHERE vec_id < 20),
         |exact AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("c.embedding", "q.qv")} DESC, c.vec_id) AS rn
         |    FROM embeddings c CROSS JOIN q WHERE c.vec_id <> q.query_id)
         |  WHERE rn <= 5),
         |approx AS (
         |  SELECT query_id, corpus_id FROM (
         |    SELECT q.query_id, c2.vec_id AS corpus_id,
         |      row_number() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosineSql("c2.embedding", "q.qv")} DESC, c2.vec_id) AS rn
         |    FROM b c2 JOIN q ON c2.bucket = q.qb WHERE c2.vec_id <> q.query_id)
         |  WHERE rn <= 5),
         |hits AS (
         |  SELECT e.query_id, count(*) AS n_hits FROM exact e JOIN approx a
         |  ON a.query_id = e.query_id AND a.corpus_id = e.corpus_id
         |  GROUP BY e.query_id)
         |SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
         |FROM q LEFT JOIN hits h ON h.query_id = q.query_id
         |ORDER BY q.query_id""".stripMargin,

    "q122_sq8_quantize" ->
      """WITH dims AS (SELECT unnest(range(1, 65)) AS i),
        |stats AS (
        |  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
        |         max(CAST(embedding[i] AS DOUBLE)) AS mx
        |  FROM embeddings, dims GROUP BY i),
        |sarr AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
        |         FROM stats),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(range(1, 65), i ->
        |      CASE WHEN mxs[i] = mns[i] THEN 0
        |        ELSE CAST(round((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255
        |          / (mxs[i] - mns[i])) AS BIGINT) END) AS cs
        |  FROM embeddings CROSS JOIN sarr)
        |SELECT vec_id AS id, CAST(list_sum(cs) AS BIGINT) AS code_sum,
        |  CAST(list_min(cs) AS BIGINT) AS code_min,
        |  CAST(list_max(cs) AS BIGINT) AS code_max,
        |  true AS cos_ok
        |FROM q ORDER BY id""".stripMargin,

    "q116_semantic_dedup" ->
      s"""WITH ${kmeansCtes(16)},
         |pairs AS (
         |  SELECT a.cell, a.corpus_id AS id_a, b.corpus_id AS id_b
         |  FROM assign1 a JOIN assign1 b
         |    ON a.cell = b.cell AND a.corpus_id < b.corpus_id),
         |pc AS (
         |  SELECT p.cell, p.id_b, ${cosineSql("ea.embedding", "eb.embedding")} AS c
         |  FROM pairs p
         |  JOIN embeddings ea ON ea.vec_id = p.id_a
         |  JOIN embeddings eb ON eb.vec_id = p.id_b),
         |dropped AS (SELECT DISTINCT cell, id_b AS id FROM pc WHERE c >= 0.4)
         |SELECT s.corpus_id AS id, s.cell, (d.id IS NULL) AS keep
         |FROM assign1 s LEFT JOIN dropped d
         |  ON d.cell = s.cell AND d.id = s.corpus_id
         |ORDER BY id""".stripMargin,

    // Plane count mirrors the Spark side's occupancy-scaled rule:
    // p = bitLength((n−1) div 79) clamped to [8, 20], computed with pure
    // integer comparisons (bitLenSql; no floating-point LOG2 — ADVICE
    // r17). The 20-plane bucket is a superset — plane q depends only on
    // q — so masking its low p bits reproduces the p-plane bucket exactly.
    "q36_embedding_neardups" ->
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT vec_id AS id, embedding AS v, ${bucketSql("embedding", 20)} AS bucket0
         |  FROM embeddings),
         |pv AS (
         |  SELECT GREATEST(8, LEAST(20, ${bitLenSql("(count(*) - 1) // 79")})) AS p
         |  FROM e0),
         |e AS MATERIALIZED (
         |  SELECT id, v,
         |    bucket0 & ((CAST(1 AS BIGINT) << CAST(p AS INTEGER)) - 1) AS bucket
         |  FROM e0, pv)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b, ${cosineSql("a.v", "b.v")} AS cosine
         |FROM e a JOIN e b ON a.bucket = b.bucket AND a.id < b.id
         |WHERE ${cosineSql("a.v", "b.v")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // Band width w mirrors the Spark side's occupancy-scaled rule:
    // w = bitLength((n−1) div 1250) clamped to [4, 15] — pure integer
    // comparisons on both engines (bitLenSql; the earlier
    // FLOOR(LOG2(double)) form risked an off-by-one if LOG2 landed
    // fractionally below an exact power of two — ADVICE r17). The
    // 60-plane bucket is a superset: plane p depends only on p, so bits
    // [0, 4w) equal the old 16-plane bucket's whenever w = 4.
    "q273_bitext_mining" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT v.vec_id AS id, v.embedding AS emb, d.lang, d.n_chars,
         |    ${bucketSql("v.embedding", 60)} AS bucket
         |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id),
         |wv AS (
         |  SELECT GREATEST(4, LEAST(15, ${bitLenSql("(count(*) - 1) // 1250")})) AS w
         |  FROM e),
         |bandd AS (
         |  SELECT id, emb, lang, n_chars, band,
         |    (bucket >> CAST(band * w AS INTEGER))
         |      & ((CAST(1 AS BIGINT) << CAST(w AS INTEGER)) - 1) AS sig
         |  FROM e, wv, LATERAL (SELECT unnest(range(0, 4)) AS band) r)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  a.lang AS lang_a, b.lang AS lang_b,
         |  ${cosineSql("a.emb", "b.emb")} AS cosine,
         |  (10000 * least(a.n_chars, b.n_chars))
         |    // greatest(a.n_chars, b.n_chars) AS len_ratio_bp,
         |  (10000 * least(a.n_chars, b.n_chars))
         |    // greatest(a.n_chars, b.n_chars) >= 5000 AS keep
         |FROM bandd a JOIN bandd b
         |  ON a.band = b.band AND a.sig = b.sig
         |    AND a.id < b.id AND a.lang < b.lang
         |WHERE ${cosineSql("a.emb", "b.emb")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    // The 16-plane signature replayed, bit-sliced into 4 bands of 4; a
    // pair is a candidate if any band's sub-signature agrees (DISTINCT
    // collapses multi-band agreement before the verify cosine).
    "q257_semantic_decontam" ->
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding, ${bucketSql("embedding", 16)} AS bucket
         |  FROM embeddings),
         |bandc AS (
         |  SELECT vec_id AS id, embedding AS v, band,
         |    (bucket >> (band * 4)) & 15 AS sig
         |  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS band) r
         |  WHERE vec_id >= 25),
         |bandb AS (
         |  SELECT vec_id AS bid, embedding AS bv, band,
         |    (bucket >> (band * 4)) & 15 AS sig
         |  FROM e, LATERAL (SELECT unnest(range(0, 4)) AS band) r
         |  WHERE vec_id < 25),
         |pairs AS (
         |  SELECT DISTINCT c.id, c.v, b.bid, b.bv
         |  FROM bandc c JOIN bandb b ON c.band = b.band AND c.sig = b.sig),
         |hits AS (
         |  SELECT id, CAST(count(*) AS BIGINT) AS n_hits,
         |    max(cos) AS max_cosine
         |  FROM (SELECT id, bid, ${cosineSql("v", "bv")} AS cos FROM pairs) s
         |  WHERE cos >= 0.35 GROUP BY id)
         |SELECT c.id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
         |  h.max_cosine, h.n_hits IS NOT NULL AS contaminated
         |FROM (SELECT DISTINCT vec_id AS id FROM embeddings WHERE vec_id >= 25) c
         |LEFT JOIN hits h USING (id)
         |ORDER BY id""".stripMargin)
}
