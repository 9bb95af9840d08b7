package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{CoreOps, SocialOps}
import graft.text.TextOps
import graft.enrich.Enrich
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.expressions.CharHash

/** Wave 2 — text analysis, enrichment stand-ins, cleaning gates, and exact
  * dedup (SURVEY.md §2.2 F3/F4/F8, §2.11 U1-U3, plus the training-data text
  * operators). Lexicons are defined once here and interpolated into both the
  * Spark plan and the DuckDB oracle so they can never drift apart.
  *
  * All scoring expressions are pure column arithmetic (whole-stage codegen,
  * no UDFs) and all floating-point aggregation goes through integer
  * micro-units so partial aggregation order can't change the result.
  */
object TextQueries {

  val positive = Seq("fast", "small", "good")
  val negative = Seq("slow", "big", "error")
  val stopwords = Seq("the", "a", "of")
  val blacklist = Seq("spark", "slow")
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"), "de" -> Seq("der", "die"),
    "es" -> Seq("el", "la"), "fr" -> Seq("le", "les"))

  private def sqlList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** q159's query set, defined once so the Spark plan and the oracle's
    * VALUES list can never drift. Terms are from the corpus vocabulary.
    */
  val bm25Queries: Seq[(Long, String)] = Seq(
    1L -> "spark", 1L -> "join", 2L -> "stream", 2L -> "filter",
    3L -> "customer", 3L -> "slow")

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cohen's κ for the q248 language-ID audit — CHANCE-CORRECTED binary
    // agreement between truth (lang = 'en') and the marker detector
    // (any en marker token present): raw agreement (q248's confusion
    // matrix) rewards a detector that always says "not en" on a 20%-en
    // corpus with 80% agreement; κ subtracts the marginal-product chance
    // floor. Exact cross-multiplied integers: with agreement count g,
    // marginals na/nb, chance cells C = na·nb + (n−na)(n−nb),
    // κ = (n·g − C) / (n² − C); reported in basis points with the
    // sign-split truncation div both engines share. One partial-agg scan.
    // BOUNDS: n² in DECIMAL (int64 would wrap past n ≈ 3e9 docs).
    "q296_cohens_kappa" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val enMarks = langMarkers.head._2
      val lab = Tables.load(s, dir, "documents").select(
        when(col("lang") === "en", 1L).otherwise(0L).as("a"),
        when(size(filter(split(col("text"), " "),
          t => t.isInCollection(enMarks))) >= 1, 1L).otherwise(0L).as("b"))
      lab.agg(count(lit(1)).as("n"), sum(col("a")).as("na"),
          sum(col("b")).as("nb"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("g"))
        .select(col("n"), col("na").as("n_truth_en"),
          col("nb").as("n_detect_en"), col("g").as("n_agree"),
          (dec(col("na")) * dec(col("nb")) +
            dec(col("n") - col("na")) * dec(col("n") - col("nb"))).as("chance"),
          (dec(col("n")) * dec(col("g"))).as("po_n2"))
        .select(col("n"), col("n_truth_en"), col("n_detect_en"),
          col("n_agree"),
          (col("po_n2") - col("chance")).as("knum"),
          (dec(col("n")) * dec(col("n")) - col("chance")).as("kden"))
        .select(col("n"), col("n_truth_en"), col("n_detect_en"),
          col("n_agree"),
          // kden = 0 ⟺ both marginals degenerate (every doc one truth
          // label AND one detector label): κ is undefined — explicit
          // NULL on both engines (DuckDB would otherwise raise div-by-
          // zero while Spark nulls silently; ADVICE r13).
          when(col("kden") =!= 0,
            when(col("knum") >= 0,
              call_function("div", col("knum") * 10000, col("kden")))
              .otherwise(-call_function("div", -col("knum") * 10000, col("kden"))))
            .as("kappa_bp"))
    }),

    // Weak-supervision label model (the Snorkel-style vote every
    // labeling-at-scale pipeline runs before training a filter): three
    // deterministic labeling functions over each doc (length ≥ 30 tokens,
    // distinct-token ratio ≥ ½, any stopword present), phase 1 =
    // unweighted majority, phase 2 = per-LF reliability weights (bp
    // agreement with the majority — a 1-row broadcast artifact), phase 3
    // = reliability-weighted revote with margin. Per-lang report counts
    // the flips phase 3 introduces. All integer; both phases are
    // partial-agg scans + one broadcast — no per-doc state, no window.
    "q300_weighted_vote" -> ((s, dir) => {
      val lfs = Tables.load(s, dir, "documents").select(col("lang"),
        when(size(split(col("text"), " ")) >= 30, 1L).otherwise(0L).as("l1"),
        when(size(array_distinct(split(col("text"), " "))) * 2
          >= size(split(col("text"), " ")), 1L).otherwise(0L).as("l2"),
        when(size(filter(split(col("text"), " "),
          t => t.isInCollection(stopwords))) >= 1, 1L).otherwise(0L).as("l3"))
        .withColumn("maj",
          when(col("l1") + col("l2") + col("l3") >= 2, 1L).otherwise(0L))
      val w = broadcast(lfs.agg(
        count(lit(1)).as("n"),
        sum(when(col("l1") === col("maj"), 1L).otherwise(0L)).as("a1"),
        sum(when(col("l2") === col("maj"), 1L).otherwise(0L)).as("a2"),
        sum(when(col("l3") === col("maj"), 1L).otherwise(0L)).as("a3"))
        .select(expr("10000 * a1 div n").as("w1"),
          expr("10000 * a2 div n").as("w2"),
          expr("10000 * a3 div n").as("w3")))
      val voted = lfs.crossJoin(w)
        .withColumn("score",
          col("w1") * (col("l1") * 2 - 1) + col("w2") * (col("l2") * 2 - 1) +
            col("w3") * (col("l3") * 2 - 1))
        .withColumn("wl", when(col("score") > 0, 1L).otherwise(0L))
      voted.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("maj")).as("n_pos_majority"),
          sum(col("wl")).as("n_pos_weighted"),
          sum(when(col("wl") =!= col("maj"), 1L).otherwise(0L)).as("n_flipped"),
          sum(abs(col("score"))).as("sum_margin"))
        .orderBy(col("lang"))
    }),

    // Kneser-Ney smoothed bigram LM (Kneser & Ney 1995; the Chen-Goodman
    // interpolated form with fixed discount d = 0.75) — the data-side
    // n-gram LM used for importance weighting and quality scoring when a
    // neural scorer is too expensive. Continuation probability uses
    // DISTINCT preceding contexts, the KN insight raw MLE misses.
    // Exact fixed point, micros end to end: term1 = (10⁶·c₁₂ − d_u) div
    // c₁, λ = (d_u·T₁) div c₁, P_cont = (10⁶·C₂) div T_types, p = term1 +
    // (λ·P_cont) div 10⁶ — identical truncations on both engines. Scale
    // shape: one bigram agg (corpus-sized exchange of token-hash pairs),
    // then everything lives on the DISTINCT-bigram domain; top-25 is
    // TakeOrdered, never a global sort.
    // BOUNDS: λ·P_cont ≤ 10¹² — int64-safe outright.
    "q306_kneser_ney" -> ((s, dir) => {
      val toksCol = split(col("text"), " ")
      val pair = zip_with(
        slice(toksCol, lit(1), size(toksCol) - 1),
        slice(toksCol, lit(2), size(toksCol) - 1),
        (l, r) => struct(l.as("w1"), r.as("w2")))
      val big = Tables.load(s, dir, "documents")
        .filter(col("lang") === "en" && length(col("text")) > 0)
        .select(explode(pair).as("p"))
        .select(col("p.w1"), col("p.w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
        .localCheckpoint() // four consumers on the distinct-bigram domain
      val c1 = big.groupBy(col("w1"))
        .agg(sum(col("c12")).as("c1"), count(lit(1)).as("t1"))
      val c2 = big.groupBy(col("w2")).agg(count(lit(1)).as("cc2"))
      val tt = big.agg(count(lit(1)).as("t_types"))
      big.join(c1, "w1").join(c2, "w2").crossJoin(broadcast(tt))
        .select(col("w1"), col("w2"), col("c12"),
          (expr("(1000000 * c12 - 750000) div c1") +
            expr("((750000 * t1 div c1) * ((1000000 * cc2) div t_types)) " +
              "div 1000000")).as("p_u"))
        .filter(col("c12") >= 5)
        .orderBy(col("p_u").desc, col("w1"), col("w2"))
        .limit(25)
    }),

    // BM25-family ranked retrieval (see TextOps.bm25TopK for the exact
    // integer surrogate): relevance-ranked keyword search over the corpus,
    // the query-side sibling of q95's TF-IDF document profile. Per-query
    // ranking is the k-bounded partial top-k aggregate — no window sort.
    "q159_bm25_search" -> ((s, dir) => {
      import s.implicits._
      val q = bm25Queries.toDF("query_id", "term")
      TextOps.bm25TopK(Tables.load(s, dir, "documents"), "doc_id", "text",
          q, 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid retrieval via reciprocal-rank fusion (CoreOps.rrfFuse):
    // BM25 top-20 (q159's retriever) ⊕ dense cosine top-20 over the
    // documents' embedding vectors (query_id = the query's vec_id, same
    // ids as the BM25 query set), fused by 1e6 // (60 + rank) — no score
    // calibration between the two retrievers, integer-exact end to end.
    "q162_hybrid_rrf" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.load(s, dir, "documents")
      val emb = Tables.load(s, dir, "embeddings")
      val q = bm25Queries.toDF("query_id", "term")
      val sparse = TextOps.bm25TopK(docs, "doc_id", "text", q, 20)
        .select(col("query_id"), col("rank"), col("doc_id").as("id"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id").isin(1L, 2L, 3L)),
          "vec_id", "embedding", 20)
        .select(col("query_id").cast("long").as("query_id"),
          col("rank").cast("long").as("rank"), col("corpus_id").as("id"))
      CoreOps.rrfFuse(Seq(sparse, dense), k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Per-source DATA CARD — the datasheet row a corpus curator reads
    // before mixing a source in: volume (docs, tokens, mean/median doc
    // length), language spread (distinct + majority), and exact-dup mass
    // (docs minus distinct content fingerprints). One pass derives the
    // per-doc columns; two partial-aggregable aggs (card + lang modes);
    // the median is the exact p50 over integer token counts (half-sum
    // interpolation is exact in binary — the quarter-quantile rule).
    "q174_data_card" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("source"), col("lang"),
          TextOps.tokenCount(col("text")).as("toks"),
          Dedup.charHash(col("text")).as("fp"))
      val base = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_tokens"),
        expr("sum(toks) div count(1)").as("mean_tokens"),
        expr("percentile(toks, 0.5D)").as("p50_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("fp"))).as("n_dup_docs"))
      val top = d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(min_by(col("lang"), struct((-col("c")).as("nc"), col("lang")))
          .as("top_lang"))
      base.join(top, "source")
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("mean_tokens"), col("p50_tokens"), col("n_langs"),
          col("top_lang"), col("n_dup_docs"))
        .orderBy(col("source"))
    }),

    // PMI collocation mining (TextOps.pmiCollocations): adjacent pairs
    // ranked by the integer-exact exp(PMI) surrogate, minCount = 5
    // against the rare-pair degeneracy, top-25 collocations.
    "q163_pmi_collocations" -> ((s, dir) => {
      // Explicit width (the 5043be2 treatment): the bigram explode is the
      // CPU and the local scan has 1-3 splits.
      TextOps.pmiCollocations(Tables.load(s, dir, "documents")
          .repartition(s.sessionState.conf.numShufflePartitions),
        "doc_id", "text", minCount = 5L, k = 25)
    }),

    // Bigram-LM perplexity filter (see TextOps.bigramSurprisal): counts
    // train on the FULL corpus, scoring restricted to doc_id % 7 = 0 —
    // training/scoring asymmetry is the operator's contract, and the
    // restriction keeps the gated output compact like q95's % 17.
    "q161_lm_quality" -> ((s, dir) => {
      TextOps.bigramSurprisal(Tables.load(s, dir, "documents"),
          "doc_id", "text", scorePred = col("doc_id") % 7 === 0)
        .orderBy(col("doc_id"))
    }),

    // Deterministic epoch shuffle + shard assignment — the write side of a
    // training-shard store. Shard = portable hash of the doc id (stable
    // across epochs, so a doc's shard never moves); within-shard order =
    // hash of (id, epoch) (a fresh permutation every epoch, no RNG state
    // to ship). Scale shape: ONE hash exchange on shard + a per-shard
    // sort — exactly what a shard writer does anyway; the per-shard sort
    // is external-sort-safe, and nShards scales with the cluster. The
    // perm_sig checksum (sum of pos·doc_id) pins the ENTIRE realized
    // ordering in the gate, not just the endpoints.
    "q148_epoch_shuffle" -> ((s, dir) => {
      val nShards = 8L
      val docs = Tables.load(s, dir, "documents")
      val keyed = docs.select(col("doc_id"),
        pmod(Dedup.charHash(col("doc_id").cast("string")), lit(nShards)).as("shard"),
        Dedup.charHash(concat(col("doc_id").cast("string"), lit("#e3"))).as("k"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
      keyed.withColumn("pos", row_number().over(w).cast("long"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          min_by(col("doc_id"), col("pos")).as("first_doc"),
          max_by(col("doc_id"), col("pos")).as("last_doc"),
          sum(col("pos") * col("doc_id")).as("perm_sig"))
        .orderBy(col("shard"))
    }),

    // Token-budget waterfilling across domains — the data-mixture
    // allocator: give every domain its fair share of a B-token budget,
    // capped at what it has (small domains keep everything, the surplus
    // waterfalls to the rest at one common level L with Σ min(cᵢ, L) ≤ B).
    // Integer arithmetic end to end, so the gate compare is exact. Scale
    // shape: the ONLY data-sized pass is the per-domain token count (one
    // partial agg); the waterfill itself runs over k domain rows (k ~
    // hundreds at worst) in a single-partition window — a driver-sized
    // frame, deliberately NOT distributed.
    "q150_token_waterfill" -> ((s, dir) => {
      val counts = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("c"))
      CoreOps.waterfill(counts, "source", "c")
        .select(col("source"), col("c").as("n_tokens"), col("alloc").as("alloc_tokens"))
        .orderBy(col("source"))
    }),

    // Budget-REALIZED epoch composition: close the loop from q150's
    // allocation to an actual epoch — each domain's keep-rate is its
    // alloc/c in basis points, applied per doc via the portable hash
    // (the q137 machinery), so the materialized epoch's token mass per
    // domain ≈ the waterfill's allocation. Scale shape: one partial-agg
    // count pass, a driver-sized waterfill, a BROADCAST rate join, and
    // a scan-local hash filter — no shuffle of the corpus at all.
    "q155_epoch_compose" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
      val counts = docs.groupBy(col("source")).agg(sum(col("toks")).as("c"))
      val rate = CoreOps.waterfill(counts, "source", "c")
        .withColumn("rate_bp", expr("(alloc * 10000) div c"))
      docs.join(broadcast(rate), Seq("source"))
        .filter(pmod(Dedup.charHash(col("doc_id").cast("string")),
          lit(10000L)) < col("rate_bp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("kept_tokens"),
          min(col("alloc")).as("alloc_tokens"))
        .orderBy(col("source"))
    }),

    // F8 sentinel scrub + dropna (null-scrub semantics of glue/reddit_glue.py:227-252).
    "q19_sentinel_scrub" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .withColumn("event_type_clean",
          CoreOps.nullifySentinels(col("event_type"), Seq("error")))
        .na.drop(Seq("event_type_clean"))
        .groupBy(col("event_type_clean")).agg(count(lit(1)).as("n"))
        .orderBy(col("event_type_clean"))
    }),

    // F3+F4 content gate: length cap then blacklist, reference filter order.
    "q20_content_gate" -> ((s, dir) => {
      SocialOps.contentGate(Tables.load(s, dir, "documents"), 400, blacklist, Seq("text"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"))
    }),

    // U2 sentiment enrichment (lexicon stand-in), aggregated per lang.
    "q21_sentiment" -> ((s, dir) => {
      val scores = Enrich.sentimentScores(col("text"), positive, negative).toMap
      Tables.load(s, dir, "documents")
        .withColumn("pos_u", CoreOps.cents(scores("Positive"), 6))
        .withColumn("neg_u", CoreOps.cents(scores("Negative"), 6))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("pos_u")).as("sum_pos_u"), sum(col("neg_u")).as("sum_neg_u"))
        .withColumn("avg_pos", col("sum_pos_u").cast("double") / lit(1e6) / col("n"))
        .orderBy(col("lang"))
    }),

    // U3 claim-worthiness top-k (deterministic stand-in, error→0 semantics).
    "q22_claim_topk" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), Enrich.claimScore(col("text")).as("claim"))
        .orderBy(col("claim").desc, col("doc_id"))
        .limit(10)
    }),

    // U1 translate stand-in (transliteration), aggregated checksum per source.
    "q23_translate_stats" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("source"), Enrich.translateCol(col("text")).as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(length(col("t")).cast("long")).as("sum_len"))
        .orderBy(col("source"))
    }),

    // Language-ID by marker voting.
    "q24_langid" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(TextOps.langId(col("text"), langMarkers).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred"))
    }),

    // Language-ID eval: predicted-vs-labeled confusion matrix — the
    // agreement report that decides whether the cheap marker classifier
    // is good enough to route per-language processing (and which label
    // pairs it confuses). One scan through the native lang_id expression
    // + one partial-aggregable rollup; the oracle replays the full
    // marker-voting decision rule per labeled row.
    "q248_langid_agreement" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("lang"), TextOps.langId(col("text"), langMarkers).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred"))
    }),

    // Sampler-calibration audit: does q137's deterministic weighted
    // sampler actually realize P(keep) = q_u/1e6? Per lang: docs, kept,
    // the EXPECTED kept mass in micros (Σ q_u), the realized deviation,
    // and a 6σ binomial-bound flag (dev² ≤ 36·Σ q_u·(1e6−q_u), the
    // squared form so no sqrt — DECIMAL(38,0) on both engines because
    // dev² exceeds int64 once |dev| passes ~3e9, reachable at corpus
    // scale). Both engines derive every value, ok flag included, from
    // the same deterministic hash — this gates the calibration
    // ARITHMETIC cross-engine; a biased sampler shows up as ok=false in
    // both, a broken reimplementation as a hash mismatch.
    "q251_sample_calibration" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          CoreOps.cents(TextOps.qualityScore(col("text"), stopwords), 6).as("q_u"))
      val kept = CoreOps.weightedSample(docs, "doc_id", col("q_u"))
        .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
      docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("q_u")).as("e_micros"),
          sum(expr("CAST(q_u AS DECIMAL(38,0)) * (1000000 - q_u)"))
            .as("var2"))
        .join(kept, Seq("lang"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .withColumn("dev_micros", expr("n_kept * 1000000 - e_micros"))
        .withColumn("ok_6sigma", expr(
          "CAST(dev_micros AS DECIMAL(38,0)) * dev_micros <= 36 * var2"))
        .select(col("lang"), col("n_docs"), col("n_kept"), col("e_micros"),
          col("dev_micros"), col("ok_6sigma"))
        .orderBy(col("lang"))
    }),

    // Quality scoring, micro-unit aggregation per source.
    "q25_quality" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .withColumn("q_u", CoreOps.cents(TextOps.qualityScore(col("text"), stopwords), 6))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("q_u")).as("sum_q_u"))
        .withColumn("avg_q", col("sum_q_u").cast("double") / lit(1e6) / col("n"))
        .orderBy(col("source"))
    }),

    // Token counting: whitespace + BPE-ish subword estimate.
    "q26_token_stats" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(TextOps.tokenCount(col("text"))).as("sum_tokens"),
          sum(TextOps.subwordCount(col("text"))).as("sum_subwords"))
        .orderBy(col("source"))
    }),

    // Rolling-hash document fingerprint (exact-dup candidate key).
    "q27_fingerprint" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), Dedup.charHash(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup: canonical min-id per identical text (hash groupBy).
    "q28_dedup_exact" -> ((s, dir) => {
      Dedup.exactDedup(Tables.load(s, dir, "documents"), "text", "doc_id")
        .agg(count(lit(1)).as("n_unique"), sum(col("doc_id")).as("sum_min_ids"))
    }),

    // A6/A7 edge-dedup + degree: distinct (user, type) pairs → degree per type.
    "q29_bipartite_degree" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("degree"))
        .orderBy(col("event_type"))
    }),

    // Deterministic hash sampling (reproducible corpus subsetting).
    "q56_hash_sample" -> ((s, dir) => {
      CoreOps.hashSample(Tables.load(s, dir, "documents"), "doc_id", keep = 30)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // End-to-end training-data prep in ONE distributed plan: content gate →
    // quality threshold → exact dedup (min-id per text) → deterministic
    // 50% sample → token stats per lang. The 100 TB story in microcosm:
    // every stage is a filter/agg that pushes, prunes, and partial-aggs.
    "q57_training_prep" -> ((s, dir) => {
      val gated = SocialOps.contentGate(Tables.load(s, dir, "documents"),
        600, blacklist, Seq("text"))
      val quality = gated.filter(TextOps.qualityScore(col("text"), stopwords) > 0.5)
      val deduped = quality.groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"))
      val sampled = CoreOps.hashSample(deduped, "doc_id", keep = 50)
      sampled.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(TextOps.tokenCount(col("text"))).as("sum_tokens"))
        .orderBy(col("lang"))
    }),

    // Corpus vocabulary: top-5 tokens per language by frequency (count
    // desc, token asc tiebreak) — wordcount + partial top-k, the two
    // canonical distributed aggregations composed.
    // Top-3 TF-IDF terms per document — integer-exact scoring (monotone
    // in tf·N/df), df over the FULL corpus, output restricted to the
    // doc_id % 17 slice to keep the gate compact.
    "q95_tfidf" -> ((s, dir) => {
      // Explicit width (the 5043be2 treatment): the token explode is the
      // CPU and the local scan has 1-3 splits.
      TextOps.tfidfTopTerms(Tables.load(s, dir, "documents")
          .repartition(s.sessionState.conf.numShufflePartitions),
          "doc_id", "text", k = 3)
        .filter(col("doc_id") % 17 === 0)
        .orderBy(col("doc_id"), col("rank"))
    }),

    // Gopher-style repetition quality gate: per-doc top-token and
    // duplicate-bigram mass in integer basis points, plus the composed
    // "repetitive" flag (thresholds sit near the corpus p80/p95 so the
    // gate splits the data non-trivially at every SF).
    "q107_repetition" -> ((s, dir) => {
      TextOps.repetitionStats(Tables.load(s, dir, "documents"),
          "doc_id", "text")
        .withColumn("repetitive",
          col("top_token_bp") >= 1200 || col("dup_bigram_bp") >= 800)
        .orderBy(col("doc_id"))
    }),

    // Cross-doc boilerplate shingles per source: 3-token shingles shared
    // by >= 3 docs of one source are the exact-substring header/footer
    // class a crawl pipeline strips; per-source occurrence totals.
    "q108_boilerplate" -> ((s, dir) => {
      TextOps.boilerplateStats(Tables.load(s, dir, "documents"),
          "doc_id", "text", "source", k = 3, minDocs = 3L)
        .orderBy(col("source"))
    }),

    // Exact-N balanced mix: every language contributes exactly
    // min-stratum-count docs, chosen by largest portable hash — the
    // equalize-the-mix knob, selection via the k-bounded top-k aggregate
    // (map-side combine), never a full-table window sort.
    "q110_balanced_sample" -> ((s, dir) => {
      CoreOps.balancedSample(Tables.load(s, dir, "documents"), "lang", "doc_id")
        .orderBy(col("stratum"), col("doc_id"))
    }),

    // Temperature-smoothed mixture resampling (α = 0.5): dominant
    // sources damp toward the equal share (rate = √(e/n_s)), rare ones
    // keep everything — the soft data-mix knob between proportional
    // (q56) and hard-equalized (q110) sampling. The synthetic corpus is
    // per-source uniform, so the mix is a structural residue split
    // (50/30/10/10) — the damping is non-trivial at every SF.
    "q123_temperature_mix" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents").withColumn("mix_src",
        when(col("doc_id") % 10 < 5, lit("common"))
          .when(col("doc_id") % 10 < 8, lit("mid"))
          .otherwise(concat(lit("rare"), (col("doc_id") % 2).cast("string"))))
      CoreOps.temperatureSample(docs, "mix_src", "doc_id")
        .groupBy(col("mix_src"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("mix_src"))
    }),

    // Curriculum binning: quality-score deciles per language (the
    // easy→hard training-order knob). EXACT ntile semantics (doc_id
    // tiebreak, oracle replays the window form), computed by
    // CoreOps.distributedNtile — range-partitioned rank + offset
    // counters — because a `ntile().over(partitionBy(lang))` window caps
    // parallelism at the number of LANGUAGES (two, here and mostly in
    // real corpora): one sorting task per language forever, at any
    // cluster size. The distributed form's parallelism is the partition
    // count; the gate proves the bins are identical.
    "q119_curriculum" -> ((s, dir) => {
      // Narrow + pin BEFORE ranking: repartitionByRange's boundary
      // sampling evaluates its input once ahead of the sort, and the
      // quality score is the expensive part — score once into a
      // materialized (lang, q_u, doc_id) projection, then rank that.
      val scored = Tables.load(s, dir, "documents")
        .withColumn("q_u", CoreOps.cents(TextOps.qualityScore(col("text"), stopwords), 6))
        .select(col("lang"), col("q_u"), col("doc_id"))
        .localCheckpoint()
      CoreOps.distributedNtile(scored, Seq("lang"),
          Seq(col("q_u"), col("doc_id")), 10)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("q_u")).as("min_q_u"), max(col("q_u")).as("max_q_u"))
        .orderBy(col("lang"), col("bin"))
    }),

    // Crawl URL dedup: deterministic messy-URL fixture (4 surface variants
    // per logical page: www prefix, trailing slash, host case + utm param,
    // fragment) collapsed by [[TextOps.canonicalizeUrl]]; one logical page
    // survives with its lowest doc_id. One hash-shuffle on the canonical
    // key; the canonicalizer itself is pure codegen'd string ops.
    "q121_url_dedup" -> ((s, dir) => {
      val urls = Tables.load(s, dir, "documents").select(col("doc_id"),
        concat(
          element_at(array(lit("https://www.news-example.com/"),
            lit("https://news-example.com/"),
            lit("HTTPS://NEWS-EXAMPLE.COM/"),
            lit("https://news-example.com/")), (col("doc_id") % 4 + 1).cast("int")),
          col("source"), lit("/"), (col("doc_id") % 50).cast("string"),
          element_at(array(lit(""), lit("/"), lit("?utm_campaign=x"),
            lit("#section-2")), (col("doc_id") % 4 + 1).cast("int"))).as("url"))
      urls.withColumn("canonical_url", TextOps.canonicalizeUrl(col("url")))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keeper"))
        .orderBy(col("canonical_url"))
    }),

    "q89_vocab" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token"))
      toks.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("lang"), col("rank"), col("token"), col("n"))
        .orderBy(col("lang"), col("rank"))
    }),

    // Distributed BPE-style merge discovery — the pair-count step of
    // vocabulary training (learn which adjacent token pair to merge
    // next): adjacent pairs from each doc's token sequence, counted
    // corpus-wide, top 25. Scale shape: the pairing is MAP-LOCAL
    // (zip of the token array with its own tail — no window, no
    // self-join, no per-doc sort), then one hash aggregate with
    // map-side partial combine and a TakeOrdered(25) — the same shape
    // at 100 TB, where the window-lead formulation would shuffle the
    // whole exploded token stream to sort it per doc. One merge round;
    // real BPE iterates this query.
    "q144_bpe_pairs" -> ((s, dir) => {
      // Explicit width (the 5043be2 treatment): the local parquet scan
      // has 1-3 effective splits, so the pair explode — the CPU — ran
      // near-serial at sf1; the repartition is exempt from AQE
      // coalescing and spreads the kernel over every core.
      val docs = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .repartition(s.sessionState.conf.numShufflePartitions)
      val w = split(col("text"), " ")
      val pair = zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (l, r) => struct(l.as("left_tok"), r.as("right_tok")))
      docs.select(explode(pair).as("p"))
        .select(col("p.left_tok"), col("p.right_tok"))
        .groupBy(col("left_tok"), col("right_tok"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("left_tok"), col("right_tok"))
        .limit(25)
    }),

    // Full BPE vocabulary-training loop — 5 rounds of q144's
    // count→argmax→merge cycle (Sennrich et al., ACL 2016): each round
    // counts adjacent pairs corpus-wide (map-local zip + one hash agg,
    // exactly ONE row to the driver), greedily merges the winner
    // left-to-right per doc (linear per-row kernel, lineage truncated
    // per round), and re-counts. Gates both the argmax chain and the
    // greedy application (n_tokens_after < n_before − n_pairs when
    // runs overlap).
    "q225_bpe_train" -> ((s, dir) => {
      graft.text.TextOps.bpeTrain(
        Tables.load(s, dir, "documents").filter(length(col("text")) > 0),
        "doc_id", "text", nMerges = 5)
        .orderBy(col("step"))
    }),

    // Sliding-window document chunking — long docs split into
    // max-50-token chunks at stride 40 (10-token overlap), the
    // context-length prep step between cleaning and packing (q74 packs
    // SHORT docs up; this cuts LONG docs down). Convention: chunk i
    // starts at token i*stride, emitted while that start is in range —
    // n_chunks = ceil(n/stride), the last chunk may be short. Scale
    // shape: per-doc sequence explode + array slices, all MAP-LOCAL
    // (no shuffle at all before the output sort); chunk payloads stay
    // arrays until the final projection.
    "q146_doc_chunks" -> ((s, dir) => {
      val C = 50
      val S = 40
      val toks = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
      toks
        .withColumn("chunk_id",
          explode(sequence(lit(0L), expr(s"(n + ${S - 1}) div $S") - 1)))
        .withColumn("chunk",
          slice(col("toks"), (col("chunk_id") * S + 1).cast("int"), lit(C)))
        .select(col("doc_id"), col("chunk_id"),
          size(col("chunk")).cast("long").as("n_tokens"),
          length(array_join(col("chunk"), " ")).cast("long").as("chunk_chars"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // One-pass corpus profile: per-column row/null/distinct/min/max — the
    // data-quality sweep before training prep.
    "q85_profile" -> ((s, dir) => {
      CoreOps.profile(Tables.load(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))
    }),

    // Quality-WEIGHTED sampling: keep probability ∝ the doc's quality
    // score (P(keep) = q_u / 1e6 exactly, via the portable hash) — the
    // soft-mixing knob between "keep everything" and a hard quality
    // cutoff. Scan-local, no shuffle; the oracle replays the identical
    // hash-vs-weight comparison.
    "q137_weighted_sample" -> ((s, dir) => {
      // Explicit width (the 5043be2 treatment): qualityScore over every
      // doc is the CPU, and the local scan's 1-3 splits ran it
      // near-serial at sf1. The repartition alone is NOT enough here:
      // weightedSample's keep-filter references only deterministic
      // expressions, so Catalyst substitutes the score into it and
      // pushes the whole kernel back below the exchange into the 2-task
      // scan stage (measured: a 2.6 s 2-task map stage emitting the
      // already-filtered 39k rows). The checkpoint is a pushdown
      // barrier: scan+exchange stay cheap, scoring runs at full width.
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .localCheckpoint()
        .withColumn("q_u",
          CoreOps.cents(TextOps.qualityScore(col("text"), stopwords), 6))
      CoreOps.weightedSample(docs, "doc_id", col("q_u"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("doc_id")).as("sum_ids"),
          sum(col("q_u")).as("sum_q_u"))
        .orderBy(col("lang"))
    }),

    // Stratified deterministic sampling: the training-mix knob — dominant
    // language downsampled hard, rare ones kept whole, unknown strata
    // dropped by the default rate. Same portable hash as q56.
    "q78_stratified_sample" -> ((s, dir) => {
      CoreOps.stratifiedHashSample(Tables.load(s, dir, "documents"),
          "doc_id", "lang",
          rates = Map("en" -> 20, "de" -> 100, "fr" -> 100, "es" -> 50),
          defaultKeep = 10)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_ids"))
        .orderBy(col("lang"))
    }),

    // PII scrub: emails/URLs → typed placeholder tokens. The corpus has no
    // organic PII, so each doc gets a deterministic synthetic contact line
    // appended — the oracle applies the IDENTICAL construction + regexes,
    // so the redacted strings must match byte for byte.
    "q75_pii_redact" -> ((s, dir) => {
      val withPii = Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or https://ex"),
          (col("doc_id") % 10).cast("string"), lit(".org/path now")).as("raw"))
      withPii.select(col("doc_id"), TextOps.redactPii(col("raw")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // Sequence packing (concatenate-then-chunk): context-window pack
    // assignment per language via prefix-sum — per-pack doc counts and
    // token totals. A pack's tokens can exceed the budget only by its last
    // document's spill (assignment is where the doc STARTS).
    "q74_sequence_pack" -> ((s, dir) => {
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tok"))
      TextOps.packSequences(docs, Seq("lang"), "doc_id", "n_tok", budget = 512)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("pack_tokens"))
        .orderBy(col("lang"), col("pack_id"))
    }),

    // Packing-efficiency report — the fill-rate audit every context-
    // window pipeline runs after q74's assignment: per lang, pack count,
    // token fill in basis points of the pack budget, and the overflow
    // packs whose last doc spilled past the budget (allowed by
    // concatenate-then-chunk; watching their share tells you when the
    // budget is mis-sized for the doc-length mix). One rollup over q74's
    // per-pack aggregate — no new shuffle shape.
    "q229_packing_efficiency" -> ((s, dir) => {
      val B = 512L
      val docs = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          TextOps.tokenCount(col("text")).as("n_tok"))
      TextOps.packSequences(docs, Seq("lang"), "doc_id", "n_tok", budget = B)
        .groupBy(col("lang"), col("pack_id"))
        .agg(sum(col("n_tok")).as("pack_tokens"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_packs"),
          sum(col("pack_tokens")).as("n_tokens"),
          expr(s"(sum(pack_tokens) * 10000) div (count(1) * $B)").as("fill_bp"),
          sum(when(col("pack_tokens") > B, 1L).otherwise(0L)).as("n_overflow"),
          max(col("pack_tokens")).as("max_pack_tokens"))
        .orderBy(col("lang"))
    }),

    // Bigram novelty of the held-out slice vs the training slice (per
    // lang): the unseen-bigram rate that complements q163's surprisal —
    // high novelty = the test split genuinely differs from train (the
    // memorization/contamination dual of q88's decontamination). Bigrams
    // travel as the portable 8-byte charHash (the q187 lesson: exchange
    // longs, never token-pair strings); one distinct on the train side,
    // one hash left-join, per-lang rollup.
    "q230_bigram_novelty" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .select(col("lang"), (col("doc_id") % 5 === 0).as("is_test"),
          split(col("text"), " ").as("w"))
      val pair = zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (l, r) => concat(l, lit(" "), r))
      val bi = d.select(col("lang"), col("is_test"),
        explode(pair).as("bg"))
        .select(col("lang"), col("is_test"), Dedup.charHash(col("bg")).as("bh"))
      val trainVocab = bi.filter(!col("is_test"))
        .select(col("lang"), col("bh")).distinct()
        .withColumn("seen", lit(1))
      bi.filter(col("is_test"))
        .join(trainVocab, Seq("lang", "bh"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_test_bigrams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_unseen"),
          expr("(sum(CASE WHEN seen IS NULL THEN 1 ELSE 0 END) * 10000)" +
            " div count(1)").as("novelty_bp"))
        .orderBy(col("lang"))
    }),

    // Tokenizer fertility per lang: subword-per-word ratio in basis
    // points (the tokenizer-efficiency metric multilingual pipelines
    // watch — high fertility = a lang pays more context budget per
    // word). Both counts are codegen'd scan-local expressions; one hash
    // rollup.
    "q235_tokenizer_fertility" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .filter(length(col("text")) > 0)
        .groupBy(col("lang"))
        .agg(sum(TextOps.tokenCount(col("text"))).as("n_words"),
          sum(TextOps.subwordCount(col("text"))).as("n_subwords"))
        .withColumn("fertility_bp",
          expr("(n_subwords * 10000) div n_words"))
        .orderBy(col("lang"))
    }),

    // Repetition signal (the Gopher/CCNet "repeated n-grams" quality
    // gate): per doc, the share of its 4-grams that are repeats of an
    // earlier 4-gram in the SAME doc, in basis points — the cheapest
    // high-precision detector for boilerplate/looping text (a failure
    // mode LLM corpora must filter). Everything is scan-local higher-
    // order-function arithmetic (transform/array_distinct per row — no
    // explode, no shuffle of gram rows); one hash rollup per lang.
    "q238_repetition_score" -> ((s, dir) => {
      Tables.load(s, dir, "documents")
        .select(col("lang"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 4)
        .withColumn("n4", (size(col("toks")) - lit(3)).cast("long"))
        .withColumn("grams", expr(
          "transform(sequence(0, size(toks) - 4)," +
            " i -> concat_ws('#', slice(toks, i + 1, 4)))"))
        .withColumn("rep_bp",
          expr("(n4 - size(array_distinct(grams))) * 10000 div n4"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("rep_bp")).as("sum_rep_bp"),
          expr("sum(rep_bp) div count(1)").as("mean_rep_bp"),
          sum(when(col("rep_bp") > 0, 1L).otherwise(0L)).as("n_with_dup"))
        .orderBy(col("lang"))
    }),

    // Largest-remainder (Hamilton) apportionment of a fixed 1M-token
    // training budget across languages, proportional to corpus token
    // mass — the data-mixing step every multilingual training run pins
    // down, done integer-exact so the oracle replays it bit-for-bit
    // (floating-point proportional allocation never sums to the budget;
    // quota + ranked-remainder top-up does, provably). The corpus scan
    // is one partial-aggregable rollup; the apportionment runs on the
    // per-lang table (a handful of rows — the unpartitioned windows are
    // driver-scale by construction).
    "q239_token_budget_apportion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 1000000L
      val counts = Tables.load(s, dir, "documents")
        .select(col("lang"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy(col("lang")).agg(sum(col("nt")).as("tok_n"))
      counts
        .withColumn("total", sum(col("tok_n")).over(Window.partitionBy()))
        .withColumn("base", expr(s"${B}L * tok_n div total"))
        .withColumn("rem", expr(s"(${B}L * tok_n) % total"))
        .withColumn("rn",
          row_number().over(Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("seats",
          lit(B) - sum(col("base")).over(Window.partitionBy()))
        .select(col("lang"), col("tok_n"),
          (col("base") +
            when(col("rn") <= col("seats"), 1L).otherwise(0L)).as("alloc"))
        .orderBy(col("lang"))
    }),

    // F4 at reference scale: the Aho-Corasick native expression through
    // contentGate's large-blacklist path (one automaton pass per row).
    "q55_native_blacklist" -> ((s, dir) => {
      SocialOps.contentGate(Tables.load(s, dir, "documents"), 600,
          bigBlacklist, Seq("text"))
        .groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("source"))
    }),

    // The native char_hash through its SQL registration (the path
    // `spark.sql` users take): the same expression Dedup.charHash builds
    // directly for q27, gated by the same oracle.
    "q40_charhash_native" -> ((s, dir) => {
      org.apache.spark.sql.GraftFunctions.register(s)
      Tables.load(s, dir, "documents")
        .filter(col("doc_id") < 100)
        .select(col("doc_id"), call_function("char_hash", col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // A6 approx distinct (HLL) under the hard gate: the sketch estimate is
    // engine-specific, so the query emits the EXACT count plus a boolean
    // tolerance check of the HLL estimate against it (rsd=0.05 → the
    // estimate must land within 5%). DuckDB oracles the exact count and
    // `within_5pct = true`, putting the approximate path itself under the
    // hash-match gate instead of a weaker rows-only check.
    // Margin math (NOTES rule: a sketch bound the oracle hardcodes to
    // `true` is a DETERMINISTIC claim about the fixed testdata): rsd=0.05
    // is ONE standard deviation, and at sf0.1 the 'click' estimate
    // genuinely landed outside 1σ — as ~32% of cells eventually will. The
    // gate uses 3σ (15%) + a small absolute slack for tiny cardinalities,
    // verified at sf0.001/0.01/0.1.
    "q30_approx_users" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.05).as("approx_users"))
        .select(
          col("event_type"),
          col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.15) + lit(16.0)).as("approx_ok"))
        .orderBy(col("event_type"))
    }),


    // Good–Turing unseen-mass estimate per language (Gale & Sampson's
    // missing-mass rule: P(next token is a NEW type) ≈ f1/N): token
    // count, vocabulary size, singleton/doubleton type counts, and the
    // unseen-mass in floor micros. The "is this corpus slice big enough"
    // audit for a tokenizer/langid training set — high unseen mass means
    // the vocab is still growing (cf. q200's Heaps exponent, which
    // measures the growth CURVE; this measures the mass left under it).
    // Shape: token explode → two keyed aggs, no window, no collect.
    "q254_good_turing" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      toks.groupBy(col("lang"), col("token")).agg(count(lit(1)).as("c"))
        .groupBy(col("lang"))
        .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("v_types"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .withColumn("unseen_micros", expr("(1000000 * f1) div n_tokens"))
        .orderBy(col("lang"))
    }),


    // Character-diversity junk filter over the native one-pass histogram
    // expression (TextOps.charStats): per-doc Simpson collision index
    // (Σc²/n² in floor micros — P(two random chars match), the
    // integer-exact stand-in for character entropy) and top-character
    // share; per-lang rollup with a low-diversity count (collision >
    // 0.1 or alphabet < 10 chars — mashing/padding/binary noise). The
    // histogram never leaves the scan — the HOF alternative is a
    // |text|-row explode+shuffle per doc. Long math holds to ~3M-char
    // docs (1e6·Σc² ≤ 1e6·n·max_c); chunk longer docs first (q146).
    "q255_char_diversity" -> ((s, dir) => {
      val st = TextOps.charStats(col("text"))
      Tables.load(s, dir, "documents")
        .select(col("lang"), st.as("st"))
        .select(col("lang"), col("st.n_cp").as("n_cp"),
          col("st.distinct_cp").as("dcp"),
          col("st.collision_sum").as("coll"), col("st.max_count").as("mx"))
        .filter(col("n_cp") > 0)
        .withColumn("cm", expr("(1000000 * coll) div (n_cp * n_cp)"))
        .withColumn("tsm", expr("(1000000 * mx) div n_cp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_cp")).as("n_cp_total"),
          min(col("dcp")).as("min_distinct"),
          max(col("cm")).as("max_collision_micros"),
          sum(when(col("cm") > 100000 || col("dcp") < 10, 1L).otherwise(0L))
            .as("n_low_diversity"),
          max(col("tsm")).as("max_top_share_micros"))
        .orderBy(col("lang"))
    }),


    // Flesch reading-ease per language, integer-exact: words = non-space
    // runs, sentences = [.!?]+ runs (floor 1), syllables ≈ vowel runs
    // (the classic proxy — per-text count equals the per-word sum), and
    // the 206.835/1.015/84.6 coefficients premultiplied into micros so
    // the whole score is two floor divisions and a subtraction. Rollup
    // ships Σ/min/max rather than a mean — a negative mean would floor
    // differently between engines (Spark div truncates, DuckDB //
    // floors), and per-doc scores subtract AFTER their divisions, so
    // every division in the query sees nonnegative operands.
    "q258_readability" -> ((s, dir) => {
      val words = size(regexp_extract_all(col("text"), lit("[^ ]+"), lit(0)))
        .cast("long")
      val sents = greatest(lit(1L),
        size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
      val syl = size(regexp_extract_all(col("text"), lit("[aeiouAEIOU]+"), lit(0)))
        .cast("long")
      Tables.load(s, dir, "documents")
        .select(col("lang"), words.as("w"), sents.as("sn"), syl.as("sy"))
        .filter(col("w") > 0)
        .withColumn("flesch_micros", lit(206835000L)
          - expr("(1015000 * w) div sn") - expr("(84600000 * sy) div w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("sn")).as("n_sentences"), sum(col("sy")).as("n_syllables"),
          sum(col("flesch_micros")).as("sum_flesch_micros"),
          min(col("flesch_micros")).as("min_flesch_micros"),
          max(col("flesch_micros")).as("max_flesch_micros"))
        .orderBy(col("lang"))
    }),


    // Held-out OOV rate + surprisal-rank proxy: train vocab from the
    // 80% doc split ranked by frequency (rangeRank — no one-task global
    // window even for a 10⁸-type vocabulary); each held-out token joins
    // its train rank; per language, OOV share in micros and the mean
    // train-frequency rank of covered tokens. The integer-exact stand-in
    // for held-out cross-entropy (rank is monotone in -log p̂), i.e. the
    // "does the tokenizer/LM training slice cover the eval slice" gate.
    "q269_oov_surprisal" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val vocab = toks.filter(col("doc_id") % 10 < 8)
        .groupBy(col("token")).agg(count(lit(1)).as("c"))
      val ranked = CoreOps.rangeRank(vocab, Seq.empty,
        Seq(col("c").desc, col("token")), rankCol = "rnk")
      toks.filter(col("doc_id") % 10 >= 8)
        .join(ranked.select(col("token"), col("rnk")), Seq("token"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("rnk").isNull, 1L).otherwise(0L)).as("n_oov"),
          coalesce(sum(col("rnk")), lit(0L)).as("sum_rank"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr("(1000000 * n_oov) div n_tokens").as("oov_micros"),
          when(col("n_tokens") > col("n_oov"),
            expr("sum_rank div (n_tokens - n_oov)")).otherwise(lit(0L))
            .as("mean_rank"))
        .orderBy(col("lang"))
    }),


    // Exact-proportion stratified split — the deterministic-COUNT
    // complement of q141's hash-rate split (exact only in expectation):
    // per language, docs rank by the seed-0 affine-mixed hash
    // (decorrelated from id order — the q251/balancedSample lesson),
    // then counts carve exactly: train = first (8N) div 10 ranks, val =
    // through (9N) div 10, test = rest. rangeRank keeps per-stratum
    // ordering at range-partition parallelism; the assignment is a pure
    // function of (lang, doc_id) so it reproduces on any cluster.
    "q272_exact_split" -> ((s, dir) => {
      val hashed = Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"),
          Dedup.seeded(Dedup.charHash(col("doc_id").cast("string")), 0)
            .as("h"))
      val ranked = CoreOps.rangeRank(hashed, Seq("lang"),
        Seq(col("h"), col("doc_id")), rankCol = "r")
      val tot = hashed.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      ranked.join(broadcast(tot), "lang")
        .withColumn("split",
          when(col("r") <= expr("(8 * n) div 10"), "train")
            .when(col("r") <= expr("(9 * n) div 10"), "val")
            .otherwise("test"))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("lang"), col("split"))
    }),


    // Template extraction — the scaled-out boilerplate catch that
    // shingle dedup misses: documents STARTING with the same k=2-token
    // prefix share a generation template (crawler nav headers, mail
    // footers, SEO spam families). Frequent prefixes (≥ 2 docs) come
    // from one partial-aggregable groupBy — the template table is
    // bounded by vocab^k, never data-sized, so it broadcasts — and the
    // per-source audit reports how much of each source is templated.
    // The semi-join shape means no text ever shuffles: only (doc,
    // prefix) pairs move, and only to the bounded template table.
    "q279_template_prefix" -> ((s, dir) => {
      val pref = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          array_join(slice(split(col("text"), " "), 1, 2), " ").as("prefix"))
      val tpl = pref.groupBy(col("prefix")).agg(count(lit(1)).as("nd"))
        .filter(col("nd") >= 2).select(col("prefix"))
      pref.join(broadcast(tpl).withColumn("is_tpl", lit(1L)),
          Seq("prefix"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(col("is_tpl"), lit(0L))).as("n_templated"),
          countDistinct(when(col("is_tpl") === 1L, col("prefix")))
            .as("n_template_prefixes"))
        .orderBy(col("source"))
    }))

  /** A blacklist large enough to trip contentGate's native Aho-Corasick
    * path (mix of present and absent terms, incl. multi-word substrings).
    */
  val bigBlacklist: Seq[String] = Seq(
    "spark", "slowpoke", "fatal error", "merge conflict", "batch job",
    "zzzz", "value table", "hash value", "qqq", "group order",
    "customer query", "stream filter")

  private val pos = sqlList(positive)
  private val neg = sqlList(negative)
  private val stops = sqlList(stopwords)

  /** CoreOps.waterfill over per-source token counts as DuckDB CTEs
    * (ends at `wf(source, c, alloc)`); shared by q150/q155.
    */
  private val waterfillCtes: String =
    """counts AS (
      |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
      |  FROM documents WHERE length(text) > 0 GROUP BY source),
      |o AS (
      |  SELECT source, c,
      |    CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS i,
      |    CAST(count(*) OVER () AS BIGINT) AS kk,
      |    CAST(sum(c) OVER (ORDER BY c, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pre,
      |    CAST(sum(c) OVER () AS BIGINT) // 2 AS b
      |  FROM counts),
      |lv AS (
      |  SELECT *, (b - (pre - c)) // (kk - i + 1) AS li FROM o),
      |cut AS (
      |  SELECT *,
      |    min(CASE WHEN li <= c THEN i END) OVER () AS istar
      |  FROM lv),
      |lvl AS (
      |  SELECT *, min(CASE WHEN i = istar THEN li END) OVER () AS lvl FROM cut),
      |wf AS (
      |  SELECT source, c,
      |    CASE WHEN istar IS NULL OR i < istar THEN c ELSE lvl END AS alloc
      |  FROM lvl)""".stripMargin

  /** qualityScore as SQL (shared by q25/q57/q119/q125 oracles). */
  private[queries] val qualitySql =
    s"""least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
       |    + (1.0 - abs(
       |        CAST(len(list_filter(string_split(text, ' '), x -> x IN $stops)) AS DOUBLE)
       |        / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.3)) * 0.4
       |    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
       |        / CAST(length(text) AS DOUBLE)) * 0.2""".stripMargin

  /** Oracle for the batch-25 LexiconScorer rollup (q44): same score formula
    * as q21's expression form, without the derived average column.
    */
  val sentimentOracleSql: String =
    s"""WITH t AS (
       |  SELECT lang,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $pos)) AS DOUBLE) AS pn,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $neg)) AS DOUBLE) AS nn
       |  FROM documents)
       |SELECT lang, count(*) AS n,
       |  CAST(sum(CAST(round(pn / (pn + nn + 1.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_pos_u,
       |  CAST(sum(CAST(round(nn / (pn + nn + 1.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_neg_u
       |FROM t GROUP BY lang ORDER BY lang""".stripMargin

  /** CTE chain replaying [[graft.text.TextOps.bm25TopK]] over `documents`
    * for [[bm25Queries]] — the exact integer surrogate (idf div, sat div,
    * score div), HUGEINT where Spark uses DECIMAL(38,0). Ends in
    * `bmranked(query_id, doc_id, score, rank)` with the (score DESC,
    * doc_id) tie policy of the partial top-k aggregate; consumers filter
    * `rank <= k`. Shared by q159 (the retrieval gate) and q162 (fusion).
    */
  private def bm25Ctes: String = {
    val values = bm25Queries
      .map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks WHERE len(token) > 0 GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |       FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |               CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl),
       |q(query_id, term) AS (VALUES $values),
       |dfreq AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf
       |  WHERE token IN (SELECT DISTINCT term FROM q) GROUP BY 1),
       |scored AS (
       |  SELECT q.query_id, tf.doc_id,
       |    ((2*n_docs - 2*df + 1) * 1000000) // (2*df + 1) + 1000000
       |      AS idf_micros,
       |    CAST((CAST(44 AS HUGEINT) * tf * t_tokens * 1000000)
       |      // (20*tf*t_tokens + 6*t_tokens + 18*dl.dl*n_docs)
       |      AS BIGINT) AS sat_micros
       |  FROM tf JOIN dfreq USING (token) JOIN dl USING (doc_id)
       |  CROSS JOIN tot JOIN q ON tf.token = q.term),
       |per AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum(CAST(CAST(idf_micros AS HUGEINT) * sat_micros
       |      // 1000000 AS BIGINT)) AS BIGINT) AS score
       |  FROM scored GROUP BY 1, 2),
       |bmranked AS (
       |  SELECT query_id, doc_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score DESC, doc_id) AS rank
       |  FROM per)""".stripMargin
  }

  /** Unrolled k-round BPE trainer replay (the q191 MATERIALIZED-CTE
    * pattern — DuckDB's recursive CTEs reject the correlated aggregates
    * a data-dependent argmax chain needs). Round i: p{i} = the argmax
    * pair over t{i-1} (ties lexicographic), t{i} = the greedy
    * left-to-right merge, expressed as a list_reduce fold over
    * single-element lists (accumulator type must equal element type).
    * The fold replays the scan exactly: a merged symbol re-matches as
    * the NEXT pair's left only if it EQUALS l, which needs an empty
    * right token — excluded by the single-spaced corpus.
    */
  private def bpeTrainSql(k: Int): String = {
    val rounds = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT toks[i] AS l, toks[i + 1] AS r, count(*) AS n
         |  FROM t${i - 1}, LATERAL (SELECT unnest(range(1, len(toks))) AS i) x
         |  GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1),
         |t$i AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_reduce(list_transform(toks, tk -> [tk]),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p$i.l
         |          AND x[1] = p$i.r
         |        THEN list_append(acc[1:len(acc) - 1], p$i.l || p$i.r)
         |        ELSE list_concat(acc, x) END) AS toks
         |  FROM t${i - 1}, p$i)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to k).map { i =>
      s"""SELECT $i AS step, l AS left_tok, r AS right_tok,
         |  CAST(n AS BIGINT) AS n_pairs,
         |  (SELECT CAST(sum(len(toks)) AS BIGINT) FROM t$i) AS n_tokens_after
         |FROM p$i""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH t0 AS MATERIALIZED (
       |  SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE length(text) > 0),
       |$rounds
       |SELECT * FROM ($unions) ORDER BY step""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q296_cohens_kappa" ->
      s"""WITH lab AS (
         |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
         |    CASE WHEN len(list_filter(string_split(text, ' '),
         |      x -> x IN ${sqlList(langMarkers.head._2)})) >= 1
         |      THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a) AS BIGINT) AS na, CAST(sum(b) AS BIGINT) AS nb,
         |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS g
         |  FROM lab),
         |k AS (
         |  SELECT n, na, nb, g,
         |    CAST(n AS HUGEINT) * g
         |      - (CAST(na AS HUGEINT) * nb + CAST(n - na AS HUGEINT) * (n - nb))
         |      AS knum,
         |    CAST(n AS HUGEINT) * n
         |      - (CAST(na AS HUGEINT) * nb + CAST(n - na AS HUGEINT) * (n - nb))
         |      AS kden
         |  FROM agg)
         |SELECT n, na AS n_truth_en, nb AS n_detect_en, g AS n_agree,
         |  CASE WHEN kden = 0 THEN NULL
         |       WHEN knum >= 0 THEN CAST((knum * 10000) // kden AS BIGINT)
         |       ELSE -CAST(((-knum) * 10000) // kden AS BIGINT) END AS kappa_bp
         |FROM k""".stripMargin,

    "q306_kneser_ney" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks
        |  FROM documents WHERE lang = 'en' AND length(text) > 0),
        |big AS MATERIALIZED (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2,
        |    CAST(count(*) AS BIGINT) AS c12
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |         CAST(count(*) AS BIGINT) AS t1 FROM big GROUP BY 1),
        |c2 AS (SELECT w2, CAST(count(*) AS BIGINT) AS cc2 FROM big GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM big)
        |SELECT w1, w2, c12,
        |  CAST((1000000 * c12 - 750000) // c1
        |    + ((750000 * t1 // c1) * ((1000000 * cc2) // t_types)) // 1000000
        |    AS BIGINT) AS p_u
        |FROM big JOIN c1 USING (w1) JOIN c2 USING (w2), tt
        |WHERE c12 >= 5
        |ORDER BY p_u DESC, w1, w2 LIMIT 25""".stripMargin,

    "q300_weighted_vote" ->
      s"""WITH lfs AS (
         |  SELECT lang,
         |    CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS l1,
         |    CASE WHEN len(list_distinct(string_split(text, ' '))) * 2
         |      >= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS l2,
         |    CASE WHEN len(list_filter(string_split(text, ' '),
         |      x -> x IN ${sqlList(stopwords)})) >= 1 THEN 1 ELSE 0 END AS l3
         |  FROM documents),
         |m AS (SELECT *, CASE WHEN l1 + l2 + l3 >= 2 THEN 1 ELSE 0 END AS maj
         |      FROM lfs),
         |w AS (
         |  SELECT
         |    10000 * sum(CASE WHEN l1 = maj THEN 1 ELSE 0 END) // count(*) AS w1,
         |    10000 * sum(CASE WHEN l2 = maj THEN 1 ELSE 0 END) // count(*) AS w2,
         |    10000 * sum(CASE WHEN l3 = maj THEN 1 ELSE 0 END) // count(*) AS w3
         |  FROM m),
         |v AS (
         |  SELECT lang, maj,
         |    w1 * (l1 * 2 - 1) + w2 * (l2 * 2 - 1) + w3 * (l3 * 2 - 1) AS score
         |  FROM m, w)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(maj) AS BIGINT) AS n_pos_majority,
         |  CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_pos_weighted,
         |  CAST(sum(CASE WHEN (CASE WHEN score > 0 THEN 1 ELSE 0 END) <> maj
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
         |  CAST(sum(abs(score)) AS BIGINT) AS sum_margin
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,

    "q225_bpe_train" -> bpeTrainSql(5),

    "q235_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS sw
        |  FROM documents WHERE length(text) > 0)
        |SELECT lang, CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(sw) AS BIGINT) AS n_subwords,
        |  CAST((sum(sw) * 10000) // sum(w) AS BIGINT) AS fertility_bp
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q229_packing_efficiency" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT lang, n_tok,
        |    CAST(floor(COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS pack_id
        |  FROM toks),
        |per AS (SELECT lang, pack_id, sum(n_tok) AS pack_tokens
        |        FROM packed GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_packs,
        |  CAST(sum(pack_tokens) AS BIGINT) AS n_tokens,
        |  CAST((sum(pack_tokens) * 10000) // (count(*) * 512) AS BIGINT) AS fill_bp,
        |  CAST(sum(CASE WHEN pack_tokens > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
        |  CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin,

    "q230_bigram_novelty" -> {
      s"""WITH t AS (
         |  SELECT lang, doc_id % 5 = 0 AS is_test, string_split(text, ' ') AS w
         |  FROM documents WHERE length(text) > 0),
         |b AS MATERIALIZED (
         |  SELECT lang, is_test, ${CharHash.duckdbSql("w[i] || ' ' || w[i + 1]")} AS bh
         |  FROM t, LATERAL (SELECT unnest(range(1, len(w))) AS i) r),
         |tv AS (SELECT DISTINCT lang, bh FROM b WHERE NOT is_test)
         |SELECT b.lang, CAST(count(*) AS BIGINT) AS n_test_bigrams,
         |  CAST(sum(CASE WHEN tv.bh IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_unseen,
         |  CAST((sum(CASE WHEN tv.bh IS NULL THEN 1 ELSE 0 END) * 10000)
         |    // count(*) AS BIGINT) AS novelty_bp
         |FROM b LEFT JOIN tv ON tv.lang = b.lang AND tv.bh = b.bh
         |WHERE b.is_test GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // The per-doc repetition arithmetic replayed with DuckDB list ops.
    "q238_repetition_score" ->
      """WITH t AS (
        |  SELECT lang, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4),
        |g AS (
        |  SELECT lang, CAST(len(toks) - 3 AS BIGINT) AS n4,
        |    list_transform(range(len(toks) - 3), i ->
        |      toks[i + 1] || '#' || toks[i + 2] || '#' ||
        |      toks[i + 3] || '#' || toks[i + 4]) AS grams
        |  FROM t),
        |d AS (SELECT lang, n4,
        |  (n4 - len(list_distinct(grams))) * 10000 // n4 AS rep_bp FROM g)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(rep_bp) AS BIGINT) AS sum_rep_bp,
        |  CAST(sum(rep_bp) // count(*) AS BIGINT) AS mean_rep_bp,
        |  CAST(sum(CASE WHEN rep_bp > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_dup
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,

    // Quota + ranked-remainder top-up, exactly as the Spark plan runs it.
    "q239_token_budget_apportion" ->
      """WITH c AS (
        |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |    AS tok_n
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(tok_n) AS BIGINT) AS total FROM c),
        |b AS (
        |  SELECT lang, tok_n,
        |    1000000 * tok_n // total AS base,
        |    (1000000 * tok_n) % total AS rem
        |  FROM c, t),
        |r AS (SELECT CAST(1000000 - sum(base) AS BIGINT) AS seats FROM b),
        |rk AS (SELECT lang, tok_n, base,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rn FROM b)
        |SELECT rk.lang, rk.tok_n,
        |  CAST(rk.base + CASE WHEN rk.rn <= r.seats THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM rk, r ORDER BY rk.lang""".stripMargin,

    "q159_bm25_search" ->
      s"""WITH $bm25Ctes
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rank AS BIGINT) AS rank, doc_id, score AS score_micros
         |FROM bmranked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // RRF fusion: BM25 top-20 ⊕ dense cosine top-20, contribution
    // 1e6 // (60 + rank) per list, fused rank by (sum DESC, id). The
    // dense side replays bruteForceTopK's self-exclusion and (sim DESC,
    // id) ordering.
    "q162_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |dq(query_id) AS (VALUES (1), (2), (3)),
         |dense AS (
         |  SELECT dq.query_id, c.vec_id AS id,
         |    row_number() OVER (PARTITION BY dq.query_id
         |      ORDER BY ${DedupQueries.cosineSql("c.embedding", "qe.embedding")} DESC,
         |        c.vec_id) AS rank
         |  FROM embeddings c CROSS JOIN dq
         |  JOIN embeddings qe ON qe.vec_id = dq.query_id
         |  WHERE c.vec_id <> dq.query_id),
         |contrib AS (
         |  SELECT query_id, doc_id AS id, 1000000 // (60 + rank) AS contrib
         |  FROM bmranked WHERE rank <= 20
         |  UNION ALL
         |  SELECT query_id, id, 1000000 // (60 + rank) FROM dense
         |  WHERE rank <= 20),
         |fused AS (
         |  SELECT query_id, id, CAST(sum(contrib) AS BIGINT) AS rrf_micros
         |  FROM contrib GROUP BY 1, 2),
         |r AS (
         |  SELECT query_id, id, rrf_micros,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_micros DESC, id) AS rank
         |  FROM fused)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(rank AS BIGINT) AS rank, id, rrf_micros
         |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // quantile_cont replays Spark's exact `percentile` (both interpolate
    // the half-sum of two ints — exact in binary); the majority lang is
    // the (count DESC, lang) window head.
    "q174_data_card" -> {
      val fp = CharHash.duckdbSql("text")
      s"""WITH d AS (
         |  SELECT source, lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
         |    $fp AS fp
         |  FROM documents),
         |base AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(toks) AS BIGINT) AS total_tokens,
         |    CAST(sum(toks) // count(*) AS BIGINT) AS mean_tokens,
         |    quantile_cont(toks, 0.5) AS p50_tokens,
         |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |    CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs
         |  FROM d GROUP BY 1),
         |top AS (
         |  SELECT source, lang AS top_lang FROM (
         |    SELECT source, lang,
         |      row_number() OVER (PARTITION BY source
         |        ORDER BY count(*) DESC, lang) AS rn
         |    FROM d GROUP BY source, lang)
         |  WHERE rn = 1)
         |SELECT base.source, n_docs, total_tokens, mean_tokens, p50_tokens,
         |  n_langs, top_lang, n_dup_docs
         |FROM base JOIN top USING (source) ORDER BY source""".stripMargin
    },

    // Unigram counts over ALL tokens, T = total pairs, HUGEINT products
    // replaying the DECIMAL(38,0) arithmetic; same tie policy.
    "q163_pmi_collocations" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE length(text) > 0
        |), pairs AS (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
        |), pc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pairs GROUP BY 1, 2
        |), uni AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cu FROM (
        |    SELECT unnest(toks) AS tok FROM t) WHERE len(tok) > 0
        |  GROUP BY 1
        |), tot AS (SELECT CAST(sum(c12) AS BIGINT) AS t_pairs FROM pc)
        |SELECT w1, w2, c12, u1.cu AS c1, u2.cu AS c2,
        |  CAST((CAST(c12 AS HUGEINT) * t_pairs * 1000000)
        |    // (CAST(u1.cu AS HUGEINT) * u2.cu) AS BIGINT) AS pmi_micros
        |FROM pc
        |JOIN uni u1 ON u1.tok = pc.w1
        |JOIN uni u2 ON u2.tok = pc.w2
        |CROSS JOIN tot
        |WHERE c12 >= 5
        |ORDER BY pmi_micros DESC, w1, w2 LIMIT 25""".stripMargin,

    // Same pairing idiom as q144 (1-based list index, range end-exclusive);
    // `//` replays Spark's `div`, HUGEINT sum replays the DECIMAL(38,0).
    "q161_lm_quality" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE length(text) > 0
        |), pairs AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
        |), big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM pairs GROUP BY 1, 2
        |), lft AS (
        |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM big GROUP BY 1
        |), sc AS (
        |  SELECT doc_id, (c1 * 1000000) // c12 AS sur
        |  FROM pairs JOIN big USING (w1, w2) JOIN lft USING (w1)
        |  WHERE doc_id % 7 = 0)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(sur) // count(*) AS BIGINT) AS sur_micros
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q148_epoch_shuffle" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 8 AS shard,
         |    ${CharHash.duckdbSql("concat(CAST(doc_id AS VARCHAR), '#e3')")} AS k
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, shard,
         |    CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id)
         |      AS BIGINT) AS pos
         |  FROM t)
         |SELECT shard, count(*) AS n_docs,
         |  min_by(doc_id, pos) AS first_doc,
         |  max_by(doc_id, pos) AS last_doc,
         |  CAST(sum(pos * doc_id) AS BIGINT) AS perm_sig
         |FROM p GROUP BY shard ORDER BY shard""".stripMargin,

    // Same waterfill arithmetic: integer division (// ≡ Spark div),
    // cutoff = first row whose candidate level fits under its own count.
    "q150_token_waterfill" ->
      s"""WITH $waterfillCtes
         |SELECT source, c AS n_tokens, alloc AS alloc_tokens
         |FROM wf ORDER BY source""".stripMargin,

    // The waterfill chain + the q137-style hash keep-rate, replayed.
    "q155_epoch_compose" ->
      s"""WITH $waterfillCtes,
         |rate AS (SELECT source, c, alloc, (alloc * 10000) // c AS rate_bp FROM wf),
         |d AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents WHERE length(text) > 0),
         |kept AS (
         |  SELECT d.doc_id, d.source, d.toks, r.alloc
         |  FROM d JOIN rate r USING (source)
         |  WHERE ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 10000 < r.rate_bp)
         |SELECT source, count(*) AS n_kept,
         |  CAST(sum(toks) AS BIGINT) AS kept_tokens,
         |  CAST(min(alloc) AS BIGINT) AS alloc_tokens
         |FROM kept GROUP BY source ORDER BY source""".stripMargin,

    // q30: oracle the exact distinct count; the HLL estimate is checked
    // in-query against the 5% tolerance and surfaces only as a boolean,
    // so the approximate path sits under the hash gate too.
    "q30_approx_users" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  true AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q137_weighted_sample" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(round(($qualitySql) * 1000000.0) AS BIGINT) AS q_u
         |  FROM documents)
         |SELECT lang, count(*) AS n_kept,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(q_u) AS BIGINT) AS sum_q_u
         |FROM d
         |WHERE (654435747 * (${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")})
         |    + 13904216) % 1000000007 % 1000000
         |  < least(greatest(q_u, 0), 1000000)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q251_sample_calibration" ->
      s"""WITH d AS (
         |  SELECT lang, doc_id,
         |    CAST(round(($qualitySql) * 1000000.0) AS BIGINT) AS q_u
         |  FROM documents),
         |k AS (
         |  SELECT lang, count(*) AS n_kept FROM d
         |  WHERE (654435747 * (${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")})
         |      + 13904216) % 1000000007 % 1000000
         |    < least(greatest(q_u, 0), 1000000)
         |  GROUP BY lang),
         |e AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(q_u) AS BIGINT) AS e_micros,
         |    sum(CAST(q_u AS DECIMAL(38,0)) * (1000000 - q_u)) AS var2
         |  FROM d GROUP BY lang)
         |SELECT e.lang, n_docs,
         |  CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
         |  e_micros,
         |  CAST(coalesce(n_kept, 0) * 1000000 - e_micros AS BIGINT)
         |    AS dev_micros,
         |  (CAST(coalesce(n_kept, 0) * 1000000 - e_micros AS DECIMAL(38,0))
         |     * (coalesce(n_kept, 0) * 1000000 - e_micros) <= 36 * var2)
         |    AS ok_6sigma
         |FROM e LEFT JOIN k USING (lang) ORDER BY e.lang""".stripMargin,

    "q123_temperature_mix" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 5 THEN 'common'
         |         WHEN doc_id % 10 < 8 THEN 'mid'
         |         ELSE 'rare' || CAST(doc_id % 2 AS VARCHAR) END AS mix_src
         |  FROM documents),
         |c AS (SELECT mix_src, count(*) AS n_s FROM d GROUP BY mix_src),
         |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
         |             CAST(count(*) AS BIGINT) AS k_strata FROM c),
         |r AS (SELECT mix_src,
         |        CAST(floor(least(1.0,
         |          sqrt((CAST(n_total AS DOUBLE) / k_strata) / n_s)) * 10000)
         |          AS BIGINT) AS rate_bp
         |      FROM c, t)
         |SELECT mix_src, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM d JOIN r USING (mix_src)
         |WHERE ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 10000 < rate_bp
         |GROUP BY mix_src ORDER BY mix_src""".stripMargin,

    "q119_curriculum" ->
      s"""WITH t AS (
         |  SELECT lang, doc_id,
         |    CAST(round(($qualitySql) * 1000000.0) AS BIGINT) AS q_u
         |  FROM documents),
         |b AS (
         |  SELECT lang, q_u,
         |    CAST(ntile(10) OVER (PARTITION BY lang ORDER BY q_u, doc_id) AS INT) AS bin
         |  FROM t)
         |SELECT lang, bin, count(*) AS n,
         |  min(q_u) AS min_q_u, max(q_u) AS max_q_u
         |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,

    "q121_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 4
        |       WHEN 0 THEN 'https://www.news-example.com/'
        |       WHEN 1 THEN 'https://news-example.com/'
        |       WHEN 2 THEN 'HTTPS://NEWS-EXAMPLE.COM/'
        |       ELSE 'https://news-example.com/' END)
        |    || source || '/' || CAST(doc_id % 50 AS VARCHAR)
        |    || (CASE doc_id % 4
        |       WHEN 0 THEN '' WHEN 1 THEN '/'
        |       WHEN 2 THEN '?utm_campaign=x' ELSE '#section-2' END) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              regexp_replace(
        |                lower(regexp_extract(url, '^([^/]*//[^/]*)', 1))
        |                  || regexp_replace(url, '^[^/]*//[^/]*', ''),
        |                '^([^/]*//)www\.', '\1'),
        |              '#.*', ''),
        |            '^([^?]*)\?', '\1&'),
        |          '&utm_[^&#]*', '', 'g'),
        |        '^([^&]*)&', '\1?'),
        |      '/$', '') AS canonical_url
        |  FROM u)
        |SELECT canonical_url, count(*) AS n_dups, min(doc_id) AS keeper
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    "q110_balanced_sample" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |m AS (SELECT min(n) AS k FROM c),
         |r AS (SELECT lang AS stratum, doc_id,
         |        row_number() OVER (PARTITION BY lang
         |          ORDER BY (654435747 * (${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")})
         |            + 13904216) % 1000000007 DESC, doc_id)
         |          AS rn
         |      FROM documents)
         |SELECT stratum, doc_id FROM r, m WHERE rn <= m.k
         |ORDER BY stratum, doc_id""".stripMargin,

    "q107_repetition" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |unic AS (SELECT doc_id, t, count(*) AS c
        |         FROM (SELECT doc_id, unnest(w) AS t FROM toks) GROUP BY 1, 2),
        |uni AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |          CAST(count(*) AS BIGINT) AS n_distinct,
        |          CAST(max(c) AS BIGINT) AS top_c
        |        FROM unic GROUP BY 1),
        |bgc AS (SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(w)),
        |      i -> w[i] || ' ' || w[i+1])) AS bg FROM toks) GROUP BY 1, 2),
        |bi AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
        |         CAST(count(*) AS BIGINT) AS ndb FROM bgc GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  CAST(top_c * 10000 // n_tokens AS BIGINT) AS top_token_bp,
        |  CAST(COALESCE((nb - ndb) * 10000 // nb, 0) AS BIGINT) AS dup_bigram_bp,
        |  (top_c * 10000 // n_tokens >= 1200
        |    OR COALESCE((nb - ndb) * 10000 // nb, 0) >= 800) AS repetitive
        |FROM uni LEFT JOIN bi USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Shingle identity is the shared hashed form (DedupQueries.shingleCtes
    // mirrors the engine's shingle_hashes expression exactly), so the
    // exchange key is a long on both sides.
    "q108_boilerplate" ->
      s"""WITH ${DedupQueries.shingleCtes(3, " source,")},
         |occ AS (SELECT source, hh, CAST(count(*) AS BIGINT) AS nds
         |        FROM (SELECT source, unnest(hs) AS hh FROM h) GROUP BY 1, 2),
         |agg AS (SELECT source, CAST(sum(nds) AS BIGINT) AS n_shingle_occ,
         |          CAST(sum(CASE WHEN nds >= 3 THEN nds ELSE 0 END) AS BIGINT)
         |            AS n_boiler_occ
         |        FROM occ GROUP BY 1),
         |nd AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |       FROM documents GROUP BY 1)
         |SELECT agg.source, n_shingle_occ, n_boiler_occ, n_docs
         |FROM agg JOIN nd USING (source) ORDER BY source""".stripMargin,

    "q95_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks WHERE len(token) > 0 GROUP BY doc_id, token),
        |dfreq AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |      FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    CAST((tf.tf * 1000000 * n.n_docs) // dfreq.df AS BIGINT) AS score_micros
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, token, tf, df, score_micros,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_micros DESC, token) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, token, tf, df, score_micros FROM ranked
        |WHERE rank <= 3 AND doc_id % 17 = 0
        |ORDER BY doc_id, rank""".stripMargin,

    "q89_vocab" ->
      """SELECT lang, rank, token, n FROM (
        |  SELECT lang, token, CAST(count(*) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS rank
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        |  WHERE len(token) > 0
        |  GROUP BY lang, token)
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q254_good_turing" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, count(*) AS c FROM t
        |      WHERE len(token) > 0 GROUP BY lang, token)
        |SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS v_types,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        |  CAST((1000000 * sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)) // sum(c)
        |    AS BIGINT) AS unseen_micros
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,

    // The per-code-point histogram replayed via string_split(text, '')
    // (DuckDB splits an empty delimiter into code points — the same unit
    // as the kernel's codePointAt walk).
    "q255_char_diversity" ->
      """WITH ch AS (
        |  SELECT doc_id, lang, unnest(string_split(text, '')) AS c
        |  FROM documents WHERE length(text) > 0),
        |h AS (SELECT doc_id, lang, c, count(*) AS n FROM ch GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, lang, sum(n) AS n_cp, count(*) AS dcp,
        |        sum(n * n) AS coll, max(n) AS mx
        |      FROM h GROUP BY 1, 2),
        |m AS (SELECT lang, n_cp, dcp,
        |        (1000000 * coll) // (n_cp * n_cp) AS cm,
        |        (1000000 * mx) // n_cp AS tsm
        |      FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_cp) AS BIGINT) AS n_cp_total,
        |  CAST(min(dcp) AS BIGINT) AS min_distinct,
        |  CAST(max(cm) AS BIGINT) AS max_collision_micros,
        |  CAST(sum(CASE WHEN cm > 100000 OR dcp < 10 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low_diversity,
        |  CAST(max(tsm) AS BIGINT) AS max_top_share_micros
        |FROM m GROUP BY lang ORDER BY lang""".stripMargin,

    "q258_readability" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS w,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sn,
        |    CAST(len(regexp_extract_all(text, '[aeiouAEIOU]+')) AS BIGINT) AS sy
        |  FROM documents),
        |f AS (
        |  SELECT lang, w, sn, sy,
        |    206835000 - (1015000 * w) // sn - (84600000 * sy) // w
        |      AS flesch_micros
        |  FROM d WHERE w > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS n_words,
        |  CAST(sum(sn) AS BIGINT) AS n_sentences,
        |  CAST(sum(sy) AS BIGINT) AS n_syllables,
        |  CAST(sum(flesch_micros) AS BIGINT) AS sum_flesch_micros,
        |  CAST(min(flesch_micros) AS BIGINT) AS min_flesch_micros,
        |  CAST(max(flesch_micros) AS BIGINT) AS max_flesch_micros
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q269_oov_surprisal" ->
      """WITH t AS (
        |  SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |toks AS (SELECT lang, doc_id, token FROM t WHERE len(token) > 0),
        |vocab AS (
        |  SELECT token, count(*) AS c FROM toks
        |  WHERE doc_id % 10 < 8 GROUP BY token),
        |ranked AS (
        |  SELECT token, row_number() OVER (ORDER BY c DESC, token) AS rnk
        |  FROM vocab),
        |j AS (
        |  SELECT lang, rnk FROM toks LEFT JOIN ranked USING (token)
        |  WHERE doc_id % 10 >= 8),
        |a AS (
        |  SELECT lang, count(*) AS n_tokens,
        |    sum(CASE WHEN rnk IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |    coalesce(sum(rnk), 0) AS sum_rank
        |  FROM j GROUP BY lang)
        |SELECT lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_oov AS BIGINT) AS n_oov,
        |  CAST((1000000 * n_oov) // n_tokens AS BIGINT) AS oov_micros,
        |  CAST(CASE WHEN n_tokens > n_oov
        |    THEN sum_rank // (n_tokens - n_oov) ELSE 0 END AS BIGINT)
        |    AS mean_rank
        |FROM a ORDER BY lang""".stripMargin,

    "q272_exact_split" ->
      s"""WITH r AS (
         |  SELECT lang, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY (654435747 * (${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")})
         |        + 13904216) % 1000000007, doc_id) AS r
         |  FROM documents),
         |t AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
         |a AS (
         |  SELECT r.lang, n_chars,
         |    CASE WHEN r.r <= (8 * t.n) // 10 THEN 'train'
         |         WHEN r.r <= (9 * t.n) // 10 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM r JOIN t USING (lang))
         |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM a GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // Adjacent pairs via a lateral index range (DuckDB has no WITH
    // ORDINALITY); 1-based list indexing, range end-exclusive, so
    // i ∈ [1, len) pairs toks[i] with toks[i+1] — exactly the Spark
    // side's zip-with-tail.
    "q144_bpe_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE length(text) > 0
        |), pairs AS (
        |  SELECT toks[i] AS left_tok, toks[i + 1] AS right_tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
        |)
        |SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS n_pairs
        |FROM pairs GROUP BY 1, 2
        |ORDER BY n_pairs DESC, left_tok, right_tok LIMIT 25""".stripMargin,

    // Same chunking convention: list slicing is 1-based inclusive, //
    // is integer division, range() end-exclusive.
    "q146_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE length(text) > 0
        |), sized AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t
        |), x AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, (n + 39) // 40)) AS chunk_id
        |  FROM sized
        |), c AS (
        |  SELECT doc_id, chunk_id,
        |    toks[chunk_id * 40 + 1 : least(chunk_id * 40 + 50, n)] AS chunk
        |  FROM x
        |)
        |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_tokens,
        |  CAST(length(array_to_string(chunk, ' ')) AS BIGINT) AS chunk_chars
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q85_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM documents""".stripMargin
      Seq("doc_id", "lang", "source", "n_chars").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q78_stratified_sample" ->
      s"""SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 100 <
         |  (CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 100
         |             WHEN 'fr' THEN 100 WHEN 'es' THEN 50 ELSE 10 END)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q75_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or https://ex'
        |      || CAST(doc_id % 10 AS VARCHAR) || '.org/path now',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://\S+', '<URL>', 'g') AS clean
        |FROM documents WHERE doc_id < 50 ORDER BY doc_id""".stripMargin,

    "q74_sequence_pack" ->
      """WITH toks AS (
        |  SELECT lang, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |packed AS (
        |  SELECT lang, n_tok,
        |    CAST(floor(COALESCE(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0) AS BIGINT) AS pack_id
        |  FROM toks)
        |SELECT lang, pack_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS pack_tokens
        |FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id""".stripMargin,

    "q19_sentinel_scrub" ->
      """SELECT event_type_clean, count(*) AS n FROM (
        |  SELECT CASE WHEN event_type IN ('error') THEN NULL ELSE event_type END AS event_type_clean
        |  FROM events)
        |WHERE event_type_clean IS NOT NULL
        |GROUP BY event_type_clean ORDER BY event_type_clean""".stripMargin,

    "q20_content_gate" ->
      """SELECT lang, count(*) AS n FROM documents
        |WHERE length(text) <= 400
        |  AND NOT (contains(lower(text), 'spark') OR contains(lower(text), 'slow'))
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q21_sentiment" ->
      s"""WITH t AS (
         |  SELECT lang,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $pos)) AS DOUBLE) AS pn,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x IN $neg)) AS DOUBLE) AS nn
         |  FROM documents)
         |SELECT lang, n, sum_pos_u, sum_neg_u, CAST(sum_pos_u AS DOUBLE) / 1000000.0 / n AS avg_pos
         |FROM (
         |  SELECT lang, count(*) AS n,
         |    CAST(sum(CAST(round(pn / (pn + nn + 1.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_pos_u,
         |    CAST(sum(CAST(round(nn / (pn + nn + 1.0) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_neg_u
         |  FROM t GROUP BY lang)
         |ORDER BY lang""".stripMargin,

    "q22_claim_topk" ->
      """SELECT doc_id,
        |  CAST((length(text) * 31 + len(string_split(text, ' ')) * 7) % 1000 AS DOUBLE) / 1000.0 AS claim
        |FROM documents ORDER BY claim DESC, doc_id LIMIT 10""".stripMargin,

    "q23_translate_stats" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(length(translate(text, 'áàâäéèêëíìîïóòôöúùûüñç', 'aaaaeeeeiiiioooouuuunc'))) AS BIGINT) AS sum_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q24_langid" ->
      s"""WITH c AS (
         |  SELECT
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(0)._2)})) AS c_en,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(1)._2)})) AS c_de,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(2)._2)})) AS c_es,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(3)._2)})) AS c_fr
         |  FROM documents),
         |p AS (
         |  SELECT CASE
         |    WHEN c_en > 0 AND c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
         |    WHEN c_de > 0 AND c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
         |    WHEN c_es > 0 AND c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
         |    WHEN c_fr > 0 AND c_fr = greatest(c_en, c_de, c_es, c_fr) THEN 'fr'
         |    ELSE 'und' END AS lang_pred
         |  FROM c)
         |SELECT lang_pred, count(*) AS n FROM p GROUP BY lang_pred ORDER BY lang_pred""".stripMargin,

    "q248_langid_agreement" ->
      s"""WITH c AS (
         |  SELECT lang,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(0)._2)})) AS c_en,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(1)._2)})) AS c_de,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(2)._2)})) AS c_es,
         |    len(list_filter(string_split(text, ' '), x -> x IN ${sqlList(langMarkers(3)._2)})) AS c_fr
         |  FROM documents),
         |p AS (
         |  SELECT lang, CASE
         |    WHEN c_en > 0 AND c_en = greatest(c_en, c_de, c_es, c_fr) THEN 'en'
         |    WHEN c_de > 0 AND c_de = greatest(c_en, c_de, c_es, c_fr) THEN 'de'
         |    WHEN c_es > 0 AND c_es = greatest(c_en, c_de, c_es, c_fr) THEN 'es'
         |    WHEN c_fr > 0 AND c_fr = greatest(c_en, c_de, c_es, c_fr) THEN 'fr'
         |    ELSE 'und' END AS lang_pred
         |  FROM c)
         |SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q25_quality" ->
      s"""WITH t AS (
         |  SELECT source,
         |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.4
         |    + (1.0 - abs(
         |        CAST(len(list_filter(string_split(text, ' '), x -> x IN $stops)) AS DOUBLE)
         |        / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.3)) * 0.4
         |    + (1.0 - CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
         |        / CAST(length(text) AS DOUBLE)) * 0.2 AS q
         |  FROM documents)
         |SELECT source, n, sum_q_u, CAST(sum_q_u AS DOUBLE) / 1000000.0 / n AS avg_q
         |FROM (
         |  SELECT source, count(*) AS n,
         |    CAST(sum(CAST(round(q * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_q_u
         |  FROM t GROUP BY source)
         |ORDER BY source""".stripMargin,

    "q26_token_stats" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT) AS sum_subwords
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q27_fingerprint" ->
      s"""SELECT doc_id, ${CharHash.duckdbSql("text")} AS fp
         |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q56_hash_sample" ->
      s"""SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM documents
         |WHERE ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 100 < 30
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q57_training_prep" ->
      s"""WITH gated AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE length(text) <= 600
         |    AND NOT (contains(lower(text), 'spark') OR contains(lower(text), 'slow'))),
         |quality AS (
         |  SELECT * FROM gated WHERE $qualitySql > 0.5),
         |dedup AS (
         |  SELECT text, min(doc_id) AS doc_id, min(lang) AS lang FROM quality GROUP BY text),
         |sampled AS (
         |  SELECT * FROM dedup WHERE ${CharHash.duckdbSql("CAST(doc_id AS VARCHAR)")} % 100 < 50)
         |SELECT lang, count(*) AS n,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
         |FROM sampled GROUP BY lang ORDER BY lang""".stripMargin,

    "q55_native_blacklist" -> {
      val noTerm = bigBlacklist
        .map(t => s"contains(lower(text), '${t.toLowerCase}')").mkString(" OR ")
      s"""SELECT source, count(*) AS n FROM documents
         |WHERE length(text) <= 600 AND NOT ($noTerm)
         |GROUP BY source ORDER BY source""".stripMargin
    },

    "q40_charhash_native" ->
      s"""SELECT doc_id, ${CharHash.duckdbSql("text")} AS fp
         |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "q28_dedup_exact" ->
      """SELECT count(*) AS n_unique, CAST(sum(doc_id) AS BIGINT) AS sum_min_ids FROM (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)""".stripMargin,

    "q29_bipartite_degree" ->
      """SELECT event_type, count(*) AS degree FROM (
        |  SELECT DISTINCT user_id, event_type FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q279_template_prefix" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
        |      AS prefix
        |  FROM documents),
        |t AS (SELECT prefix FROM p GROUP BY prefix HAVING count(*) >= 2)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN t.prefix IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_templated,
        |  CAST(count(DISTINCT t.prefix) AS BIGINT) AS n_template_prefixes
        |FROM p LEFT JOIN t ON p.prefix = t.prefix
        |GROUP BY source ORDER BY source""".stripMargin)
}
