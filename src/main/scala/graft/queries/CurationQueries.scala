package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{CoreOps, EntityResolution, Intervals}
import graft.similarity.Similarity
import graft.text.TextOps
import graft.expressions.CharHash

/** Wave 8 — corpus-curation operators: prefix-filtering set-similarity
  * join (the frequency-adaptive blocking family), CCNet-style sub-document
  * boilerplate REMOVAL with reconstruction, MAD-based robust outlier
  * sweeps (the heavy-tail-safe twin of q128's 3σ), and DSIR-style
  * importance scoring for target-distribution data selection. Every
  * number is integer-exact so the DuckDB oracle replays it bit-for-bit.
  */
object CurationQueries {

  import CoreOps.cents

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Compaction planner — the small-files answer every lakehouse job
    // schedules: a date-ordered file manifest (one simulated file per
    // l_shipdate; bytes = fixed row overhead + payload) packed NEXT-FIT
    // into ~256 KiB compaction bins by running total: bin = the file's
    // START offset div target, i.e. a file opens a new bin exactly when
    // the running total crosses the target. The cumulative sum rides
    // CoreOps.rangePrefixSums (one range exchange + P×1 boundary
    // artifact — no global window), so the plan is the same at 2,500
    // files or 2.5M. Per-bin report: files, bytes, day span.
    "q301_compaction_bins" -> ((s, dir) => {
      val target = 262144L
      val manifest = Tables.load(s, dir, "lineitem")
        .groupBy(expr(
          "unix_micros(CAST(l_shipdate AS TIMESTAMP)) div 86400000000")
          .as("day"))
        .agg((count(lit(1)) * 64L +
          sum(expr("CAST(round(l_quantity) AS BIGINT)"))).as("bytes"))
      CoreOps.rangePrefixSums(manifest, Seq.empty, Seq(col("day")),
          Seq("bytes"))
        .withColumn("bin",
          expr(s"(bytes_cum - bytes) div ${target}L"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
          min(col("day")).as("day_min"), max(col("day")).as("day_max"))
        .orderBy(col("bin"))
    }),

    // Exact-size stratified sample — the deterministic "give me exactly
    // k docs per language" primitive (q137's weighted sampler keeps a
    // RANDOM-SIZED subset; release pipelines need fixed-size pools for
    // eval sets and annotation batches). Order is a portable salted
    // hash, so the sample is reproducible across engines and runs; the
    // kernel is the k-bounded partial top-k AGGREGATE (functions/
    // TopKAgg) — each map task ships ≤ k rows per stratum, never a
    // window sort over the corpus.
    "q302_stratified_sample" -> ((s, dir) => {
      val k = 50
      // doc_id reduces mod p BEFORE the Knuth multiply: the raw product
      // wraps int64 past doc_id ≈ 3.47e9 (Spark wraps silently, DuckDB
      // raises — an engine divergence, ADVICE r13). (p−1)·2654435761 ≈
      // 5.7e18 < 2^63, so the reduced form is overflow-free for ANY
      // BIGINT doc_id and value-identical below 2^31 (where id mod p = id).
      val h = ((col("doc_id") % 2147483647L) * 2654435761L) % 2147483647L
      Tables.load(s, dir, "documents")
        .select(col("lang"), col("doc_id"), h.as("h"))
        .groupBy(col("lang"))
        .agg(graft.functions.TopKAgg.topK(k, col("h"), col("doc_id"))
          .as("top"))
        .select(col("lang"), posexplode(col("top")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.id").as("doc_id"))
        .orderBy(col("lang"), col("rnk"))
    }),

    // Dataset card — the per-language statistics table a corpus release
    // ships (docs, tokens, EXACT median length, mean quality, exact-dup
    // rate, benchmark-contamination rate): five kernels this library
    // already gates individually (token counts, rangePrefixSums median,
    // quality micros, distinct-text dup share, shingle decontam), joined
    // into one bounded report. Every number integer-exact; rates in bp
    // via the shared truncation div.
    "q304_dataset_card" -> ((s, dir) => {
      import graft.queries.{TextQueries => TQ}
      val corpus = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 97 =!= 0)
        .localCheckpoint() // five consumers
      val base = corpus.groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
        sum(CoreOps.cents(TextOps.qualityScore(col("text"), TQ.stopwords), 6))
          .as("q_sum"),
        countDistinct(col("text")).as("n_distinct"))
      val lens = corpus
        .groupBy(col("lang"), size(split(col("text"), " ")).cast("long")
          .as("ntok"))
        .agg(count(lit(1)).as("cnt"))
      val med = CoreOps.rangePrefixSums(lens, Seq("lang"), Seq(col("ntok")),
          Seq("cnt"))
        .join(broadcast(base.select(col("lang"), col("n_docs"))), "lang")
        .groupBy(col("lang"))
        .agg(min(when(col("cnt_cum") * 2 >= col("n_docs"), col("ntok")))
          .as("p50_tokens"))
      val bench = Tables.load(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
      val cont = graft.dedup.Dedup.decontaminate(corpus, bench,
          "doc_id", "text", shingleK = 3, minOverlap = 2)
        .join(corpus.select(col("doc_id").as("id"), col("lang")), "id")
        .groupBy(col("lang"))
        .agg(sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_cont"))
      base.join(med, "lang").join(cont, "lang")
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          col("p50_tokens"),
          expr("q_sum div n_docs").as("mean_quality_u"),
          expr("10000 * (n_docs - n_distinct) div n_docs").as("dup_rate_bp"),
          expr("10000 * n_cont div n_docs").as("contaminated_bp"))
        .orderBy(col("lang"))
    }),

    // AllPairs/PPJoin prefix-filtering similarity self-join over 3-shingle
    // sets at Jaccard ≥ 0.7: candidates must share one of each doc's
    // RAREST shingles (global-frequency order), so the candidate join
    // fans out by rare-element df instead of hot-element df — 28
    // candidate pairs at sf0.01 where all-pairs would be 12.5M. Exact
    // verify via integer cross-multiplied Jaccard; per-lang rollup.
    // Shingles travel as the codegen'd 8-byte `shingle_hashes` (q31/q186
    // semantics): the frequency join, prefix explode, and candidate join
    // all exchange longs, never trigram strings — the string form cost
    // 16.8 s at sf0.1 against 6-7 s hashed, in BOTH engines.
    "q187_prefix_simjoin" -> ((s, dir) => {
      org.apache.spark.sql.GraftFunctions.register(s)
      val r = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          call_function("shingle_hashes", col("text"), lit(3)).as("ts"))
        .filter(size(col("ts")) >= 1)
      EntityResolution.prefixFilterPairs(r, "doc_id", col("ts"), 7, 10,
          carryCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("inter")).as("sum_inter"),
          sum(col("sz_a") + col("sz_b") - col("inter")).as("sum_union"))
        .orderBy(col("lang"))
    }),


    // CCNet-style boilerplate chunk removal: 10-token chunks appearing in
    // ≥ 3 distinct docs (by portable fingerprint) are dropped and each doc is
    // REBUILT from its surviving chunks in order — the rewrite q186 only
    // measures. The per-source rollup gates the reconstruction itself via
    // the summed fingerprint of the rebuilt texts.
    "q188_chunk_dedup" -> ((s, dir) => {
      TextOps.removeBoilerplateChunks(Tables.load(s, dir, "documents"),
          "doc_id", "text", w = 10, minDocs = 3L, carryCols = Seq("source"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chunks")).as("n_chunks"),
          sum(col("n_dropped")).as("n_dropped"),
          sum(when(col("new_text") === "", 1L).otherwise(0L)).as("n_emptied"),
          sum(graft.dedup.Dedup.charHash(col("new_text"))).as("sum_fp"))
        .orderBy(col("source"))
    }),


    // MAD-based robust outliers per event_type — the heavy-tail-safe twin
    // of q128's 3σ sweep (one gross outlier corrupts mean AND stddev; the
    // median/MAD pair has a 50% breakdown point). Exact order statistics
    // from CoreOps.rangeRank twice (values, then absolute deviations), in
    // doubled/quadrupled integer cents so even-n midpoints stay integers:
    // med2 = 2·median, mad2 = 4·MAD, and the consistent-3σ rule
    // |x−med| > 3·1.4826·MAD becomes dv·20000 > 44478·mad2 with
    // dv = 2|x−med| — no floats anywhere.
    "q189_mad_outliers" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"), cents(col("value")).as("v_c"))
      val n = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .withColumn("k_lo", expr("(n + 1) div 2"))
        .withColumn("k_hi", expr("(n + 2) div 2"))
      val med = CoreOps.rangeRank(e, Seq("event_type"),
          Seq(col("v_c"), col("event_id")))
        .join(broadcast(n), "event_type")
        .filter(col("rank") === col("k_lo") || col("rank") === col("k_hi"))
        .groupBy(col("event_type")).agg(
          (min(when(col("rank") === col("k_lo"), col("v_c"))) +
            min(when(col("rank") === col("k_hi"), col("v_c")))).as("med2"))
      val d = e.join(broadcast(med), "event_type")
        .withColumn("dv", abs(col("v_c") * 2 - col("med2")))
      val mad = CoreOps.rangeRank(
          d.select(col("event_type"), col("event_id"), col("dv")),
          Seq("event_type"), Seq(col("dv"), col("event_id")))
        .join(broadcast(n), "event_type")
        .filter(col("rank") === col("k_lo") || col("rank") === col("k_hi"))
        .groupBy(col("event_type")).agg(
          (min(when(col("rank") === col("k_lo"), col("dv"))) +
            min(when(col("rank") === col("k_hi"), col("dv")))).as("mad2"))
      d.join(broadcast(mad), "event_type").join(broadcast(n), "event_type")
        .groupBy(col("event_type"))
        .agg(min(col("n")).as("n"), min(col("med2")).as("med2"),
          min(col("mad2")).as("mad2"),
          sum(when(col("dv") * 20000 > col("mad2") * 44478, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    }),


    // DSIR-style data selection: score every doc by mean token-level
    // target/raw frequency ratio (target = the curated src1/src2 slice),
    // integer-floor-divided at 1e6 scale; the 25 most target-like docs.
    "q190_importance_select" -> ((s, dir) => {
      TextOps.importanceScores(Tables.load(s, dir, "documents"),
          "doc_id", "text", col("source").isin("src1", "src2"),
          carryCols = Seq("source"))
        .select(col("doc_id"), col("source"), col("n_tok"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(25)
    }),


    // MMR diversified re-ranking (λ = 0.7): 5 picks from the 20 most
    // query-similar vectors, each step trading relevance against max
    // similarity to what's already chosen. Relevance is one distributed
    // kernel pass + TakeOrdered; only the 20 candidates reach the driver.
    "q191_mmr_rerank" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.mmrRerank(e.filter(col("vec_id") =!= 0), qv,
          "vec_id", "embedding", topN = 20, k = 5, relW = 7L, divW = 3L)
        .select(col("step"), col("id").as("vec_id"), col("rel"))
        .orderBy(col("step"))
    }),


    // k-Center greedy coreset (farthest-first, Sener & Savarese 2018):
    // 5 picks covering the embedding space — each step one distributed
    // corpus scan against the broadcast chosen set + TakeOrdered(1);
    // integer-micro L2 so the oracle replays every pick.
    "q209_kcenter_coreset" -> ((s, dir) => {
      Similarity.kCenterGreedy(Tables.load(s, dir, "embeddings"),
          "vec_id", "embedding", k = 5)
        .select(col("step"), col("id").as("vec_id"), col("dmin"))
        .orderBy(col("step"))
    }),


    // Asymmetric containment dedup at 80%: docs whose 3-shingle set is
    // mostly inside another doc's (the quote/copy relation symmetric
    // Jaccard can't see). A-prefix × B-full-postings candidate join,
    // verify |A∩B| ≥ 0.8·|A| scan-local; per-lang rollup of contained
    // docs and their containment mass.
    "q210_containment_dedup" -> ((s, dir) => {
      org.apache.spark.sql.GraftFunctions.register(s)
      val r = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          call_function("shingle_hashes", col("text"), lit(3)).as("ts"))
        .filter(size(col("ts")) >= 1)
      EntityResolution.containmentPairs(r, "doc_id", col("ts"), 8, 10,
          carryCols = Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("id_a")).as("n_contained_docs"),
          sum(col("inter")).as("sum_inter"),
          sum(col("sz_a")).as("sum_sz_a"))
        .orderBy(col("lang"))
    }),


    // Deterministic negative sampling for recommender training: per user,
    // up to 5 non-interacted items drawn by a portable counter hash —
    // content-addressed (re-runs and engines agree). Candidates are
    // GENERATED, not enumerated: seq = 0..kc−1 per user, hashed into the
    // dense item-vocabulary index — O(U·kc) rows total, never the
    // O(U·|catalog|) cartesian complement (which materializes 10¹¹ rows
    // at 10⁶ users × 10⁵ items before the anti-join prunes anything).
    // The vocab index is a bounded CATALOG artifact (broadcast); the
    // anti-join is keyed; the only per-user window orders ≤ kc rows.
    // Output gates the full sampled set via per-user hash sums.
    "q219_negative_sampling" -> ((s, dir) => {
      // Same treatment as q202: widen the JSON-path parse past the local
      // scan's ~3 splits and pin the small distinct interaction table —
      // it feeds the item vocab, the user list, AND the anti-join.
      val b = Tables.load(s, dir, "events")
        .select(col("user_id"), col("props"))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull).distinct()
        .localCheckpoint()
      // Dense 0-based vocab index: catalog-bounded, so the one-partition
      // window and the broadcast are both fine at any event-log scale.
      val itemIdx = b.select(col("item")).distinct()
        .withColumn("idx", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("item")))
          .cast("long") - 1L)
      val nItems = itemIdx.count()
      val kc = 40L // 8× over-generation for k=5: collisions + interacted hits
      // Inner mod keeps the multiplicand ≤ 1e9 so the product stays inside
      // int64 in BOTH engines (DuckDB raises on BIGINT overflow).
      val hash =
        "(2654435761 * ((user_id * 101 + seq) % 1000000007) + 1013904223) % 1000000007"
      val cand = b.select(col("user_id")).distinct()
        .select(col("user_id"),
          explode(sequence(lit(0L), lit(kc - 1L))).as("seq"))
        .withColumn("h", expr(hash))
        .withColumn("idx", col("h") % lit(nItems))
        .join(broadcast(itemIdx), "idx")
      // Dedup repeats (two seqs can hash to one item) keeping the FIRST
      // draw; h is a pure function of (user, seq) so recompute it after
      // the min-agg instead of dragging it through (keeps both engines'
      // plans trivially aligned).
      cand.join(b, Seq("user_id", "item"), "left_anti")
        .groupBy(col("user_id"), col("item"))
        .agg(min(col("seq")).as("seq"))
        .withColumn("h", expr(hash))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("seq"))))
        .filter(col("rn") <= 5)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_neg"), sum(col("item")).as("sum_items"),
          sum(col("h")).as("sum_h"))
        .orderBy(col("user_id"))
    }),


    // Span-corruption masking prep (T5-style denoising objectives):
    // deterministically mask every 3-token span starting at positions
    // ≡ 0 (mod 10) — ~30% corruption — emitting the corrupted text with
    // one sentinel token per span. Pure array transforms (scan-local, no
    // shuffle beyond the rollup); the summed fingerprint gates every
    // reconstructed string including sentinel placement.
    "q223_span_corruption" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("corrupted", expr(
          """concat_ws(' ', filter(transform(toks, (t, i) ->
            |  CASE WHEN i % 10 = 0 THEN '<X>'
            |       WHEN i % 10 < 3 THEN CAST(NULL AS STRING)
            |       ELSE t END), x -> x IS NOT NULL))""".stripMargin))
        .withColumn("n_masked", expr(
          "size(filter(sequence(0, size(toks) - 1), i -> i % 10 < 3))"))
        .withColumn("n_spans", expr(
          "size(filter(sequence(0, size(toks) - 1), i -> i % 10 = 0))"))
      d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("size(toks)")).as("n_tokens"),
          sum(col("n_masked")).as("n_masked"),
          sum(col("n_spans")).as("n_spans"),
          sum(graft.dedup.Dedup.charHash(col("corrupted"))).as("sum_fp"))
        .orderBy(col("source"))
    }),


    // Length-distribution matching: per-(source, length-quartile) keep
    // rates (bp) that reshape every source's length mix to the GLOBAL
    // mix — rate = min(1, global_share/source_share), the quota-sampling
    // step that stops one source's short-doc glut from skewing training.
    // Quartile bounds are global order statistics (rangeRank), shares
    // two partial aggs, rates a driver-sized frame.
    "q224_length_matching" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val n = d.count()
      val ranked = CoreOps.rangeRank(d, Nil, Seq(col("n_chars"), col("doc_id")))
        .withColumn("quartile", expr(s"((rank - 1) * 4) div ${n}L"))
      val global = ranked.groupBy(col("quartile"))
        .agg(count(lit(1)).as("ng"))
        .withColumn("g_bp", expr(s"(ng * 10000) div ${n}L"))
      val bySrc = ranked.groupBy(col("source"), col("quartile"))
        .agg(count(lit(1)).as("ns"))
      val srcTot = bySrc.groupBy(col("source")).agg(sum(col("ns")).as("nt"))
      bySrc.join(srcTot, "source").join(broadcast(global), "quartile")
        .withColumn("s_bp", expr("(ns * 10000) div nt"))
        // greatest(s_bp, 1): a quartile share below 1/10000 floors to
        // s_bp = 0; the guarded divisor keeps both engines total (DuckDB's
        // // raises on zero) and caps the rate at 10000 anyway.
        .withColumn("keep_bp",
          least(lit(10000L), expr("(g_bp * 10000) div greatest(s_bp, 1)")))
        .select(col("source"), col("quartile"), col("ns"),
          col("s_bp"), col("g_bp"), col("keep_bp"))
        .orderBy(col("source"), col("quartile"))
    }),


    // Z-order layout audit (Morton curve — the Delta/Iceberg OPTIMIZE
    // ZORDER primitive): interleave the low 16 bits of two join/filter
    // dims, bin rows into 64 equal-width z ranges ("files"), and compare
    // per-file min/max dim envelopes against the natural insertion-order
    // layout. The payoff metric is data skipping: how many files a
    // d1 ∈ [1000, 1999] point-range scan could prune from footer stats
    // alone — the natural layout's files span the whole dim space (0
    // skippable), the z-layout's files tile it. Everything is one scan +
    // two bounded aggs (64-row envelopes); the z-value is pure integer
    // bit arithmetic shared verbatim with the oracle. The 16-bit residue
    // is the curve's cell resolution, not data loss — a 100 TB layout
    // would interleave the full key bits into a 64-bit z the same way.
    "q278_zorder_layout" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem").select(
          col("l_orderkey"),
          (col("l_partkey") % 65536).as("d1"),
          (col("l_suppkey") % 65536).as("d2"))
        .withColumn("z",
          expr(zorderExpr((c, i) => s"shiftright($c, $i)")))
      val mm = li.agg(max(col("z")).as("zmax"),
        max(col("l_orderkey")).as("omax"))
      // BOUNDS: z < 2^32 so z·64 < 2^38; l_orderkey·64 int64-safe to
      // 1.4e17 keys. Equal-width on the OBSERVED zmax keeps the 64 bins
      // meaningful when the populated dims use few bits.
      val binned = li.join(broadcast(mm))
        .withColumn("zbin", expr("least(63, (z * 64) div (zmax + 1))"))
        .withColumn("nbin",
          expr("least(63, (l_orderkey * 64) div (omax + 1))"))
        .localCheckpoint()
      def lay(name: String, bcol: String) =
        binned.groupBy(col(bcol).as("bin"))
          .agg(min(col("d1")).as("lo1"), max(col("d1")).as("hi1"),
            min(col("d2")).as("lo2"), max(col("d2")).as("hi2"))
          .agg(count(lit(1)).as("n_bins"),
            sum(col("hi1") - col("lo1")).as("sum_d1_span"),
            sum(col("hi2") - col("lo2")).as("sum_d2_span"),
            sum(when(col("hi1") < 1000 || col("lo1") > 1999, 1L)
              .otherwise(0L)).as("n_skippable"))
          .select(lit(name).as("layout"), col("n_bins"),
            col("sum_d1_span"), col("sum_d2_span"), col("n_skippable"))
      lay("natural", "nbin").unionByName(lay("zorder", "zbin"))
        .orderBy(col("layout"))
    }),


    // Neyman allocation (optimal stratified sampling): sample budget B
    // split ∝ N_h·S_h — high-variance strata get more of the budget than
    // proportional allocation would give, minimizing the estimator's
    // variance at fixed cost. The weight N_h·S_h = √(n·Σv² − (Σv)²)
    // EXACTLY (population sd), so one partial-aggregable pass yields the
    // integer moment vnum (Σv² in DECIMAL per the r12 doctrine). The
    // weight w = ⌊√vnum⌋ is computed EXACTLY: a float sqrt seeds w0, then
    // an integer correction picks the max k ∈ [w0−2, w0+2] with k² ≤ vnum
    // in DECIMAL — so no engine's int→double cast rounding can leak into
    // w (DuckDB's HUGEINT→DOUBLE is double-rounded above 2^64, where a
    // bare floor(sqrt(double)) CAN differ by 1 between engines; the
    // seeded correction is engine-independent for vnum < ~1e32, i.e.
    // w < 1e16 — 1e8× the 100×-sf1 envelope, where seed error < 2).
    // The largest-remainder top-up reuses q239's provably-exact
    // apportionment on the bounded per-stratum table.
    // BOUNDS: B·w = 1e5·√(n·Σv²) ≈ 1e17 at 100× sf1 (92× headroom;
    // vnum itself lives in DECIMAL).
    "q283_neyman_allocation" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val B = 100000L
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val stats = Tables.load(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("vc"))
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"),
          sum(col("vc")).as("sv"),
          sum(dec(col("vc")) * dec(col("vc"))).as("svv"))
        .withColumn("vnum",
          dec(col("n")) * col("svv") - dec(col("sv")) * dec(col("sv")))
        .withColumn("w", CoreOps.exactIsqrt(col("vnum")))
      stats
        .withColumn("total", sum(col("w")).over(Window.partitionBy()))
        .withColumn("base", expr(s"${B}L * w div total"))
        .withColumn("rem", expr(s"(${B}L * w) % total"))
        .withColumn("rn",
          row_number().over(Window.orderBy(col("rem").desc, col("event_type"))))
        .withColumn("seats", lit(B) - sum(col("base")).over(Window.partitionBy()))
        .select(col("event_type"), col("n"), col("w"),
          (col("base") + when(col("rn") <= col("seats"), 1L).otherwise(0L))
            .as("alloc"))
        .orderBy(col("event_type"))
    }),


    // Columnar-encoding audit — the storage-planner companion to q278's
    // z-order audit: per column, cardinality (dictionary viability) and
    // run count in the table's (l_orderkey, l_linenumber)-led sort
    // (RLE viability). Runs ride [[CoreOps.orderedRuns]]: one range
    // exchange, scan-local counting, and a P × |cols| boundary artifact
    // to the driver — no global-window lag (one task) and no rank +
    // rank+1 self-join (the first formulation, which shuffled ~6× the
    // table: 7.1 s → 4.5 s at sf1, the remainder being the exact
    // distinct count over micro-grain timestamps). Distinct counts are one Expand
    // aggregation whose partial phase collapses to per-task
    // cardinalities before the exchange. Values compare as strings
    // (injective cast: equality/distinct are format-independent, and no
    // value reaches the output).
    // ORDER TOTALITY (found by the sf1 oracle gate): (l_orderkey,
    // l_linenumber) is NOT unique (1.4M ties at sf1), so run counts
    // under it are engine-dependent. The sort is completed with the
    // audited columns THEMSELVES (raw l_shipdate for ordering — both
    // engines sort timestamps identically; the string cast only feeds
    // equality): rows still tying are full-tuple duplicates, which are
    // interchangeable for run counting, so the answer is well-defined.
    "q289_encoding_audit" -> ((s, dir) => {
      val auditCols = Seq("l_returnflag", "l_linestatus", "sd_ts")
      // The shipdate is audited AS ITS TIMESTAMP (r18): the string cast
      // is injective, so run boundaries and distinct counts are identical
      // on either representation — and dropping the duplicated string
      // column narrows the range exchange (the audit's dominant stage)
      // by the widest column and turns the third runs compare into a
      // long compare.
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate").as("sd_ts"))
      // no localCheckpoint: the three consumers (range sampler, runs
      // pass, distinct agg) each re-run a narrow pushed-down parquet
      // scan, which is cheaper than materializing 6M six-column rows
      val order = Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_returnflag"), col("l_linestatus"), col("sd_ts"))
      val runs = CoreOps.orderedRuns(li, order, auditCols)
      val g = li.agg(count(lit(1)).as("n"),
        countDistinct(col("l_returnflag")).as("d0"),
        countDistinct(col("l_linestatus")).as("d1"),
        countDistinct(col("sd_ts")).as("d2")).head()
      val n = g.getLong(0)
      // output names stay the AUDITED COLUMN names (sd_ts reports as
      // l_shipdate — the timestamp is its stand-in, see above)
      val outNames = Map("sd_ts" -> "l_shipdate").withDefault(identity)
      val rows = auditCols.zipWithIndex.map { case (c, i) =>
        val nd = g.getLong(i + 1)
        val nr = runs(c)
        // nonneg integer division: truncation == the oracle's floor //
        (outNames(c), n, nd, nr, 10000L * nd / n, 10000L * nr / n)
      }
      import s.implicits._
      rows.toDF("col_name", "n_rows", "n_distinct", "n_runs",
          "dict_bp", "rle_bp")
        .orderBy(col("col_name"))
    }),

  )

  /** The 32-bit Morton interleave of two 16-bit dims as a SQL string —
    * one term per bit, built once and shared (syntax-parameterized) by
    * the Spark plan and the DuckDB oracle so both engines evaluate the
    * identical integer arithmetic.
    */
  def zorderExpr(shift: (String, Int) => String): String =
    // no L suffix on the bit weights: DuckDB has no integer-suffix
    // syntax, and on the Spark side (bit & 1) is already BIGINT (d1/d2
    // are longs) so the products promote without it
    (0 until 16).map { i =>
      s"(${shift("d1", i)} & 1) * ${1L << (2 * i)} + " +
        s"(${shift("d2", i)} & 1) * ${1L << (2 * i + 1)}"
    }.mkString(" + ")

  val oracles: Map[String, String] = Map(
    "q301_compaction_bins" ->
      """WITH manifest AS (
        |  SELECT CAST(epoch_us(CAST(l_shipdate AS TIMESTAMP)) // 86400000000 AS BIGINT) AS day,
        |    CAST(count(*) * 64 + sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS bytes
        |  FROM lineitem GROUP BY 1),
        |c AS (
        |  SELECT day, bytes,
        |    sum(bytes) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM manifest)
        |SELECT CAST((cum - bytes) // 262144 AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |  min(day) AS day_min, max(day) AS day_max
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q302_stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id,
        |    ((doc_id % 2147483647) * 2654435761) % 2147483647 AS h
        |  FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY h DESC, doc_id)
        |      AS rnk
        |  FROM h)
        |SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
        |FROM r WHERE rnk <= 50 ORDER BY lang, rnk""".stripMargin,

    "q304_dataset_card" -> {
      import graft.queries.{DedupQueries => DQ}
      s"""WITH ${DQ.shingleCtes(3, " lang,")},
         |corpus AS (
         |  SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0),
         |base AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(round((${TextQueries.qualitySql}) * 1000000.0)
         |      AS BIGINT)) AS BIGINT) AS q_sum,
         |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
         |  FROM corpus GROUP BY 1),
         |lens AS (
         |  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
         |    count(*) AS cnt
         |  FROM corpus GROUP BY 1, 2),
         |medc AS (
         |  SELECT lang, ntok,
         |    sum(cnt) OVER (PARTITION BY lang ORDER BY ntok
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM lens),
         |med AS (
         |  SELECT m.lang, CAST(min(CASE WHEN m.cum * 2 >= b.n_docs
         |    THEN m.ntok END) AS BIGINT) AS p50_tokens
         |  FROM medc m JOIN base b USING (lang) GROUP BY 1),
         |bench AS (SELECT DISTINCT unnest(hs) AS bh FROM h WHERE doc_id % 97 = 0),
         |corp AS (SELECT doc_id, unnest(hs) AS ch FROM h WHERE doc_id % 97 <> 0),
         |ov AS (
         |  SELECT doc_id, count(*) AS n_overlap
         |  FROM corp JOIN bench ON corp.ch = bench.bh GROUP BY doc_id),
         |cont AS (
         |  SELECT lang, CAST(sum(CASE WHEN COALESCE(ov.n_overlap, 0) >= 2
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_cont
         |  FROM h LEFT JOIN ov USING (doc_id)
         |  WHERE doc_id % 97 <> 0 GROUP BY 1)
         |SELECT b.lang, b.n_docs, b.n_tokens, med.p50_tokens,
         |  q_sum // n_docs AS mean_quality_u,
         |  10000 * (n_docs - n_distinct) // n_docs AS dup_rate_bp,
         |  10000 * n_cont // n_docs AS contaminated_bp
         |FROM base b JOIN med USING (lang) JOIN cont USING (lang)
         |ORDER BY b.lang""".stripMargin
    },


    // Replays the prefix filter from first principles: shared shingle-hash
    // CTEs (the q31/q186 portable hash chain), global (df, hash) order,
    // integer-ceil prefix length, candidate = shared prefix element,
    // exact Jaccard ≥ 7/10 by cross-multiplication.
    "q187_prefix_simjoin" ->
      s"""WITH ${DedupQueries.shingleCtes(3, extraCols = " lang,")},
         |r2 AS (SELECT doc_id, lang, hs AS ts FROM h WHERE len(hs) >= 1),
         |el AS (SELECT doc_id, unnest(ts) AS t FROM r2),
         |freq AS (SELECT t, count(*) AS df FROM el GROUP BY 1),
         |ord AS (
         |  SELECT el.doc_id, el.t,
         |    row_number() OVER (PARTITION BY el.doc_id ORDER BY df, el.t) AS rn,
         |    count(*) OVER (PARTITION BY el.doc_id) AS s
         |  FROM el JOIN freq USING (t)),
         |pre AS (SELECT doc_id, t FROM ord WHERE rn <= s - (7*s + 9)//10 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM pre a JOIN pre b ON a.t = b.t AND a.doc_id < b.doc_id),
         |v AS (
         |  SELECT ida, idb, len(list_intersect(ra.ts, rb.ts)) AS i,
         |         len(ra.ts) AS sa, len(rb.ts) AS sb, ra.lang
         |  FROM cand JOIN r2 ra ON ra.doc_id = ida JOIN r2 rb ON rb.doc_id = idb)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(i) AS BIGINT) AS sum_inter,
         |  CAST(sum(sa + sb - i) AS BIGINT) AS sum_union
         |FROM v WHERE i * 10 >= 7 * (sa + sb - i)
         |GROUP BY lang ORDER BY lang""".stripMargin,


    "q188_chunk_dedup" ->
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |c AS (SELECT doc_id, source, ci,
         |        array_to_string(toks[(ci*10+1):(ci*10+10)], ' ') AS chunk
         |      FROM t, LATERAL (SELECT unnest(range(0, (len(toks)+9)//10)) AS ci) r),
         |f AS (SELECT doc_id, source, ci, chunk, ${CharHash.duckdbSql("chunk")} AS fp FROM c),
         |cnt AS (SELECT fp, count(DISTINCT doc_id) AS nd FROM f GROUP BY 1),
         |k AS (SELECT f.*, nd FROM f JOIN cnt USING (fp)),
         |rec AS (SELECT doc_id, any_value(source) AS source,
         |        CAST(count(*) AS BIGINT) AS n_chunks,
         |        CAST(sum(CASE WHEN nd >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |        coalesce(string_agg(CASE WHEN nd < 3 THEN chunk END, ' '
         |          ORDER BY ci), '') AS new_text
         |        FROM k GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_dropped) AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN new_text = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_emptied,
         |  CAST(sum(${CharHash.duckdbSql("new_text")}) AS BIGINT) AS sum_fp
         |FROM rec GROUP BY source ORDER BY source""".stripMargin,


    // row_number replays rangeRank's (v, event_id) total order; both
    // median extractions and the 44478/20000 rule re-derive in integers.
    "q189_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |r1 AS (SELECT event_type, v_c,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY v_c, event_id) AS rank FROM e),
        |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |med AS (SELECT r1.event_type,
        |         min(CASE WHEN rank = (n+1)//2 THEN v_c END)
        |         + min(CASE WHEN rank = (n+2)//2 THEN v_c END) AS med2
        |        FROM r1 JOIN n USING (event_type) GROUP BY 1),
        |d AS (SELECT e.event_type, event_id, abs(2*v_c - med2) AS dv
        |      FROM e JOIN med USING (event_type)),
        |r2 AS (SELECT event_type, dv,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY dv, event_id) AS rank FROM d),
        |mad AS (SELECT r2.event_type,
        |         min(CASE WHEN rank = (n+1)//2 THEN dv END)
        |         + min(CASE WHEN rank = (n+2)//2 THEN dv END) AS mad2
        |        FROM r2 JOIN n USING (event_type) GROUP BY 1)
        |SELECT d.event_type, n,
        |  (SELECT med2 FROM med WHERE med.event_type = d.event_type) AS med2,
        |  mad2,
        |  CAST(sum(CASE WHEN dv * 20000 > 44478 * mad2 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM d JOIN mad USING (event_type) JOIN n USING (event_type)
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,


    // Unrolled 5-step greedy (MATERIALIZED CTEs keep the chain linear;
    // the recursive-CTE form miscomputes correlated aggregates in the
    // recursive term on some engines). Every pick key replays the Spark
    // side's (relW·rel − divW·maxsim)·1e6 − id composite exactly.
    "q191_mmr_rerank" -> {
      val dotS = (a: String, b: String) =>
        s"list_reduce(list_prepend(0.0, list_transform(range(1, 65), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, x) -> acc + x)"
      val cosS = (a: String, b: String) =>
        s"CASE WHEN sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)}) = 0.0 THEN 0.0 " +
          s"ELSE (${dotS(a, b)}) / (sqrt(${dotS(a, a)}) * sqrt(${dotS(b, b)})) END"
      val chain = new StringBuilder(
        "p1 AS MATERIALIZED (SELECT vec_id FROM cand ORDER BY rel DESC, vec_id LIMIT 1),\n" +
        "c1 AS MATERIALIZED (SELECT vec_id FROM p1)")
      for (k <- 2 to 5) {
        val prev = s"c${k - 1}"
        chain.append(s""",
          |s$k AS MATERIALIZED (
          |  SELECT c.vec_id,
          |    (7 * c.rel - 3 * (SELECT max(s) FROM sims WHERE ia = c.vec_id
          |        AND ib IN (SELECT vec_id FROM $prev))) * 1000000 - c.vec_id AS key
          |  FROM cand c WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)),
          |p$k AS MATERIALIZED (SELECT vec_id FROM s$k ORDER BY key DESC LIMIT 1),
          |c$k AS MATERIALIZED (SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM p$k)""".stripMargin)
      }
      val union = (1 to 5)
        .map(k => s"SELECT $k AS step, vec_id FROM p$k").mkString(" UNION ALL ")
      s"""WITH q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |cand AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    CAST(floor((${cosS("embedding", "qv")}) * 1000000) AS BIGINT) AS rel
         |  FROM embeddings, q WHERE vec_id <> 0
         |  ORDER BY rel DESC, vec_id LIMIT 20),
         |sims AS MATERIALIZED (
         |  SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    CAST(floor((${cosS("a.embedding", "b.embedding")}) * 1000000) AS BIGINT) AS s
         |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
         |${chain.result()}
         |SELECT u.step, u.vec_id, cand.rel
         |FROM ($union) u JOIN cand USING (vec_id) ORDER BY u.step""".stripMargin
    },


    "q223_span_corruption" -> {
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |c AS (
         |  SELECT doc_id, source, len(toks) AS n_tok,
         |    array_to_string(list_filter(
         |      list_transform(range(0, len(toks)), i ->
         |        CASE WHEN i % 10 = 0 THEN '<X>'
         |             WHEN i % 10 < 3 THEN NULL
         |             ELSE toks[i + 1] END), x -> x IS NOT NULL), ' ') AS corrupted,
         |    len(list_filter(range(0, len(toks)), i -> i % 10 < 3)) AS n_masked,
         |    len(list_filter(range(0, len(toks)), i -> i % 10 = 0)) AS n_spans
         |  FROM t)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_masked) AS BIGINT) AS n_masked,
         |  CAST(sum(n_spans) AS BIGINT) AS n_spans,
         |  CAST(sum(${CharHash.duckdbSql("corrupted")}) AS BIGINT) AS sum_fp
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    },


    "q224_length_matching" ->
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |n AS (SELECT count(*) AS n FROM d),
        |r AS (SELECT source,
        |        ((row_number() OVER (ORDER BY n_chars, doc_id) - 1) * 4)
        |          // (SELECT n FROM n) AS quartile
        |      FROM d),
        |g AS (SELECT quartile, count(*) AS ng,
        |        (count(*) * 10000) // (SELECT n FROM n) AS g_bp
        |      FROM r GROUP BY 1),
        |s AS (SELECT source, quartile, count(*) AS ns FROM r GROUP BY 1, 2),
        |t AS (SELECT source, sum(ns) AS nt FROM s GROUP BY 1)
        |SELECT s.source, CAST(s.quartile AS BIGINT) AS quartile,
        |  CAST(ns AS BIGINT) AS ns,
        |  CAST((ns * 10000) // nt AS BIGINT) AS s_bp,
        |  CAST(g_bp AS BIGINT) AS g_bp,
        |  CAST(least(10000, (g_bp * 10000)
        |    // greatest((ns * 10000) // nt, 1)) AS BIGINT) AS keep_bp
        |FROM s JOIN t USING (source) JOIN g USING (quartile)
        |ORDER BY s.source, s.quartile""".stripMargin,


    "q219_negative_sampling" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |ii AS (SELECT item,
        |         row_number() OVER (ORDER BY item) - 1 AS idx
        |       FROM (SELECT DISTINCT item FROM b)),
        |n AS (SELECT count(*) AS n FROM ii),
        |cand AS (
        |  SELECT u.user_id, s.seq,
        |    (2654435761 * ((u.user_id * 101 + s.seq) % 1000000007)
        |      + 1013904223) % 1000000007 AS h
        |  FROM (SELECT DISTINCT user_id FROM b) u
        |  CROSS JOIN (SELECT unnest(range(0, 40)) AS seq) s),
        |cj AS (SELECT c.user_id, c.seq, ii.item
        |       FROM cand c JOIN ii ON ii.idx = c.h % (SELECT n FROM n)),
        |ded AS (
        |  SELECT user_id, item, min(seq) AS seq FROM cj
        |  WHERE NOT EXISTS (SELECT 1 FROM b
        |    WHERE b.user_id = cj.user_id AND b.item = cj.item)
        |  GROUP BY 1, 2),
        |r AS (SELECT user_id, item,
        |    (2654435761 * ((user_id * 101 + seq) % 1000000007)
        |      + 1013904223) % 1000000007 AS h,
        |    row_number() OVER (PARTITION BY user_id ORDER BY seq) AS rn
        |  FROM ded)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_neg,
        |  CAST(sum(item) AS BIGINT) AS sum_items,
        |  CAST(sum(h) AS BIGINT) AS sum_h
        |FROM r WHERE rn <= 5 GROUP BY user_id ORDER BY user_id""".stripMargin,


    // Containment replay: shared shingle CTEs, A-prefix against B's full
    // postings, |A∩B| ≥ 0.8·|A|, canonical direction (sz, id).
    "q210_containment_dedup" ->
      s"""WITH ${DedupQueries.shingleCtes(3, extraCols = " lang,")},
         |r2 AS (SELECT doc_id, lang, hs AS ts FROM h WHERE len(hs) >= 1),
         |el AS (SELECT doc_id, unnest(ts) AS t FROM r2),
         |freq AS (SELECT t, count(*) AS df FROM el GROUP BY 1),
         |ord AS (
         |  SELECT el.doc_id, el.t,
         |    row_number() OVER (PARTITION BY el.doc_id ORDER BY df, el.t) AS rn,
         |    count(*) OVER (PARTITION BY el.doc_id) AS s
         |  FROM el JOIN freq USING (t)),
         |pre AS (SELECT doc_id, t FROM ord WHERE rn <= s - (8*s + 9)//10 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
         |         FROM pre a JOIN el b ON a.t = b.t AND a.doc_id <> b.doc_id),
         |v AS (
         |  SELECT ida, idb, len(list_intersect(ra.ts, rb.ts)) AS i,
         |         len(ra.ts) AS sa, len(rb.ts) AS sb, ra.lang
         |  FROM cand JOIN r2 ra ON ra.doc_id = ida JOIN r2 rb ON rb.doc_id = idb
         |  WHERE len(ra.ts) < len(rb.ts)
         |     OR (len(ra.ts) = len(rb.ts) AND ida < idb))
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(count(DISTINCT ida) AS BIGINT) AS n_contained_docs,
         |  CAST(sum(i) AS BIGINT) AS sum_inter,
         |  CAST(sum(sa) AS BIGINT) AS sum_sz_a
         |FROM v WHERE i * 10 >= 8 * sa
         |GROUP BY lang ORDER BY lang""".stripMargin,


    // Farthest-first unrolled 4 steps over integer-micro L2 (round, the
    // microsVec convention), MATERIALIZED chain, ties to smaller id.
    "q209_kcenter_coreset" -> {
      val distS =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, 65), " +
          "i -> (m.vm[i] - c.vm[i]) * (m.vm[i] - c.vm[i]))), (acc, x) -> acc + x)"
      val steps = (2 to 5).map { k =>
        s"""d$k AS MATERIALIZED (
           |  SELECT m.id, min($distS) AS dmin
           |  FROM m JOIN c${k - 1} c ON m.id <> c.id
           |  WHERE m.id NOT IN (SELECT id FROM c${k - 1})
           |  GROUP BY m.id),
           |p$k AS MATERIALIZED (SELECT id, dmin FROM d$k
           |                     ORDER BY dmin DESC, id LIMIT 1),
           |c$k AS MATERIALIZED (SELECT id, vm FROM c${k - 1}
           |  UNION ALL SELECT m.id, m.vm FROM m JOIN p$k USING (id))""".stripMargin
      }.mkString(",\n")
      val union = ("SELECT 1 AS step, id, CAST(0 AS BIGINT) AS dmin FROM p1" +:
        (2 to 5).map(k => s"SELECT $k, id, dmin FROM p$k")).mkString(" UNION ALL ")
      s"""WITH m AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |    list_transform(range(1, 65),
         |      i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS vm
         |  FROM embeddings),
         |p1 AS MATERIALIZED (SELECT min(id) AS id FROM m),
         |c1 AS MATERIALIZED (SELECT m.id, m.vm FROM m JOIN p1 USING (id)),
         |$steps
         |SELECT step, id AS vec_id, dmin FROM ($union) ORDER BY step""".stripMargin
    },


    "q190_importance_select" ->
      """WITH tok AS (SELECT doc_id, source, (source IN ('src1','src2')) AS tgt,
        |               unnest(list_distinct(string_split(text, ' '))) AS t
        |             FROM documents),
        |freq AS (SELECT t, count(*) AS rdf,
        |           CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tdf
        |         FROM tok GROUP BY 1),
        |doc AS (SELECT doc_id, any_value(source) AS source,
        |          CAST(count(*) AS BIGINT) AS n_tok,
        |          sum((tdf * 1000000) // rdf) // count(*) AS score
        |        FROM tok JOIN freq USING (t) GROUP BY 1)
        |SELECT doc_id, source, n_tok, CAST(score AS BIGINT) AS score
        |FROM doc ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,


    // Shares the bit-interleave expression with the Spark plan (built by
    // [[zorderExpr]] with DuckDB's >> syntax) so the z-values are the
    // same integers by construction.
    "q278_zorder_layout" ->
      s"""WITH li AS (
         |  SELECT l_orderkey, l_partkey % 65536 AS d1, l_suppkey % 65536 AS d2
         |  FROM lineitem),
         |zt AS (SELECT li.*,
         |  ${zorderExpr((c, i) => s"($c >> $i)")} AS z FROM li),
         |mm AS (SELECT max(z) AS zmax, max(l_orderkey) AS omax FROM zt),
         |b AS (
         |  SELECT zt.*, least(63, (z * 64) // (zmax + 1)) AS zbin,
         |    least(63, (l_orderkey * 64) // (omax + 1)) AS nbin
         |  FROM zt, mm),
         |env_n AS (SELECT nbin AS bin, min(d1) AS lo1, max(d1) AS hi1,
         |            min(d2) AS lo2, max(d2) AS hi2 FROM b GROUP BY 1),
         |env_z AS (SELECT zbin AS bin, min(d1) AS lo1, max(d1) AS hi1,
         |            min(d2) AS lo2, max(d2) AS hi2 FROM b GROUP BY 1)
         |SELECT 'natural' AS layout, CAST(count(*) AS BIGINT) AS n_bins,
         |  CAST(sum(hi1 - lo1) AS BIGINT) AS sum_d1_span,
         |  CAST(sum(hi2 - lo2) AS BIGINT) AS sum_d2_span,
         |  CAST(sum(CASE WHEN hi1 < 1000 OR lo1 > 1999 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_skippable
         |FROM env_n
         |UNION ALL
         |SELECT 'zorder', CAST(count(*) AS BIGINT),
         |  CAST(sum(hi1 - lo1) AS BIGINT), CAST(sum(hi2 - lo2) AS BIGINT),
         |  CAST(sum(CASE WHEN hi1 < 1000 OR lo1 > 1999 THEN 1 ELSE 0 END)
         |    AS BIGINT)
         |FROM env_z ORDER BY layout""".stripMargin,


    "q283_neyman_allocation" ->
      """WITH st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sv,
        |    sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
        |        * CAST(round(value * 100) AS BIGINT)) AS svv
        |  FROM events GROUP BY 1),
        |w0 AS (
        |  SELECT event_type, n, n * svv - sv * sv AS vnum,
        |    CAST(floor(sqrt(CAST(n * svv - sv * sv AS DOUBLE))) AS BIGINT)
        |      AS w0
        |  FROM st),
        |w AS (
        |  SELECT event_type, n,
        |    COALESCE(
        |      CASE WHEN w0 + 2 >= 0 AND CAST(w0 + 2 AS HUGEINT) * (w0 + 2)
        |             <= vnum THEN w0 + 2 END,
        |      CASE WHEN w0 + 1 >= 0 AND CAST(w0 + 1 AS HUGEINT) * (w0 + 1)
        |             <= vnum THEN w0 + 1 END,
        |      CASE WHEN w0 >= 0 AND CAST(w0 AS HUGEINT) * w0
        |             <= vnum THEN w0 END,
        |      CASE WHEN w0 - 1 >= 0 AND CAST(w0 - 1 AS HUGEINT) * (w0 - 1)
        |             <= vnum THEN w0 - 1 END,
        |      CASE WHEN w0 - 2 >= 0 AND CAST(w0 - 2 AS HUGEINT) * (w0 - 2)
        |             <= vnum THEN w0 - 2 END) AS w
        |  FROM w0),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM w),
        |b AS (
        |  SELECT event_type, n, w,
        |    100000 * w // total AS base, (100000 * w) % total AS rem
        |  FROM w, t),
        |r AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS seats FROM b),
        |rk AS (SELECT event_type, n, w, base,
        |  row_number() OVER (ORDER BY rem DESC, event_type) AS rn FROM b)
        |SELECT rk.event_type, rk.n, rk.w,
        |  CAST(rk.base + CASE WHEN rk.rn <= r.seats THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM rk, r ORDER BY rk.event_type""".stripMargin,


    // Values compare as strings on both sides — injective casts, so
    // distinct/run counts are representation-independent even though the
    // two engines render timestamps differently.
    "q289_encoding_audit" ->
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
        |    l_shipdate AS sd_ts,
        |    CAST(l_shipdate AS VARCHAR) AS l_shipdate
        |  FROM lineitem),
        |rk AS (SELECT *, row_number() OVER (ORDER BY l_orderkey,
        |         l_linenumber, l_returnflag, l_linestatus, sd_ts)
        |         AS rk FROM base),
        |lg AS (
        |  SELECT 'l_returnflag' AS col_name, rk, l_returnflag AS v FROM rk
        |  UNION ALL SELECT 'l_linestatus', rk, l_linestatus FROM rk
        |  UNION ALL SELECT 'l_shipdate', rk, l_shipdate FROM rk),
        |j AS (SELECT col_name, v,
        |        lead(v) OVER (PARTITION BY col_name ORDER BY rk) AS v_next
        |      FROM lg)
        |SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN v_next IS NOT NULL AND v_next <> v
        |    THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_runs,
        |  (10000 * CAST(count(DISTINCT v) AS BIGINT)) // count(*) AS dict_bp,
        |  (10000 * (CAST(sum(CASE WHEN v_next IS NOT NULL AND v_next <> v
        |    THEN 1 ELSE 0 END) AS BIGINT) + 1)) // count(*) AS rle_bp
        |FROM j GROUP BY col_name ORDER BY col_name""".stripMargin,

  )
}
