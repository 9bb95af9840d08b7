package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Failing plan-property specs: the executed-plan shapes the 100 TB design
  * depends on are ASSERTED here, so a plan regression (lost pushdown, a
  * dim that stops broadcasting, a partial-agg that disappears, an exchange
  * that stops being reused) fails `sbt test` instead of silently landing.
  * `runMain graft.Profile plan <sfDir> <query…>` is the human-readable dump.
  */
class PlanAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** Materialize THIS query execution (collect, not a separate count) so
    * AQE finalizes it, then return the final executed-plan string —
    * runtime-inserted nodes (ReusedExchange, AQE joins) are only visible
    * on the executed instance.
    */
  private def planOf(df: DataFrame): String = {
    df.collect()
    // AdaptiveSparkPlan.toString prints final AND initial plans; keep only
    // the final section so node counts aren't doubled.
    val s = df.queryExecution.executedPlan.toString
    val cut = s.indexOf("== Initial Plan ==")
    if (cut >= 0) s.substring(0, cut) else s
  }

  private def run(name: String): String =
    planOf(SparkEntry.queries(name)(spark, dir))

  test("scan pushdown: filter queries push predicates into the parquet scan") {
    val plan = run("q02_filter_revenue")
    assert(plan.contains("PushedFilters: ["), "no PushedFilters section in scan")
    assert(!plan.matches("(?s).*PushedFilters: \\[\\].*"),
      "PushedFilters is empty — predicate did not reach the parquet scan")
  }

  test("column pruning: projection-only query reads a narrow ReadSchema") {
    // q01 touches 7 of lineitem's 16 columns; the scan must not read more.
    val plan = run("q01_pricing_rollup")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema:"))
      .getOrElse(fail("no ReadSchema in plan"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipmode"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("dimension joins broadcast; fact side is never broadcast") {
    // q06: region ⨝ nation ⨝ customer ⨝ orders ⨝ lineitem. The fixed-size
    // dims (region, nation) must arrive via BroadcastHashJoin.
    val plan = run("q06_region_revenue")
    assert(plan.contains("BroadcastHashJoin"), "no broadcast join in q06")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "q06 degenerated to a nested-loop/cartesian join")
  }

  test("aggregations run partial (map-side) + final — never single-phase") {
    // Two HashAggregates per groupBy (partial then final) with an exchange
    // between them; partial_ prefixed functions appear in the partial stage.
    val plan = run("q01_pricing_rollup")
    val aggs = plan.linesIterator.count(_.contains("HashAggregate"))
    assert(aggs >= 2, s"expected partial+final HashAggregate pair, saw $aggs")
    assert(plan.contains("partial_"), "no map-side partial aggregation in plan")
  }

  test("latest-wins (max_by) aggregates partially — no window sort fallback") {
    val plan = run("q12_latest_per_type")
    assert(plan.contains("partial_max_by") || plan.contains("partial_"),
      "latest-wins lost its map-side combine")
    assert(!plan.contains("Window"), "latest-wins regressed to a windowed sort")
  }

  test("banded self-join runs the banding kernel once, not per consumer") {
    // The tiled self-join reads the banded table from THREE consumers
    // (census + both replicated sides). ReusedExchange proved
    // canonicalization-fragile (column pruning re-canonicalized the
    // census branch and the kernel ran 4× at sf1), so the invariant is
    // now stronger: the banded rows are materialized ONCE (checkpoint)
    // and the executed plan must contain ZERO banding-kernel calls —
    // any appearance means a consumer recomputed the kernel.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val docs = (1L to 200L).map(i => (i, s"tok${i % 7} tok${i % 13} tok${i % 3} tail$i"))
        .toDF("doc_id", "text")
      val banded = graft.dedup.Dedup.minhashBands(docs, "doc_id", "text", 3, 16, 4)
      val pairs = graft.dedup.PairJoin.selfPairs(banded, Seq("band", "bh"), "id", 4096)
      val plan = planOf(pairs)
      assert(!plan.contains("minhash_band_keys"),
        "a consumer of the banded table recomputes the banding kernel " +
          "instead of scanning the materialized rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("IVF assignment has no corpus×centroid row amplification") {
    val plan = run("q50_ann_ivf")
    assert(!plan.contains("BroadcastNestedLoopJoin") || {
      // the only nested-loop allowed is the bounded query-side probe
      plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) <= 1
    }, "IVF corpus assignment reintroduced a cross join")
  }

  test("CMS aggregate runs partial + final (sketches merge map-side)") {
    // ObjectHashAggregate must appear twice (partial, final) around one
    // exchange — the whole point of a mergeable sketch at 100 TB.
    val plan = run("q115_cms_freq")
    assert(plan.linesIterator.count(_.contains("ObjectHashAggregate")) >= 2,
      "count-min sketch no longer partially aggregates before the exchange")
  }

  test("deltaJoin's history scan carries the bloom pre-filter") {
    // The F ⋈ ΔD term is the only history touch; its fact scan must be
    // bloom-gated below the join so the exchange carries survivors only.
    val plan = run("q120_delta_join")
    assert(plan.contains("bloom_might_contain"),
      "deltaJoin history side lost its Bloom pre-filter")
  }

  test("stream-static dim joins as broadcast on the batch plan") {
    // Batch-side shape of q118's join: nation must broadcast, never
    // shuffle the fact side. (The streaming micro-batch planner reuses
    // the same join strategy per batch.)
    val events = graft.Tables.load(spark, dir, "events")
      .withColumn("nk", col("user_id") % 25)
    val dim = graft.Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val joined = events.join(broadcast(dim), col("nk") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n"))
    val plan = planOf(joined)
    assert(plan.contains("BroadcastHashJoin"), "dim join is not broadcast")
    assert(!plan.contains("SortMergeJoin"), "stream-static shape shuffled the fact side")
  }

  test("temperatureSample joins its rates as broadcast — data is never shuffled") {
    val plan = run("q123_temperature_mix")
    assert(plan.contains("BroadcastHashJoin"),
      "rate table no longer broadcasts")
    assert(!plan.contains("SortMergeJoin"),
      "temperatureSample shuffled the data side for its tiny rate join")
  }

  test("semanticDedup pair stage is a cell-keyed equi-join, never cartesian") {
    val plan = run("q116_semantic_dedup")
    assert(!plan.contains("CartesianProduct"),
      "semantic dedup degenerated to an all-pairs comparison")
  }

  test("bm25 retrieval: term tables broadcast, corpus never cartesian-joined") {
    // q159: query terms / dfreq / totals must all reach the postings scan
    // as broadcasts; the only data-sized exchange is the dl join on
    // doc_id; ranking is the partial top-k (ObjectHashAggregate), not a
    // window sort over candidates.
    val plan = run("q159_bm25_search")
    assert(plan.contains("BroadcastHashJoin"), "term filter lost its broadcast")
    assert(!plan.contains("CartesianProduct"),
      "bm25 degenerated to a cartesian join")
    assert(plan.contains("ObjectHashAggregate"),
      "per-query ranking is not the partial top-k aggregate")
    assert(!plan.contains("Window"),
      "a window sort crept into the bm25 ranking path")
  }

  // ---- bench-profile top queries (VERDICT r6 item 6): lock the plan
  // shapes the wall-time leaders depend on, so a future change can't
  // silently regress them into all-pairs / window-sort forms.

  test("ivf recall curve: one shared clustering, no cartesian corpus join") {
    // Three nProbe levels share ONE kmeans assignment + ground truth —
    // visible as ReusedExchange on the executed plan. The brute-force
    // ground truth is a broadcast nested loop of the 5-query side, never
    // a cartesian product of data×data.
    val plan = run("q143_ivf_recall_curve")
    assert(!plan.contains("CartesianProduct"),
      "recall-curve ground truth degenerated to a cartesian product")
    assert(plan.contains("ReusedExchange"),
      "probe levels stopped sharing the clustering/ground-truth exchanges")
  }

  test("log-n connected components: equi-joins only, partial aggregation") {
    // Large-star/small-star rounds are hash equi-joins on node ids; a
    // nested-loop or cartesian here is quadratic death at scale.
    val plan = run("q82_cc_logn")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "CC round joins lost their equi-join shape")
    assert(plan.contains("HashAggregate"),
      "CC dedup/convergence aggregates lost partial aggregation")
  }

  test("ngram-jaccard near-dups: banded exchange reused, never all-pairs") {
    val plan = run("q31_ngram_jaccard")
    assert(!plan.contains("CartesianProduct"),
      "near-dup candidate stage degenerated to all-pairs")
    assert(plan.contains("ReusedExchange"),
      "banding exchange recomputed per side — census/pair reuse died")
  }

  test("leakage split + soft-dedup inherit the near-dup pipeline's shapes") {
    // The no-cartesian bound is the invariant that matters (these run
    // the full near-dup cluster pipeline as input); exchange reuse is
    // asserted on q31 where the final AQE plan surfaces it stably —
    // at sf0.001 AQE folds q141/q151's shared subtrees into broadcasts
    // whose reuse isn't printed.
    for (q <- Seq("q141_split_fractions", "q151_softdedup_weights")) {
      val plan = run(q)
      assert(!plan.contains("CartesianProduct"),
        s"$q: pair stage degenerated to a cartesian product")
    }
  }

  test("cluster split: near-dup pipeline shapes hold, banding kernel never re-runs") {
    // q139 inherits the full near-dup cluster pipeline (bench top-5).
    // The two invariants that matter at scale: the candidate stage stays
    // an equi-join, and no consumer of the banded table re-runs the
    // banding kernel (the materialized-once property the census fix
    // established — its loss was invisible at sf0.1 and 7.6× at sf1).
    val plan = run("q139_cluster_split")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q139: a pair/cluster stage degenerated to all-pairs")
    assert(!plan.contains("minhash_band_keys"),
      "q139: a consumer recomputes the banding kernel instead of " +
        "scanning the materialized banded rows")
  }

  test("negative sampling generates candidates — never the cartesian complement") {
    // q219: candidates are hash-generated O(U·kc) rows joined to the
    // broadcast vocab index on idx, then keyed-anti-joined against
    // interactions. The users×items cartesian complement this replaced
    // is O(U·|catalog|) — 10¹¹ rows at 10⁶ users × 10⁵ items — so any
    // unkeyed join reappearing here is the one scale-killer the r9/r10
    // verdicts named.
    val plan = run("q219_negative_sampling")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q219: candidate generation degenerated to the users×items cartesian")
    assert(plan.contains("BroadcastHashJoin"),
      "q219: vocab-index lookup lost its broadcast equi-join")
  }

  test("SCC: dual-labeling rounds are equi-joins with partial aggregation") {
    // q152's forward/backward label propagation must stay hash
    // equi-joins on node ids (a nested-loop round is quadratic death),
    // with map-side partial aggregation on the label min/max rollups.
    // Round COUNT is bounded by GraphAlgos' loud in-code cap (require),
    // exercised in GraphAlgosSpec — the plan-level invariant is shape.
    val plan = run("q152_scc")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q152: an SCC round degenerated to a nested-loop/cartesian join")
    assert(plan.contains("HashAggregate"),
      "q152: label rollups lost hash (partial) aggregation")
  }

  test("incremental IVF+PQ search scans state tables + batch, never retrains") {
    // q226's serving read: corpus side must be the persisted postings
    // parquet (+ the batch's in-plan encode), probe side the queries.
    // A training aggregate (posexplode of the corpus feeding a
    // cell/pos rollup) in the executed plan means the frozen model was
    // silently re-trained from the corpus — the exact failure mode
    // incremental state exists to prevent.
    val plan = run("q226_ivfpq_incr")
    assert(plan.contains("postings"),
      "q226: search plan does not scan the persisted postings state")
    // pairsTopK legitimately posexplodes the per-query `top` buffer; the
    // training pipeline is the one that posexplodes the VECTORS (vm).
    assert(!plan.contains("posexplode(vm"),
      "q226: plan posexplodes corpus vectors — the frozen model is " +
        "being re-trained in the serving read")
    val embScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("embeddings"))
    assert(embScans <= 2,
      s"q226: $embScans embeddings scans in the serving plan (batch + " +
        "queries are the only legitimate two)")
  }

  test("prefix-filter simjoin: candidate and verify stages are equi-joins") {
    val plan = run("q187_prefix_simjoin")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "prefix-filter join degenerated to all-pairs")
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"),
      "no hash aggregation in the frequency/census stages")
  }

  test("containment dedup: positional prune runs before any array join") {
    // r14 sf10 probe: the verify join dragged full shingle arrays per
    // CANDIDATE through the id_b exchange (4.8 GB at ~30M candidates).
    // The fix gates candidates through an exact PPJoin-style positional
    // bound (min(__ub)/__bound aggregate+filter) so only near-qualifying
    // pairs reach the array join. Pin: the bound columns exist in the
    // executed plan, and every join stays equi (no all-pairs fallback).
    val plan = run("q210_containment_dedup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "containment join degenerated to all-pairs")
    // The `__bound` alias is inlined by the optimizer; the pin is the
    // pair-level min(__ub) AGGREGATE (positional bounds reduced per pair)
    // and the least(__mn, …) prune FILTER it feeds.
    assert(plan.contains("min(__ub"),
      "pair-level min of the positional upper bound missing from the plan")
    assert(plan.contains("least(__mn"),
      "positional prune filter missing — candidates reach the array " +
        "verify join unpruned")
  }

  test("gap-fill grid join is an equi-join; fill is one window pass") {
    val plan = run("q192_gap_fill")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "grid join degenerated to nested-loop")
    assert(plan.linesIterator.count(_.trim.startsWith("Window")) <= 1,
      "more than one window pass in the forward-fill")
  }

  test("seasonal-naive backtest scans events once, not per-subplan") {
    // r8 regression: q213's d0 scalar + both self-join sides each
    // rescanned events when AQE exchange reuse didn't fire (7.9× at
    // sf1). The fix pins the daily rollup via localCheckpoint, so the
    // final plan reads materialized rows — at most 2 events scans are
    // tolerable, the shipped design has zero.
    val plan = run("q213_seasonal_naive")
    val eventsScans = plan.linesIterator.count(l =>
      l.contains("FileScan") && l.contains("events"))
    assert(eventsScans <= 2,
      s"q213: $eventsScans events scans in the final plan — the daily " +
        "rollup is being recomputed per consumer")
    assert(plan.contains("ExistingRDD"),
      "q213: no materialized (checkpointed) daily rollup in the plan")
  }

  test("bpeTrain: merge kernel visits each doc exactly once per round") {
    // The iterative-loop invariant (VERDICT r8 item 6): per-round lineage
    // truncation means round k plans O(1) kernel work. If the checkpoint
    // silently stopped truncating, every round would re-run all earlier
    // merge kernels and the visit count would go quadratic
    // (rounds*(rounds+1)/2 * docs instead of rounds * docs).
    import spark.implicits._
    import graft.text.TextOps
    val acc = spark.sparkContext.longAccumulator("bpe_kernel_docs")
    val docs = Seq((1L, "a b a b a b c d"), (2L, "b a b a c d"),
      (3L, "c d c d")).toDF("doc_id", "text")
    val rounds = TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 3,
      kernelCounter = Some(acc)).count().toInt
    assert(rounds >= 2, "fixture too small to exercise multiple rounds")
    assert(acc.value == rounds.toLong * 3,
      s"bpeTrain kernel ran ${acc.value} doc-visits for $rounds rounds " +
        s"× 3 docs — lineage is not truncated per round")
  }

  test("bloom decontam: might_contain prunes the corpus-shingle exchange") {
    val plan = run("q243_bloom_decontam")
    assert(plan.contains("bloom_might_contain"),
      "q243: the bloom prefilter is not in the executed plan — the full " +
        "corpus shingle stream shuffles unreduced")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q243: overlap join degenerated to nested-loop")
  }

  test("partition-pruned scan reads only the selected partition") {
    import spark.implicits._
    val root = TestSpark.tempDir("graft_pp_").toString
    (1 to 100).map(i => (i, s"t${i % 4}")).toDF("id", "topic")
      .write.partitionBy("topic").mode("overwrite").parquet(root)
    val df = spark.read.parquet(root).filter(col("topic") === "t1")
    df.count()
    val scan = df.queryExecution.executedPlan.toString
    // after partition pruning the scan's file listing covers 1 of 4 dirs
    assert(scan.contains("PartitionFilters: ["), "no PartitionFilters in scan")
    assert(scan.matches("(?s).*PartitionFilters: \\[[^\\]]*topic[^\\]]*\\].*"),
      "partition predicate not recognized as a partition filter")
  }

  test("rank/CDF statistics run without a window operator") {
    // q252 (global midrank AUC), q261 (two-sample KS), q265 (exact
    // quantiles) all compute global order statistics; their point is
    // rangeRank/rangePrefixSums — a `Window` node appearing in any of
    // these plans means an unpartitioned sort collapsed to one task,
    // exactly the regression these primitives exist to prevent.
    Seq("q252_auc_rank", "q261_ks_test", "q265_dist_quantiles").foreach { q =>
      val plan = run(q)
      assert(!plan.contains("Window"),
        s"$q: a Window operator appeared — a global order statistic " +
          "fell back to a single-task sort")
    }
  }

  test("semantic decontam: benchmark broadcasts, corpus side never shuffles") {
    // q257's candidate join must be a broadcast equi-join on (band, sig):
    // the benchmark is an eval set (bounded by construction), the corpus
    // is the 100 TB side — a sort-merge or shuffled-hash join here means
    // the full corpus (vectors included) crossed the wire; nested-loop
    // means the banding stopped keying the join at all.
    val plan = run("q257_semantic_decontam")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "q257: decontam join degenerated to nested-loop/cartesian")
    assert(plan.contains("BroadcastHashJoin"),
      "q257: benchmark side lost its broadcast — the corpus would shuffle")
    assert(!plan.contains("SortMergeJoin"),
      "q257: candidate join became a sort-merge — the corpus shuffles " +
        "with vector payloads")
  }

  test("r12 wave: sorted-neighborhood joins stay equi; conformal stays windowless") {
    // q277's candidate stage is an equi-join on rank+offset — the whole
    // point of sorted-neighborhood blocking is O(w·n) candidates; a
    // nested-loop/cartesian here means the rank key stopped driving the
    // join and the stage went quadratic.
    val p277 = run("q277_sorted_neighborhood")
    assert(!p277.contains("CartesianProduct") &&
      !p277.contains("BroadcastNestedLoopJoin"),
      "q277: rank-offset neighbor join degenerated to nested-loop/cartesian")
    // q281's q-hat is an exact order statistic via rangeRank; a Window
    // node means the per-stratum sort collapsed to one task per stratum.
    val p281 = run("q281_conformal")
    assert(!p281.contains("Window"),
      "q281: conformal order statistic fell back to a window sort")
    // Same doctrine for the rest of the r12 order-statistic family:
    // q287 (per-arm quantiles), q288 (sweep-line prefix sums), q291
    // (per-replicate weighted medians) all ride rangePrefixSums — a
    // Window node in any of them is a one-task-sort regression.
    Seq("q287_quantile_effect", "q288_peak_concurrency",
      "q291_bootstrap_median").foreach { qn =>
      val p = run(qn)
      assert(!p.contains("Window"),
        s"$qn: a Window operator appeared — the prefix-sum primitive " +
          "fell back to a single-task sort")
    }
  }

  test("r13 wave: duel joins stay equi; planner/sample/card stay windowless") {
    // q297/q299's duel construction is a shifted EQUI-join on event_id —
    // a nested-loop here means the +1 key stopped driving the join and
    // the adjacent-pair stage went quadratic. The Bradley-Terry solve is
    // a bounded driver artifact; the distributed part must stay keyed.
    Seq("q297_bradley_terry", "q299_preference_flips").foreach { qn =>
      val p = run(qn)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$qn: adjacent-event duel join degenerated to nested-loop/cartesian")
    }
    // q301's next-fit packing and q302's exact-k sample ride
    // rangePrefixSums / the partial top-k AGGREGATE — a Window node means
    // the global cumsum (q301) or the per-stratum rank (q302) collapsed
    // to a one-task sort, exactly what both kernels exist to avoid.
    Seq("q301_compaction_bins", "q302_stratified_sample").foreach { qn =>
      val p = run(qn)
      assert(!p.contains("Window"),
        s"$qn: a Window operator appeared — kernel fell back to a " +
          "single-task sort")
    }
    // q306's top-25 must be TakeOrdered (k-bounded), never a global Sort
    // feeding a limit — the distinct-bigram domain is corpus-sized.
    val p306 = run("q306_kneser_ney")
    assert(p306.contains("TakeOrderedAndProject"),
      "q306: top-k is not TakeOrderedAndProject — a global sort snuck in")
  }
}
