package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.ops.{BloomJoin, CoreOps}
import graft.enrich.Enrich
import graft.expressions.CharHash

/** Wave 5 — grouping sets, exact percentiles, LSH ANN, the batch-25
  * enrichment protocol under the oracle gate, window frames, and pivot.
  */
object ExtraQueries {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // As-of (temporal) join — "the latest click state each view saw at
    // its own event time": union-tag + one keyed sort + running
    // carry-forward (ops/AsofJoin), never a range join. Gated against
    // DuckDB's NATIVE `ASOF LEFT JOIN` — an independent implementation of
    // the operator, not a restatement of ours. The right side dedups to
    // one row per (user, ts) so tie behavior (unspecified in DuckDB)
    // never decides the result. The second payload column `c_val` is NULL
    // on a third of the right rows, so the row-struct carry semantics —
    // a null in the matched row STAYS null instead of an older row's
    // value leaking through — are themselves under the oracle gate, and
    // an unmatched-vs-null-matched row is distinguished by c_id.
    "q133_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("v_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("c_id"))
        .withColumn("c_val",
          when(col("c_id") % 3 === 0, lit(null).cast("long"))
            .otherwise(col("c_id") * 7))
      graft.ops.AsofJoin.asofJoin(views, clicks, Seq("user_id"),
          "ts_us", "ts_us")
        .select(col("v_id"), col("c_id"), col("c_val"), col("user_id"))
        .orderBy(col("v_id"))
    }),

    // As-of with a match horizon (feature-store TTL): click state older
    // than 2 h reads as absent — the no-future-leakage AND no-stale-state
    // backfill contract in one operator.
    "q134_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id").as("v_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("c_id"))
      graft.ops.AsofJoin.asofJoin(views, clicks, Seq("user_id"),
          "ts_us", "ts_us", toleranceMicros = Some(7200000000L))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          count(col("c_id")).as("n_matched"),
          coalesce(sum(col("c_id")), lit(0L)).as("sum_c_id"))
        .orderBy(col("user_id"))
    }),

    // Conversion funnel = FORWARD as-of join: each click matched to the
    // FIRST purchase at-or-after it within a 1 h horizon, expressed by
    // running the backward as-of machinery on NEGATED epoch micros
    // (greatest −p_ts ≤ −c_ts ⇔ smallest p_ts ≥ c_ts) — the same single
    // keyed shuffle, linear per key, no range-join explosion where the
    // naive clicks⋈purchases-within-window join is quadratic per hot
    // user. Tolerance rides the negated axis unchanged (|Δ| is
    // sign-blind). Daily rollup on TZ-free epoch days. Tie-safety: only
    // the matched purchase TS is carried, so equal-(user, ts) purchase
    // rows cannot make the output nondeterministic.
    "q147_funnel" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_ts"))
        .withColumn("neg_cts", -col("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_ts"))
        .withColumn("neg_pts", -col("p_ts"))
      graft.ops.AsofJoin.asofJoin(clicks, purchases, Seq("user_id"),
          "neg_cts", "neg_pts", rightCols = Seq("p_ts"),
          toleranceMicros = Some(3600000000L))
        .groupBy(expr("c_ts div 86400000000").as("day_id"))
        .agg(count(lit(1)).as("n_clicks"),
          count(col("p_ts")).as("n_conversions"))
        .orderBy(col("day_id"))
    }),

    // Exact heavy hitters without a full-cardinality shuffle: planted
    // skew (user_id % 10 < 3 collapses to three hot keys, the long tail
    // stays per-user) → Misra-Gries partition summaries prune to ≤ k·P
    // candidates → broadcast semi-join + exact recount > n/k. Oracle is
    // the plain HAVING — approximation prunes, never decides.
    // Mergeable quantile sketch under the hard gate (q30's pattern):
    // exact p25/p50/p75 over integer micro-values are hash-gated against
    // the oracle (quarter quantiles interpolate exactly in binary, so
    // engines can't diverge in the last ulp), while the approx_percentile
    // sketch — the single-pass mergeable path a 100 TB profile actually
    // runs — surfaces as an in-query tolerance boolean. The sketch's
    // guarantee is RANK error ≤ n/10000; the 10%+0.1 check below is a
    // value-space translation that holds because the fixture's value
    // distribution is dense near the quartiles (a gapped distribution
    // could put a within-spec rank outside any value tolerance — route
    // such data to the exact path, which is the hash-gated one here).
    "q114_quantile_sketch" -> ((s, dir) => {
      def tol(ap: org.apache.spark.sql.Column, ex: org.apache.spark.sql.Column) =
        abs(ap - ex) <= abs(ex) * lit(0.10) + lit(1e5)
      Tables.load(s, dir, "events")
        .withColumn("v_u", round(col("value") * lit(1e6), 0).cast("long"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(v_u, array(0.25D, 0.5D, 0.75D))").as("ex"),
          expr("approx_percentile(v_u, array(0.25D, 0.5D, 0.75D), 10000)").as("ap"))
        .select(col("event_type"), col("n"),
          element_at(col("ex"), 1).as("p25"),
          element_at(col("ex"), 2).as("p50"),
          element_at(col("ex"), 3).as("p75"),
          (tol(element_at(col("ap"), 1).cast("double"), element_at(col("ex"), 1)) &&
            tol(element_at(col("ap"), 2).cast("double"), element_at(col("ex"), 2)) &&
            tol(element_at(col("ap"), 3).cast("double"), element_at(col("ex"), 3)))
            .as("approx_ok"))
        .orderBy(col("event_type"))
    }),

    // Count-min sketch under the hard gate: per event_type, a 4×1024
    // mergeable sketch of user_id frequencies (map-side combine of 32 KiB
    // buffers — the 100 TB shuffle carries sketches, never keys), probed
    // at 10 literal keys. Exact counts are hash-gated; the sketch
    // surfaces as two booleans — never-undercounts (a CMS theorem, so
    // `true` unconditionally) and a 16·N/width slack (≈1.6% of N —
    // deliberately wide of the e·N/width expectation, because the CMS
    // bound is probabilistic per probe and this sits under a HARD gate:
    // Markov per row gives P[min of 4 rows exceeds 16×mean] ≲ 2e-5 per
    // probe, and the check is deterministic for the fixed testdata +
    // frozen hashes — verified at sf0.01 and sf0.1).
    "q115_cms_freq" -> ((s, dir) => {
      import graft.functions.CountMin
      val (depth, width) = (4, 1024)
      val events = Tables.load(s, dir, "events")
      val sk = events.groupBy(col("event_type"))
        .agg(CountMin.sketch(depth, width)(col("user_id")).as("sk"),
          count(lit(1)).as("total"))
      val probeStructs = (0L until 10L).map { k =>
        struct(lit(k).as("probe_key"),
          CountMin.estimate(col("sk"), k, depth, width).as("cms_est"))
      }
      val est = sk.select(col("event_type"), col("total"),
          explode(array(probeStructs: _*)).as("p"))
        .select(col("event_type"), col("total"),
          col("p.probe_key").as("probe_key"), col("p.cms_est").as("cms_est"))
      val exact = events.filter(col("user_id") < 10)
        .groupBy(col("event_type"), col("user_id").as("probe_key"))
        .agg(count(lit(1)).as("exact_n"))
      est.join(exact, Seq("event_type", "probe_key"), "left")
        .withColumn("exact_n", coalesce(col("exact_n"), lit(0L)))
        .select(col("event_type"), col("probe_key"), col("exact_n"),
          (col("cms_est") >= col("exact_n")).as("ge_ok"),
          ((col("cms_est") - col("exact_n")) * lit(width.toLong) <=
            col("total") * lit(16L)).as("slack_ok"))
        .orderBy(col("event_type"), col("probe_key"))
    }),

    // KMV (bottom-k theta) sketch SET OPERATIONS under the hard gate:
    // distinct-cardinality estimates for A = parts ever in a returned
    // lineitem, B = parts in a non-returned one, and |A∪B| / |A∩B| by
    // sketch algebra — the question HLL cannot answer (HLL unions but
    // never intersects). The sketches aggregate RAW lineitem rows in one
    // pass (duplicate hashes collapse in-buffer; no pre-distinct, the
    // shuffle carries ≤ k longs per side), while the exact counts — the
    // gate's ground truth — take the one key-shuffle that exactness
    // fundamentally needs. Both estimate and exact are integer end to
    // end, so the ESTIMATES are hash-gated exactly (the oracle replays
    // bottom-k of the same portable hash), and the estimator QUALITY is
    // gated by ±25% booleans (k=256 → SE ≈ 6.3%, so 25% ≈ 4σ; in the
    // sub-k regime the sketch is the set and the estimate is exact).
    "q158_kmv_setops" -> ((s, dir) => {
      import graft.functions.KmvAgg
      val k = 256
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("R", "N"))
        .select(col("l_partkey"), col("l_returnflag"),
          graft.dedup.Dedup.charHash(
            concat(col("l_partkey").cast("string"), lit("#kmv"))).as("h"))
      val sketches = li.agg(
        KmvAgg.kmv(k)(when(col("l_returnflag") === "R", col("h"))
          .otherwise(lit(-1L))).as("ka"),
        KmvAgg.kmv(k)(when(col("l_returnflag") === "N", col("h"))
          .otherwise(lit(-1L))).as("kb"))
      val exact = li.groupBy(col("l_partkey"))
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("in_a"),
          max(when(col("l_returnflag") === "N", 1L).otherwise(0L)).as("in_b"))
        .agg(sum(col("in_a")).as("exact_a"), sum(col("in_b")).as("exact_b"),
          count(lit(1)).as("exact_union"),
          sum(col("in_a") * col("in_b")).as("exact_int"))
      def idiv(a: Column, b: Column) =
        call_function("div", a.cast("long"), b.cast("long"))
      val merged = array_sort(array_union(col("ka"), col("kb")))
      val est = sketches
        .withColumn("mg", merged)
        .withColumn("mk", slice(col("mg"), 1, k))
        .withColumn("est_a", KmvAgg.estimate(k, col("ka")))
        .withColumn("est_b", KmvAgg.estimate(k, col("kb")))
        .withColumn("est_union", KmvAgg.estimate(k, col("mg")))
        .withColumn("est_int",
          idiv(size(array_intersect(array_intersect(col("mk"), col("ka")),
            col("kb"))).cast("long") * col("est_union"),
            size(col("mk")).cast("long")))
        .select("est_a", "est_b", "est_union", "est_int")
      def ok(est: Column, ex: Column) = (abs(est - ex) * 100 <= ex * 25)
      est.crossJoin(broadcast(exact))
        .select(col("exact_a"), col("exact_b"), col("exact_union"),
          col("exact_int"), col("est_a"), col("est_b"), col("est_union"),
          col("est_int"),
          ok(col("est_a"), col("exact_a")).as("ok_a"),
          ok(col("est_b"), col("exact_b")).as("ok_b"),
          ok(col("est_union"), col("exact_union")).as("ok_union"),
          ok(col("est_int"), col("exact_int")).as("ok_int"))
    }),

    // Correlation strength as an EXACT rational: r² in basis points from
    // the same five sums as q164 plus Σy² — r² = num²/(den_x·den_y) needs
    // no square root, so unlike Pearson r itself it is integer-exact and
    // hash-gateable (sign reported separately). num² would pass even
    // DECIMAL(38,0)/HUGEINT around n=2e5 groups at these unit scales
    // (num ~ n²·cov), so num and the dens are first truncated by S=1e6 —
    // a DEFINED deterministic surrogate both engines replay bit-for-bit;
    // the precision cost is ~S/num (negligible when a correlation exists,
    // rounds to 0 when |num| < S, which is the right answer there) and
    // the headroom extends to ~3e6 rows per group (raise S beyond that).
    "q169_value_corr" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 1000000").as("x"),
          CoreOps.cents(col("value")).as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .withColumn("num", expr("(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) div 1000000"))
        .withColumn("den_x", expr("(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx) div 1000000"))
        .withColumn("den_y", expr("(n * syy - CAST(sy AS DECIMAL(38,0)) * sy) div 1000000"))
        .withColumn("r2_bp", when(col("den_x") === 0 || col("den_y") === 0,
            lit(null))
          .otherwise(expr(
            """CAST((CAST(num AS DECIMAL(38,0)) * num * 10000)
              | div (CAST(den_x AS DECIMAL(38,0)) * den_y) AS BIGINT)""".stripMargin)))
        .withColumn("slope_sign", signum(col("num")).cast("long"))
        .select(col("event_type"), col("n"), col("r2_bp"), col("slope_sign"))
        .orderBy(col("event_type"))
    }),

    // Cross-source vocabulary overlap — the corpus-mixture contamination
    // question ("how much does source A's token space overlap B's"):
    // exact pairwise Jaccard over distinct token sets, in basis points.
    // Scale shape: one distinct (source, token) hash agg; the pair stage
    // joins that table to itself ON TOKEN — the candidate set is (number
    // of sources sharing a token choose 2) per token, bounded by the
    // SOURCE count (a handful), never |vocab|²; per-source sizes
    // broadcast back. The KMV sketch (q158) is the approximate path when
    // sources number in the thousands.
    "q170_source_overlap" -> ((s, dir) => {
      val st = Tables.load(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .distinct()
      val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("n_toks"))
      val pairs = st.as("a").join(st.as("b"), Seq("tok"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
      pairs
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n_toks").as("n_a"))), Seq("src_a"))
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n_toks").as("n_b"))), Seq("src_b"))
        .withColumn("jaccard_bp", expr(
          "(n_common * 10000) div (n_a + n_b - n_common)"))
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          col("n_common"), col("jaccard_bp"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Recency-decayed engagement rollup: each event's cents halve per
    // day of age against the corpus horizon (exponential decay with a
    // 1-day half-life, computed as INTEGER `div` by a capped power of
    // two — exact on any engine and partition order, where float
    // exp-decay sums are neither). The horizon is one broadcast scalar;
    // the decay is scan-local; shift capped at 40 so 2^shift stays far
    // inside a long (a week-old row already rounds to 0 cents anyway).
    "q175_decayed_rollup" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          CoreOps.cents(col("value")).as("v_c"))
      val horizon = e.agg(max(col("day")).as("max_day"))
      e.crossJoin(broadcast(horizon))
        .withColumn("age", least(col("max_day") - col("day"), lit(40L)))
        .withColumn("dv", expr("v_c div shiftleft(1L, CAST(age AS INT))"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("v_c")).as("raw_cents"),
          sum(col("dv")).as("decayed_cents"))
        .orderBy(col("event_type"))
    }),

    // Behavior-flow transition matrix (first-order Markov counts): per
    // user, consecutive event pairs ordered by (ts, event_id); rolled up
    // to (prev_type, type) counts + row-normalized probabilities in
    // basis points. Scale shape: ONE hash partition by user + per-user
    // sort (the lag window — bounded by a user's history, parallel
    // across users), then partial-aggregable counts; row totals are a
    // handful of rows broadcast back.
    "q171_transitions" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val t = e.withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val tot = t.groupBy(col("prev_type")).agg(sum(col("n")).as("row_n"))
      t.join(broadcast(tot), "prev_type")
        .withColumn("p_bp", expr("(n * 10000) div row_n"))
        .select(col("prev_type"), col("event_type"), col("n"), col("p_bp"))
        .orderBy(col("prev_type"), col("event_type"))
    }),

    // Cohort retention — the product-analytics staple: users bucketed by
    // first-seen day, each later active day counted as (cohort_day,
    // day_offset, n_users). Scale shape: per-user min (hash agg) + the
    // distinct (user, day) activity set (hash agg) + ONE keyed join on
    // user_id — both sides arrive hash-partitioned on it — then a final
    // partial-aggregable count; (user, day) uniqueness makes count(*)
    // exactly the distinct-user count per cell, no count-distinct needed.
    "q168_cohort_retention" -> ((s, dir) => {
      val days = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val activity = days.distinct()
      val first = activity.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      activity.join(first, "user_id")
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // Winsorized robust aggregates from EXACT order statistics: clip each
    // event_type's values at the ceil(0.01n)/ceil(0.99n) ranks and compare
    // raw vs clipped mean — the outlier-robust twin of q128's 3σ sweep.
    // Ranks come from CoreOps.rangeRank (range-partitioned exact order
    // statistics — no per-stratum sort task, no window over a whole
    // group), bounds are 2 rows per group broadcast back, and the clip
    // itself is scan-local. Integer cents end to end.
    "q165_winsorize" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          CoreOps.cents(col("value")).as("v_c"))
      val ranked = CoreOps.rangeRank(e, Seq("event_type"),
        Seq(col("v_c"), col("event_id")))
      val ns = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .withColumn("k_lo", expr("(n + 99) div 100"))
        .withColumn("k_hi", expr("(99 * n + 99) div 100"))
      val bounds = ranked.join(broadcast(ns), "event_type")
        .filter(col("rank") === col("k_lo") || col("rank") === col("k_hi"))
        .groupBy(col("event_type")).agg(
          min(when(col("rank") === col("k_lo"), col("v_c"))).as("lo_cents"),
          min(when(col("rank") === col("k_hi"), col("v_c"))).as("hi_cents"))
      e.join(broadcast(bounds), "event_type")
        .withColumn("w", least(greatest(col("v_c"), col("lo_cents")),
          col("hi_cents")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          min(col("lo_cents")).as("lo_cents"),
          min(col("hi_cents")).as("hi_cents"),
          expr("sum(v_c) div count(1)").as("raw_mean_cents"),
          expr("sum(w) div count(1)").as("win_mean_cents"))
        .orderBy(col("event_type"))
    }),

    // Three-step ordered funnel (view → click within 1 h → purchase
    // within 1 h of the click): q147's forward as-of (backward as-of on
    // the NEGATED axis — one keyed shuffle, linear per key) CHAINED, the
    // k-step generalization every product-analytics suite ships. Rows
    // that miss step 1 bypass the second as-of entirely (no null-ts rows
    // enter a join), then everything rolls up per view-day.
    "q166_funnel3" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      def typed(t: String, tsName: String) =
        ev.filter(col("event_type") === t)
          .select(col("user_id"), unix_micros(col("ts")).as(tsName))
      val v = Tables.load(s, dir, "events")
        .filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("v_ts"),
          col("event_id").as("v_id"))
        .withColumn("neg_vts", -col("v_ts"))
      val clicks = typed("click", "c_ts").withColumn("neg_cts", -col("c_ts"))
      val purchases = typed("purchase", "p_ts")
        .withColumn("neg_pts", -col("p_ts"))
      val s1 = graft.ops.AsofJoin.asofJoin(v, clicks, Seq("user_id"),
        "neg_vts", "neg_cts", rightCols = Seq("c_ts"),
        toleranceMicros = Some(3600000000L))
      val hit = s1.filter(col("c_ts").isNotNull)
        .withColumn("neg_cts2", -col("c_ts"))
      val s2hit = graft.ops.AsofJoin.asofJoin(hit, purchases, Seq("user_id"),
          "neg_cts2", "neg_pts", rightCols = Seq("p_ts"),
          toleranceMicros = Some(3600000000L))
        .select(col("v_ts"), col("c_ts"), col("p_ts"))
      val s2miss = s1.filter(col("c_ts").isNull)
        .select(col("v_ts"), col("c_ts"), lit(null).cast("long").as("p_ts"))
      s2hit.unionByName(s2miss)
        .groupBy(expr("v_ts div 86400000000").as("day_id"))
        .agg(count(lit(1)).as("n_views"),
          count(col("c_ts")).as("n_clicked"),
          count(col("p_ts")).as("n_purchased"))
        .orderBy(col("day_id"))
    }),

    // Per-type value trend via exact-integer OLS (CoreOps.linearTrend):
    // slope of value-cents against event time in epoch seconds — the
    // drift-regression sibling of q128's 3σ sweep, partition-invariant
    // because every sum is integer/DECIMAL(38,0).
    "q164_value_trend" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      CoreOps.linearTrend(
          e.select(col("event_type"),
            expr("unix_micros(ts) div 1000000").as("x"),
            CoreOps.cents(col("value")).as("y")),
          "event_type", col("x"), col("y"))
        .orderBy(col("event_type"))
    }),

    // Data-quality anomaly sweep: per event_type, count of values more
    // than 3σ from the mean. Mean/variance derive from EXACT integer
    // sums (n, Σv, Σv²) so the float math is one fixed expression both
    // engines evaluate identically — never Spark's pairwise-merge
    // stddev, whose result depends on partition boundaries. The 3σ test
    // runs as (v−mean)² > 9·var: no sqrt, fewer rounding steps. Stats
    // are one broadcast row per group; the sweep is scan-local.
    "q128_outliers" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), CoreOps.cents(col("value")).as("v_c"))
      val stats = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"), sum(col("v_c")).as("s1"),
        sum(col("v_c") * col("v_c")).as("s2"))
      val mean = col("s1").cast("double") / col("n")
      val varr = (col("s2").cast("double") / col("n")) - mean * mean
      val dev = col("v_c").cast("double") - mean
      e.join(broadcast(stats), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(dev * dev > lit(9.0) * varr, 1L).otherwise(0L))
            .as("n_outliers"))
        .orderBy(col("event_type"))
    }),

    // §2.9 aggregate breadth: ordered string aggregation (deterministic
    // via sort-before-join), bitwise AND/OR/XOR folds, boolean
    // quantifiers — all partial-aggregable (bit/bool monoids commute;
    // collect_set's merge is a set union, sorted only at finish).
    "q127_agg_suite" -> ((s, dir) => {
      Tables.load(s, dir, "events").filter(col("user_id") < 10)
        .groupBy(col("user_id"))
        .agg(
          array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
          expr("bit_and(event_id)").as("band"),
          expr("bit_or(event_id)").as("bor"),
          expr("bit_xor(event_id)").as("bxor"),
          expr("bool_and(value > 0)").as("all_pos"),
          expr("bool_or(value > 100)").as("any_big"))
        .orderBy(col("user_id"))
    }),

    "q96_heavy_hitters" -> ((s, dir) => {
      import graft.ops.HeavyHitters
      val keyed = Tables.load(s, dir, "events").select(
        when(col("user_id") % 10 < 3,
            concat(lit("hot"), (col("user_id") % 3).cast("string")))
          .otherwise(concat(lit("u"), col("user_id").cast("string")))
          .as("k"))
      HeavyHitters.heavyHitters(keyed, "k", k = 20)
        .withColumnRenamed("key", "k")
        .orderBy(col("k"))
    }),

    // Bloom semi-join reduction: revenue of one nation's suppliers. The
    // dim is DERIVED (supplier ⋈ σ(nation)) — the shape Spark's automatic
    // runtime filter can miss — so the fact side is pre-filtered by a
    // sketch of the ~1/25 surviving supplier keys before its exchange.
    // False positives are removed by the exact join; oracle = plain join.
    "q73_bloom_join" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val sup = Tables.load(s, dir, "supplier")
      val n = Tables.load(s, dir, "nation").filter(col("n_name") === "NATION_7")
      val dim = sup.join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"))
      BloomJoin.reducedJoin(l, "l_suppkey", dim, "s_suppkey",
          expectedItems = 100000L)
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(sum(CoreOps.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("s_suppkey"))
    }),

    // Partial-aggregating top-k per group (§2.7 at scale): bounded-buffer
    // aggregate ships ≤ k rows per group per map task, vs the window
    // idiom's full-table exchange + per-group sort (q03). Same answer.
    "q80_topk_agg" -> ((s, dir) => {
      import graft.functions.TopKAgg
      Tables.load(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          CoreOps.cents(col("value")).as("value_cents"))
        .groupBy(col("event_type"))
        .agg(TopKAgg.topK(5, col("value_cents"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("event_id"), col("col.v").as("value_cents"))
        .orderBy(col("event_type"), col("rank"))
    }),

    // Explicit salted skew join (A4's join-side sibling): revenue per
    // order priority through a (key, salt) equi-join — result must equal
    // the plain join the oracle runs. Salting is TARGETED: orderkeys are
    // uniform (≤7 lineitems each), so hot-key detection finds nothing and
    // the join degenerates to the plain broadcast-able shape — zero
    // replication paid for skew that does not exist. The hot path
    // (planted power-law key) is pinned in CoreOpsSpec.
    "q79_salted_join" -> ((s, dir) => {
      val l = Tables.load(s, dir, "lineitem")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      CoreOps.saltedJoin(l, o, "l_orderkey", "o_orderkey", salt = 8)
        .groupBy(col("o_orderpriority"))
        .agg(sum(CoreOps.cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .as("revenue_cents"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // Mergeable HLL sketch rollup (A6 incremental): per-(type, day)
    // sketches merged up to per-type WITHOUT rescanning events. At this
    // cardinality (150 users) the Datasketches HLL is in its exact sparse
    // regime, so the estimate hash-matches COUNT(DISTINCT) — the sketch
    // PATH under the hard gate; q30 covers the approximate regime
    // rows-only.
    // Mergeable-HLL rollup under the gate, tolerance-boolean form: daily
    // sketches union up to per-type totals; the hash-gated columns are
    // the EXACT distincts, the sketch surfaces as a 3σ-margin boolean
    // (datasketches lgK=12 → rsd ≈ 1.6%, margin 5% + 16 absolute; at
    // small SFs the sparse representation is exact, at sf0.1 the 'click'
    // estimate ran 0.8% off — inside 3σ, outside the old exact compare).
    "q86_sketch_rollup" -> ((s, dir) => {
      val events = Tables.load(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
      val daily = CoreOps.distinctSketches(events,
        Seq("event_type", "day"), "user_id")
      val est = CoreOps.sketchRollup(daily, Seq("event_type"))
      val exact = events.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_distinct_exact"))
      est.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_distinct_exact"),
          (abs(col("n_distinct") - col("n_distinct_exact")) <=
            col("n_distinct_exact") * lit(0.05) + lit(16.0)).as("sketch_ok"))
        .orderBy(col("event_type"))
    }),

    // Explicit GROUPING SETS (the general lattice form of cube/rollup)
    // with grouping_id disambiguating the aggregation level.
    "q81_grouping_sets" -> ((s, dir) => {
      val df = Tables.load(s, dir, "events")
        .withColumn("user_bucket", col("user_id") % 10)
      df.groupingSets(
          Seq(Seq(col("event_type"), col("user_bucket")),
            Seq(col("event_type")), Seq.empty),
          col("event_type"), col("user_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(CoreOps.cents(col("value"))).as("sum_cents"),
          grouping_id().as("gid"))
        .orderBy(col("gid"), col("event_type"), col("user_bucket"))
    }),

    // A4 cube: full grouping-set lattice over two dims.
    "q41_cube_agg" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(CoreOps.cents(col("o_totalprice"))).as("sum_price_cents"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // A5 exact interpolated percentiles (distribution surface).
    "q42_percentiles" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy(col("l_returnflag"))
    }),

    // LSH-bucketed ANN top-k (the no-broadcast scale path).
    "q43_ann_lsh" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.similarity.Similarity.lshTopK(e, e.filter(col("vec_id") < 20),
          "vec_id", "embedding", 5, planes = 6, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // U2 batch-25 protocol (mapPartitions enrichment) under the oracle gate:
    // same lexicon as q21 but through the batched executor-side path.
    "q44_batch_enrich" -> ((s, dir) => {
      val scorer = new Enrich.LexiconScorer(
        TextQueries.positive.toSet, TextQueries.negative.toSet)
      val enriched = Enrich.batchEnrich(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
        "text", scorer, batchSize = 25)
      enriched.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(CoreOps.cents(col("Positive"), 6)).as("sum_pos_u"),
          sum(CoreOps.cents(col("Negative"), 6)).as("sum_neg_u"))
        .orderBy(col("lang"))
    }),

    // §2.6 window frame: 3-row moving sum per user (ROWS BETWEEN).
    // RANGE frame (value-based, not row-count): per-user rolling sum over
    // the trailing hour of EVENT TIME — ties share a frame, gaps shrink
    // it, which a ROWS frame (q45) cannot express.
    "q90_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, Window.currentRow)
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          CoreOps.cents(col("value")).as("cents"))
        .withColumn("hour_sum", sum(col("cents")).over(w))
        .select(col("user_id"), col("event_id"), col("hour_sum"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q45_moving_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("mov3", sum(CoreOps.cents(col("value"))).over(w))
        .select(col("user_id"), col("event_id"), col("mov3"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Range join (keyless interval containment, bucketized): clicks inside
    // each signup's 6-hour window, across all users.
    "q65_range_join" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val ranges = e.filter(col("event_type") === "signup" && col("event_id") < 400)
        .select(col("event_id").as("signup_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 6 HOURS")).as("end_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"))
      CoreOps.rangeJoin(clicks, "ts", ranges, "start_ts", "end_ts", 3600L)
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_clicks"), sum(col("click_id")).as("sum_click_ids"))
        .orderBy(col("signup_id"))
    }),

    // §2.6 navigation window functions: lead / first / last / nth.
    "q62_window_nav" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          lead(col("value"), 1).over(w).as("next_v"),
          first(col("value")).over(wf).as("first_v"),
          last(col("value")).over(wf).as("run_last_v"),
          nth_value(col("value"), 2).over(wf).as("second_v"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // §2.6 ranking suite: dense_rank / percent_rank / cume_dist / ntile.
    "q63_rank_suite" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 5)
        .select(col("user_id"), col("event_id"),
          dense_rank().over(w).as("dr"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          ntile(4).over(w).as("nt"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // Exact second-moment statistics via integer sums (the scale-safe way
    // to compute variance/stddev: built-in stddev merges partial float
    // moments in partition order and is not bit-reproducible).
    "q64_moments" -> ((s, dir) => {
      val c = CoreOps.cents(col("value"))
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(c).as("sum_c"), sum(c * c).as("sumsq_c"))
        .withColumn("mean_v",
          col("sum_c").cast("double") / lit(100.0) / col("n"))
        .withColumn("var_v",
          (col("sumsq_c").cast("double") - col("sum_c").cast("double") * col("sum_c").cast("double") / col("n"))
            / (col("n") - lit(1)) / lit(10000.0))
        .withColumn("stddev_v", sqrt(col("var_v")))
        .orderBy(col("event_type"))
    }),

    // As-of join: each click joined to the user's latest prior-or-equal
    // purchase (union + key-window — one shuffle, no range join).
    "q61_asof_join" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("p_id"), col("value"))
      CoreOps.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
          rightCols = Seq("p_id", "value"), rightTiebreak = "p_id")
        .select(col("event_id"), col("user_id"),
          col("asof_p_id"), col("asof_value"))
        .orderBy(col("event_id"))
    }),

    // §2.9 string manipulation suite: pad/trim/repeat/reverse/slice.
    "q59_string_suite" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 200)
        .select(col("o_orderkey"),
          lpad(col("o_orderstatus"), 3, "_").as("lp"),
          rpad(col("o_orderstatus"), 3, "*").as("rp"),
          trim(concat(lit("  "), col("o_orderpriority"), lit("  "))).as("tr"),
          repeat(col("o_orderstatus"), 3).as("rep"),
          reverse(col("o_orderpriority")).as("rev"),
          substring(col("o_orderpriority"), -3, 3).as("rgt"))
        .orderBy(col("o_orderkey"))
    }),

    // Conditional aggregation: count_if / filtered sums / bool aggregates.
    "q60_conditional_agg" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(when(col("value") > 100.0, 1)).as("n_big"),
          sum(when(col("user_id") % 2 === 0, CoreOps.cents(col("value"))).otherwise(0L)).as("even_cents"),
          max(col("value") > 300.0).as("any_huge"),
          min(col("value") >= 0.0).as("all_nonneg"))
        .orderBy(col("event_type"))
    }),

    // §2.9 JSON construction + parse round-trip (json.dumps/loads analog):
    // build a JSON doc from columns, re-parse it with a schema, extract.
    "q58_json_roundtrip" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .filter(col("event_id") < 100)
        .select(col("event_id"),
          to_json(struct(col("event_type").as("t"), col("user_id").as("u"))).as("doc"))
        .withColumn("back", from_json(col("doc"), StructType.fromDDL("t STRING, u BIGINT")))
        .select(col("event_id"), col("doc"), col("back.t").as("t_back"), col("back.u").as("u_back"))
        .orderBy(col("event_id"))
    }),

    // §2.8 intersect: users who both viewed and purchased.
    "q53_intersect" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.filter(col("event_type") === "view").select(col("user_id"))
        .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    // §2.8 except: viewers minus users with a high-value error.
    "q54_except" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
      e.filter(col("event_type") === "view").select(col("user_id"))
        .except(e.filter(col("event_type") === "error" && col("value") > 150.0)
          .select(col("user_id")))
        .orderBy(col("user_id"))
    }),

    // True IVF ANN: deterministic centroids (exact micro-unit means),
    // nearest-centroid assignment, nProbe probing — the no-broadcast,
    // no-all-pairs path for billion-vector corpora.
    "q50_ann_ivf" -> ((s, dir) => {
      val e = Tables.load(s, dir, "embeddings")
      graft.similarity.Similarity.ivfTopK(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nCells = 16, nProbe = 4, dim = 64)
        .orderBy(col("query_id"), col("rank"))
    }),

    // §2.10 built-in session_window in batch mode (the stream-capable
    // sessionization): one row per (user, session) → sessions per user.
    // Boundary semantics: a gap of exactly the window closes the session
    // (exclusive end) — the oracle mirrors that at microsecond precision.
    "q49_session_window" -> ((s, dir) => {
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // §2.9 date arithmetic + array/conditional scalar coverage.
    "q48_datetime_suite" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") <= 300)
        .select(
          col("o_orderkey"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"),
          datediff(lit("1998-12-01"), col("o_orderdate")).as("dd"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mon"),
          dayofweek(col("o_orderdate")).as("dow"),
          array_join(array_sort(array(col("o_orderkey") % 5, lit(7L), lit(2L)))
            .cast("array<string>"), ",").as("arr"),
          array_contains(array(col("o_orderkey") % 5, lit(7L)), 2L).as("has2"),
          nullif(col("o_orderstatus"), lit("O")).as("st"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st2"))
        .orderBy(col("o_orderkey"))
    }),

    // Skew-salted two-phase aggregation: result equals a plain group-by
    // (which is exactly what the oracle runs) at any salt assignment.
    "q47_salted_agg" -> ((s, dir) => {
      CoreOps.saltedSumCount(Tables.load(s, dir, "events"),
          Seq("event_type"), col("value"), saltBuckets = 16)
        .orderBy(col("event_type"))
    }),

    // Pivot: event counts per user across the 5 event types.
    "q46_pivot" -> ((s, dir) => pivotWide(s, dir).orderBy(col("user_id"))),

    // SCD2 dimension build: each (user, event_type) observation becomes a
    // validity interval [valid_from, valid_to) via lead(); the open row
    // per key is current. The warehouse form of the reference's 2-day
    // re-crawl history (engagement evolving over snapshots).
    "q83_scd2" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.load(s, dir, "events")
        .filter(col("user_id") < 10)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          CoreOps.cents(col("value")).as("value_cents"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("value_cents"),
          col("ts_us").as("valid_from"),
          lead(col("ts_us"), 1).over(w).as("valid_to"),
          lead(col("ts_us"), 1).over(w).isNull.as("is_current"))
        .orderBy(col("user_id"), col("event_type"), col("valid_from"),
          col("event_id"))
    }),

    // Unpivot (melt): q46's wide frame back to long form — built-in
    // `unpivot` over the SAME builder, so the melt provably inverts the
    // pivot it claims to.
    "q84_unpivot" -> ((s, dir) => {
      pivotWide(s, dir)
        .unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
          "event_type", "n")
        .filter(col("n") > 0)
        .orderBy(col("user_id"), col("event_type"))
    }))

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Wide per-user event-type count frame (zero-filled) — pivoted form
    * shared by q46 (forward) and q84 (inverse).
    */
  private def pivotWide(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select((col("user_id") +:
      EventTypes.map(t => coalesce(col(t), lit(0L)).as(t))): _*)
  }

  private val C = "CAST(round(%s * 100) AS BIGINT)"

  val oracles: Map[String, String] = Map(
    // Bottom-k of the same portable hash, replayed in plain SQL: sketches
    // via ORDER BY h LIMIT k over distinct hashes, estimates via the same
    // (k-1)·M // h_k integer arithmetic, intersection via the merged-k
    // Jaccard fraction. The ±25% booleans re-derive from the same exacts.
    "q158_kmv_setops" -> {
      val h = CharHash.duckdbSql("concat(CAST(l_partkey AS VARCHAR), '#kmv')")
      s"""WITH hashed AS (
         |  SELECT l_partkey, l_returnflag, $h AS h
         |  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
         |keys AS (
         |  SELECT l_partkey, max(h) AS h,
         |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) AS in_b
         |  FROM hashed GROUP BY 1),
         |ex AS (
         |  SELECT CAST(sum(in_a) AS BIGINT) AS exact_a,
         |    CAST(sum(in_b) AS BIGINT) AS exact_b,
         |    CAST(count(*) AS BIGINT) AS exact_union,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS exact_int
         |  FROM keys),
         |ka AS (SELECT DISTINCT h FROM keys WHERE in_a = 1 ORDER BY h LIMIT 256),
         |kb AS (SELECT DISTINCT h FROM keys WHERE in_b = 1 ORDER BY h LIMIT 256),
         |mg AS (SELECT h FROM ka UNION SELECT h FROM kb),
         |mk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mg),
         |sa AS (SELECT count(*) AS n, max(h) AS hk FROM ka),
         |sb AS (SELECT count(*) AS n, max(h) AS hk FROM kb),
         |su AS (SELECT count(*) AS n FROM mg),
         |suk AS (SELECT max(h) AS hk, count(*) AS kp FROM mk WHERE rn <= 256),
         |c AS (SELECT count(*) AS c FROM mk
         |      WHERE rn <= 256 AND h IN (SELECT h FROM ka)
         |        AND h IN (SELECT h FROM kb)),
         |est AS (
         |  SELECT
         |    CASE WHEN sa.n < 256 THEN sa.n
         |         ELSE CAST(255 AS BIGINT) * 1000000007 // sa.hk END AS est_a,
         |    CASE WHEN sb.n < 256 THEN sb.n
         |         ELSE CAST(255 AS BIGINT) * 1000000007 // sb.hk END AS est_b,
         |    CASE WHEN su.n < 256 THEN su.n
         |         ELSE CAST(255 AS BIGINT) * 1000000007 // suk.hk END AS est_union
         |  FROM sa, sb, su, suk)
         |SELECT exact_a, exact_b, exact_union, exact_int,
         |  CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  CAST(c.c * est_union // suk.kp AS BIGINT) AS est_int,
         |  abs(est_a - exact_a) * 100 <= exact_a * 25 AS ok_a,
         |  abs(est_b - exact_b) * 100 <= exact_b * 25 AS ok_b,
         |  abs(est_union - exact_union) * 100 <= exact_union * 25 AS ok_union,
         |  abs(c.c * est_union // suk.kp - exact_int) * 100 <= exact_int * 25
         |    AS ok_int
         |FROM est, ex, c, suk""".stripMargin
    },
    // DuckDB's native ASOF LEFT JOIN — an independent implementation of
    // the as-of semantics, not a restatement of the engine's union+window.
    // c_val carries planted NULLs through the match so row-struct carry
    // semantics are gated, not just spec'd.
    "q133_asof_join" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    event_id AS v_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, ts_us, c_id,
        |    CASE WHEN c_id % 3 = 0 THEN NULL ELSE c_id * 7 END AS c_val
        |  FROM (
        |    SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |      max(event_id) AS c_id
        |    FROM events WHERE event_type = 'click' GROUP BY 1, 2))
        |SELECT v.v_id, c.c_id, c.c_val, v.user_id
        |FROM v ASOF LEFT JOIN c
        |  ON v.user_id = c.user_id AND v.ts_us >= c.ts_us
        |ORDER BY v_id""".stripMargin,

    "q134_asof_tolerance" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    event_id AS v_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    max(event_id) AS c_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |m AS (
        |  SELECT v.user_id, v.v_id,
        |    CASE WHEN v.ts_us - c.ts_us <= 7200000000 THEN c.c_id END AS c_id
        |  FROM v ASOF LEFT JOIN c
        |    ON v.user_id = c.user_id AND v.ts_us >= c.ts_us)
        |SELECT user_id, count(*) AS n_views, count(c_id) AS n_matched,
        |  CAST(COALESCE(sum(c_id), 0) AS BIGINT) AS sum_c_id
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    // Plain-SQL replay (no ASOF needed): per click row, does ANY
    // purchase land in [c_ts, c_ts + 1 h]? Existence is tie-insensitive,
    // so the left-join + max-flag form agrees with the engine's
    // first-match-within-tolerance exactly.
    "q147_funnel" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT c.event_id, c.c_ts,
        |    max(CASE WHEN p.p_ts >= c.c_ts
        |             AND p.p_ts - c.c_ts <= 3600000000 THEN 1 ELSE 0 END) AS hit
        |  FROM c LEFT JOIN p ON p.user_id = c.user_id
        |  GROUP BY 1, 2)
        |SELECT c_ts // 86400000000 AS day_id, CAST(count(*) AS BIGINT) AS n_clicks,
        |  CAST(sum(hit) AS BIGINT) AS n_conversions
        |FROM conv GROUP BY day_id ORDER BY day_id""".stripMargin,

    "q175_decayed_rollup" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
         |    ${C.format("value")} AS v_c
         |  FROM events),
         |h AS (SELECT max(day) AS max_day FROM e)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(v_c) AS BIGINT) AS raw_cents,
         |  CAST(sum(v_c // (CAST(1 AS BIGINT) <<
         |    least(max_day - day, 40))) AS BIGINT) AS decayed_cents
         |FROM e CROSS JOIN h
         |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q171_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events),
        |lagged AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS prev_type
        |  FROM e),
        |t AS (
        |  SELECT prev_type, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM lagged WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
        |        FROM t GROUP BY 1)
        |SELECT t.prev_type, t.event_type, n, (n * 10000) // row_n AS p_bp
        |FROM t JOIN tot USING (prev_type)
        |ORDER BY t.prev_type, t.event_type""".stripMargin,

    "q169_value_corr" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x,
         |    ${C.format("value")} AS y
         |  FROM events),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx,
         |    sum(CAST(y AS HUGEINT) * y) AS syy
         |  FROM e GROUP BY 1),
         |s AS (
         |  SELECT event_type, n,
         |    (n * sxy - CAST(sx AS HUGEINT) * sy) // 1000000 AS num,
         |    (n * sxx - CAST(sx AS HUGEINT) * sx) // 1000000 AS den_x,
         |    (n * syy - CAST(sy AS HUGEINT) * sy) // 1000000 AS den_y
         |  FROM agg)
         |SELECT event_type, n,
         |  CASE WHEN den_x = 0 OR den_y = 0 THEN NULL
         |       ELSE CAST((num * num * 10000) // (den_x * den_y) AS BIGINT)
         |  END AS r2_bp,
         |  CAST(sign(num) AS BIGINT) AS slope_sign
         |FROM s ORDER BY event_type""".stripMargin,

    "q170_source_overlap" ->
      """WITH st AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) WHERE len(tok) > 0),
        |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_toks
        |       FROM st GROUP BY 1),
        |p AS (
        |  SELECT a.source AS src_a, b.source AS src_b,
        |    CAST(count(*) AS BIGINT) AS n_common
        |  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, za.n_toks AS n_a, zb.n_toks AS n_b, n_common,
        |  (n_common * 10000) // (za.n_toks + zb.n_toks - n_common)
        |    AS jaccard_bp
        |FROM p
        |JOIN sz za ON za.source = p.src_a
        |JOIN sz zb ON zb.source = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    "q168_cohort_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM a JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // row_number replays rangeRank's (v_c, event_id) total order; the
    // ceil-rank bounds and clipped mean re-derive from the same integers.
    "q165_winsorize" ->
      s"""WITH e AS (
         |  SELECT event_type, event_id, ${C.format("value")} AS v_c
         |  FROM events),
         |r AS (
         |  SELECT event_type, v_c,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY v_c, event_id) AS rank
         |  FROM e),
         |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
         |      FROM e GROUP BY 1),
         |b AS (
         |  SELECT r.event_type,
         |    min(CASE WHEN rank = (n + 99) // 100 THEN v_c END) AS lo_cents,
         |    min(CASE WHEN rank = (99 * n + 99) // 100 THEN v_c END)
         |      AS hi_cents
         |  FROM r JOIN n USING (event_type) GROUP BY 1)
         |SELECT e.event_type, n.n AS n_events, b.lo_cents, b.hi_cents,
         |  CAST(CAST(sum(v_c) AS BIGINT) // n.n AS BIGINT) AS raw_mean_cents,
         |  CAST(CAST(sum(least(greatest(v_c, b.lo_cents), b.hi_cents))
         |    AS BIGINT) // n.n AS BIGINT) AS win_mean_cents
         |FROM e JOIN n USING (event_type) JOIN b USING (event_type)
         |GROUP BY 1, 2, 3, 4 ORDER BY event_type""".stripMargin,

    // First-at-or-after per step via min() over the 1 h window — the
    // quadratic-per-user restatement the linear as-of must agree with.
    // v_id keeps duplicate (user, ts) views distinct, as the engine does.
    "q166_funnel3" ->
      """WITH v AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS v_ts,
        |    event_id AS v_id
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts
        |      FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts
        |      FROM events WHERE event_type = 'purchase'),
        |s1 AS (
        |  SELECT v.user_id, v.v_ts, v.v_id, min(c.c_ts) AS c_ts
        |  FROM v LEFT JOIN c ON c.user_id = v.user_id
        |    AND c.c_ts >= v.v_ts AND c.c_ts <= v.v_ts + 3600000000
        |  GROUP BY 1, 2, 3),
        |s2 AS (
        |  SELECT s1.v_ts, s1.c_ts, min(p.p_ts) AS p_ts
        |  FROM s1 LEFT JOIN p ON s1.c_ts IS NOT NULL
        |    AND p.user_id = s1.user_id
        |    AND p.p_ts >= s1.c_ts AND p.p_ts <= s1.c_ts + 3600000000
        |  GROUP BY s1.user_id, s1.v_ts, s1.v_id, s1.c_ts)
        |SELECT v_ts // 86400000000 AS day_id,
        |  CAST(count(*) AS BIGINT) AS n_views,
        |  CAST(count(c_ts) AS BIGINT) AS n_clicked,
        |  CAST(count(p_ts) AS BIGINT) AS n_purchased
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin,

    // HUGEINT products replay the DECIMAL(38,0) sums; `//` replays div.
    // Slope reconstructed inline for the intercept (no lateral alias).
    "q164_value_trend" ->
      s"""WITH e AS (
         |  SELECT event_type,
         |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS x,
         |    ${C.format("value")} AS y
         |  FROM events),
         |agg AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    sum(CAST(x AS HUGEINT) * y) AS sxy,
         |    sum(CAST(x AS HUGEINT) * x) AS sxx
         |  FROM e GROUP BY 1),
         |s AS (
         |  SELECT event_type, n, sx, sy,
         |    n * sxy - CAST(sx AS HUGEINT) * sy AS num,
         |    n * sxx - CAST(sx AS HUGEINT) * sx AS den
         |  FROM agg)
         |SELECT event_type, n,
         |  CASE WHEN den = 0 THEN NULL
         |       ELSE CAST((num * 1000000000) // den AS BIGINT) END AS slope_nano,
         |  CASE WHEN den = 0 THEN NULL
         |       ELSE CAST((CAST(sy AS HUGEINT) * 1000000000
         |         - ((num * 1000000000) // den) * sx)
         |         // (CAST(n AS HUGEINT) * 1000000000) AS BIGINT) END
         |    AS intercept
         |FROM s ORDER BY event_type""".stripMargin,

    "q128_outliers" ->
      """WITH e AS (SELECT event_type,
        |             CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |         CAST(sum(v_c) AS BIGINT) AS s1,
        |         CAST(sum(v_c * v_c) AS BIGINT) AS s2
        |       FROM e GROUP BY event_type),
        |j AS (SELECT e.event_type, v_c,
        |        CAST(s1 AS DOUBLE) / n AS mean,
        |        CAST(s2 AS DOUBLE) / n
        |          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS varr
        |      FROM e JOIN st ON st.event_type = e.event_type)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN (CAST(v_c AS DOUBLE) - mean)
        |                   * (CAST(v_c AS DOUBLE) - mean) > 9.0 * varr
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q127_agg_suite" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events
        |           WHERE user_id < 10),
        |t AS (SELECT user_id,
        |        string_agg(event_type, ',' ORDER BY event_type) AS types
        |      FROM d GROUP BY user_id),
        |b AS (SELECT user_id,
        |        bit_and(event_id) AS band, bit_or(event_id) AS bor,
        |        bit_xor(event_id) AS bxor,
        |        bool_and(value > 0) AS all_pos,
        |        bool_or(value > 100) AS any_big
        |      FROM events WHERE user_id < 10 GROUP BY user_id)
        |SELECT t.user_id, types, band, bor, bxor, all_pos, any_big
        |FROM t JOIN b ON b.user_id = t.user_id
        |ORDER BY t.user_id""".stripMargin,

    "q114_quantile_sketch" ->
      """SELECT event_type, count(*) AS n,
        |  quantile_cont(v_u, 0.25) AS p25,
        |  quantile_cont(v_u, 0.5)  AS p50,
        |  quantile_cont(v_u, 0.75) AS p75,
        |  true AS approx_ok
        |FROM (SELECT event_type,
        |        CAST(round(value * 1000000.0) AS BIGINT) AS v_u FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q115_cms_freq" ->
      """WITH et AS (SELECT event_type FROM events GROUP BY 1),
        |probes AS (SELECT unnest(range(0, 10)) AS probe_key),
        |exact AS (SELECT event_type, user_id AS probe_key, count(*) AS exact_n
        |          FROM events WHERE user_id < 10 GROUP BY 1, 2)
        |SELECT et.event_type, p.probe_key,
        |  CAST(coalesce(exact_n, 0) AS BIGINT) AS exact_n,
        |  true AS ge_ok, true AS slack_ok
        |FROM et CROSS JOIN probes p
        |LEFT JOIN exact ON exact.event_type = et.event_type
        |  AND exact.probe_key = p.probe_key
        |ORDER BY et.event_type, p.probe_key""".stripMargin,

    "q96_heavy_hitters" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN user_id % 10 < 3
        |    THEN 'hot' || CAST(user_id % 3 AS VARCHAR)
        |    ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events)
        |SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM keyed
        |GROUP BY k
        |HAVING count(*) * 20 > (SELECT count(*) FROM keyed)
        |ORDER BY k""".stripMargin,

    "q41_cube_agg" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  CAST(sum(${C.format("o_totalprice")}) AS BIGINT) AS sum_price_cents
         |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q42_percentiles" ->
      """SELECT l_returnflag, count(*) AS n,
        |  quantile_cont(l_quantity, 0.5) AS p50,
        |  quantile_cont(l_quantity, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q43_ann_lsh" -> DedupQueries.lshOracle(queryPred = "vec_id < 20", k = 5, planes = 6),

    "q44_batch_enrich" -> TextQueries.sentimentOracleSql,

    "q45_moving_sum" ->
      s"""SELECT user_id, event_id,
         |  CAST(sum(${C.format("value")}) OVER (
         |    PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
         |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS mov3
         |FROM events WHERE user_id < 10 ORDER BY user_id, event_id""".stripMargin,

    "q50_ann_ivf" -> DedupQueries.ivfOracle(queryPred = "b.vec_id < 5",
      k = 3, nCells = 16, nProbe = 4),

    "q65_range_join" ->
      """WITH ranges AS (
        |  SELECT event_id AS signup_id, CAST(ts AS TIMESTAMP) AS start_ts,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 6 HOUR AS end_ts
        |  FROM events WHERE event_type = 'signup' AND event_id < 400),
        |clicks AS (
        |  SELECT event_id AS click_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events WHERE event_type = 'click')
        |SELECT signup_id, count(*) AS n_clicks, CAST(sum(click_id) AS BIGINT) AS sum_click_ids
        |FROM clicks c JOIN ranges r ON c.ts >= r.start_ts AND c.ts < r.end_ts
        |GROUP BY signup_id ORDER BY signup_id""".stripMargin,

    "q62_window_nav" ->
      """SELECT user_id, event_id,
        |  lead(value, 1) OVER w AS next_v,
        |  first_value(value) OVER wf AS first_v,
        |  last_value(value) OVER wf AS run_last_v,
        |  nth_value(value, 2) OVER wf AS second_v
        |FROM events WHERE user_id < 5
        |WINDOW
        |  w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id),
        |  wf AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    "q63_rank_suite" ->
      """SELECT user_id, event_id,
        |  CAST(dense_rank() OVER w AS INT) AS dr,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS INT) AS nt
        |FROM events WHERE user_id < 5
        |WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "q64_moments" ->
      s"""SELECT event_type, n, sum_c, sumsq_c,
         |  CAST(sum_c AS DOUBLE) / 100.0 / n AS mean_v,
         |  (CAST(sumsq_c AS DOUBLE) - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n)
         |    / (n - 1) / 10000.0 AS var_v,
         |  sqrt((CAST(sumsq_c AS DOUBLE) - CAST(sum_c AS DOUBLE) * CAST(sum_c AS DOUBLE) / n)
         |    / (n - 1) / 10000.0) AS stddev_v
         |FROM (
         |  SELECT event_type, count(*) AS n,
         |    CAST(sum(${C.format("value")}) AS BIGINT) AS sum_c,
         |    CAST(sum(${C.format("value")} * ${C.format("value")}) AS BIGINT) AS sumsq_c
         |  FROM events GROUP BY event_type)
         |ORDER BY event_type""".stripMargin,

    "q61_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id AS p_id, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, p.p_id AS asof_p_id, p.value AS asof_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin,

    "q59_string_suite" ->
      """SELECT o_orderkey,
        |  lpad(o_orderstatus, 3, '_') AS lp,
        |  rpad(o_orderstatus, 3, '*') AS rp,
        |  trim('  ' || o_orderpriority || '  ') AS tr,
        |  repeat(o_orderstatus, 3) AS rep,
        |  reverse(o_orderpriority) AS rev,
        |  right(o_orderpriority, 3) AS rgt
        |FROM orders WHERE o_orderkey <= 200 ORDER BY o_orderkey""".stripMargin,

    "q60_conditional_agg" ->
      s"""SELECT event_type,
         |  count(CASE WHEN value > 100.0 THEN 1 END) AS n_big,
         |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN ${C.format("value")} ELSE 0 END) AS BIGINT) AS even_cents,
         |  bool_or(value > 300.0) AS any_huge,
         |  bool_and(value >= 0.0) AS all_nonneg
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q58_json_roundtrip" ->
      """SELECT event_id, doc,
        |  json_extract_string(doc, '$.t') AS t_back,
        |  CAST(json_extract_string(doc, '$.u') AS BIGINT) AS u_back
        |FROM (
        |  SELECT event_id,
        |    CAST(to_json(struct_pack(t := event_type, u := user_id)) AS VARCHAR) AS doc
        |  FROM events WHERE event_id < 100)
        |ORDER BY event_id""".stripMargin,

    "q53_intersect" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin,

    "q54_except" ->
      """SELECT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'error' AND value > 150.0
        |ORDER BY user_id""".stripMargin,

    "q49_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |m AS (
        |  SELECT user_id,
        |    CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions, count(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q48_datetime_suite" ->
      """SELECT o_orderkey,
        |  strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS plus30,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-01') AS INT) AS dd,
        |  strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mon,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |  array_to_string(list_sort([o_orderkey % 5, 7, 2]), ',') AS arr,
        |  list_contains([o_orderkey % 5, 7], 2) AS has2,
        |  nullif(o_orderstatus, 'O') AS st,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st2
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,

    "q47_salted_agg" ->
      s"""SELECT event_type, count(*) AS n,
         |  CAST(sum(${C.format("value")}) AS BIGINT) AS sum_cents
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q90_range_frame" ->
      s"""SELECT user_id, event_id,
         |  CAST(sum(${C.format("value")}) OVER (
         |    PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
         |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS hour_sum
         |FROM events WHERE user_id < 10
         |ORDER BY user_id, event_id""".stripMargin,

    "q86_sketch_rollup" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct_exact,
        |  true AS sketch_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q83_scd2" ->
      s"""SELECT user_id, event_type, event_id, ${C.format("value")} AS value_cents,
         |  epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from,
         |  lead(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w AS valid_to,
         |  (lead(epoch_us(CAST(ts AS TIMESTAMP)), 1) OVER w) IS NULL AS is_current
         |FROM events WHERE user_id < 10
         |WINDOW w AS (PARTITION BY user_id, event_type
         |             ORDER BY CAST(ts AS TIMESTAMP), event_id)
         |ORDER BY user_id, event_type, valid_from, event_id""".stripMargin,

    "q84_unpivot" ->
      """SELECT user_id, event_type, n FROM (
        |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id, event_type)
        |WHERE n > 0 ORDER BY user_id, event_type""".stripMargin,

    "q81_grouping_sets" ->
      s"""SELECT event_type, user_bucket, count(*) AS n,
         |  CAST(sum(${C.format("value")}) AS BIGINT) AS sum_cents,
         |  CAST(GROUPING(event_type, user_bucket) AS BIGINT) AS gid
         |FROM (SELECT event_type, user_id % 10 AS user_bucket, value FROM events)
         |GROUP BY GROUPING SETS ((event_type, user_bucket), (event_type), ())
         |ORDER BY gid, event_type NULLS FIRST, user_bucket NULLS FIRST""".stripMargin,

    "q80_topk_agg" ->
      s"""SELECT event_type, rank, event_id, value_cents FROM (
         |  SELECT event_type, event_id, ${C.format("value")} AS value_cents,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY ${C.format("value")} DESC, event_id ASC) AS rank
         |  FROM events)
         |WHERE rank <= 5 ORDER BY event_type, rank""".stripMargin,

    "q79_salted_join" ->
      s"""SELECT o_orderpriority,
         |  CAST(sum(${C.format("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents,
         |  count(*) AS n
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q73_bloom_join" ->
      s"""SELECT s_suppkey, s_name,
         |  CAST(sum(${C.format("l_extendedprice * (1.0 - l_discount)")}) AS BIGINT) AS revenue_cents,
         |  count(*) AS n
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_7'
         |GROUP BY s_suppkey, s_name ORDER BY s_suppkey""".stripMargin,

    "q46_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)
}
