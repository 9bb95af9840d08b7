package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{CoreOps, EntityResolution, Intervals}
import graft.similarity.Similarity
import graft.text.TextOps

/** Behavioral / business-analytics operators over the event stream:
  * resampling (gap-fill), distribution drift, attribution, association
  * rules, leaderboard churn, forecasting baselines, changepoint scans,
  * path mining, rank matching, concentration metrics (Gini / top-share),
  * cohort LTV, and activity streaks. Split out of CurationQueries along
  * the family seam (VERDICT r7 item 6); every number integer-exact so
  * the DuckDB oracle replays bit-for-bit.
  */
object AnalyticsQueries {

  /** Poisson(1) bootstrap replicate weight as a pure (id, replicate)
    * function: u31 = 31-bit multiplicative-hash residue, w = the inverse
    * CDF at u31 with thresholds floor(cdf_k·(2^31−1)) precomputed as
    * exact integers — identical int64 arithmetic on both engines (shared
    * by q275 means and q291 medians).
    * BOUNDS: id·2654435761 < Long.MAX for ids < 3.46e9 (sf1 max
    * event_id ≈ 9.9e8 — 3.5× headroom; past that, take the id's 2^31
    * residue first, which preserves the hash's uniformity).
    */
  private def poissonWeight(id: Column, r: Column): Column = {
    val u = (id * lit(2654435761L) + r * lit(40503L)) % lit(2147483647L)
    when(u < 790015083L, 0L)
      .when(u < 1580030167L, 1L)
      .when(u < 1975037709L, 2L)
      .when(u < 2106706890L, 3L)
      .when(u < 2139624185L, 4L)
      .when(u < 2146207644L, 5L)
      .otherwise(6L)
  }

  /** The same inverse-CDF as [[poissonWeight]] in DuckDB syntax, over a
    * residue column named `u` (shared by the q275/q291 oracles).
    */
  private val poissonWeightSql: String =
    """CASE WHEN u < 790015083 THEN 0 WHEN u < 1580030167 THEN 1
      |     WHEN u < 1975037709 THEN 2 WHEN u < 2106706890 THEN 3
      |     WHEN u < 2139624185 THEN 4 WHEN u < 2146207644 THEN 5
      |     ELSE 6 END""".stripMargin

  /** Per-(key, day-offset) daily cents sums clipped to the first 30 days
    * — the shared fixture of the series-analytics family (q266/q267
    * search, q270/q271 trend). The clip is load-bearing twice over: it
    * bounds pair stages by the WINDOW (435 pairs per key, never
    * data-sized), and it caps day gaps at 29 so q271's LCM(1..29) slope
    * key stays an exact integer. localCheckpointed: every consumer
    * reads it at least twice (grid/pair sides).
    */
  private def clippedDaily(s: SparkSession, dir: String,
                           keyCol: String): DataFrame = {
    val e = Tables.load(s, dir, "events").select(col(keyCol),
      expr("unix_micros(ts) div 86400000000").as("day"),
      CoreOps.cents(col("value")).as("vc"))
    val d0 = e.agg(min(col("day"))).head().getLong(0)
    e.withColumn("rel", col("day") - d0)
      .filter(col("rel") < 30)
      .groupBy(col(keyCol), col("rel")).agg(sum(col("vc")).as("v"))
      .localCheckpoint()
  }

  /** Theil–Sen exact-median-slope kernel over a (key, rel, v) daily
    * frame — factored so OverflowBoundsSpec can drive it at 100× sf1
    * magnitudes. Slope ordering is the decimal key num·(LCM(1..29)/den):
    * den | 2329089562800 for every day gap < 30, so the key is an exact
    * monotone image of the rational slope; decimal(19,0)·decimal(13,0) →
    * decimal(33,0) holds any int64 num. Per-key partitions are window-
    * bounded (≤ 435 pair rows), so the rank window is scale-safe.
    */
  private[graft] def theilSenFromDaily(daily: DataFrame,
                                       keyCol: String): DataFrame = {
    val lcm = 2329089562800L // LCM(1..29): every gap in a 30-day window divides it
    val a = daily.select(col(keyCol), col("rel").as("di"), col("v").as("vi"))
    val b = daily.select(col(keyCol), col("rel").as("dj"), col("v").as("vj"))
    val sl = a.join(b, Seq(keyCol)).filter(col("di") < col("dj"))
      .withColumn("num", col("vj") - col("vi"))
      .withColumn("den", col("dj") - col("di"))
      // integer div (gap divides the LCM exactly); `/` would go double.
      // The product runs in decimal so data-sized daily deltas can't
      // overflow (the r11 sf1 ARITHMETIC_OVERFLOW).
      .withColumn("key", col("num").cast("decimal(19,0)") *
        expr(s"${lcm}L div den").cast("decimal(13,0)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("key"), col("di"), col("dj"))
    sl.withColumn("rnk", row_number().over(w))
      .withColumn("n_pairs",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol))))
      .filter(col("rnk") === expr("(n_pairs + 1) div 2"))
      .select(col(keyCol), col("n_pairs"),
        col("num").as("med_slope_num"), col("den").as("med_slope_den"))
      .orderBy(col(keyCol))
  }

  /** Exact Gini (basis points) of `x` concentration per key via the rank
    * identity G = (2·Σ rank·x − (n+1)·Σx) / (n·Σx) — factored so
    * OverflowBoundsSpec can drive it at 100× sf1 magnitudes.
    * BOUNDS (r12 overflow audit): the numerator ≤ n·Σx·1e4 is data-sized
    * on TWO axes (1.5e17 at sf1 → ~80× sf1 wraps int64), so it runs in
    * DECIMAL(38,0) from sum_rx outward (2·sum_rx alone wraps at ~390×
    * sf1); `div` (IntegralDivide) returns BIGINT and both operands are
    * nonnegative (rank identity ≥ 0), so truncation = floor on both
    * engines. The divisor n·Σx ≈ 1.5e13 at sf1 is int64-safe to ~780×
    * sf1 — documented, not cast (IntegralDivide widens it decimal-side).
    */
  private[graft] def giniByKey(u: DataFrame, keyCol: String,
                               idCol: String): DataFrame = {
    val ranked = CoreOps.rangeRank(u, Seq(keyCol),
      Seq(col("x"), col(idCol)))
    ranked.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sum_x"),
        sum(col("rank") * col("x")).as("sum_rx"))
      .select(col(keyCol), col("n_users"),
        expr("((2 * CAST(sum_rx AS DECIMAL(38,0)) - (n_users + 1) * sum_x)" +
          " * 10000) div (n_users * sum_x)").as("gini_bp"))
      .orderBy(col(keyCol))
  }

  import CoreOps.cents

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bradley-Terry preference-strength fit — the model behind every
    // RLHF pairwise-preference pipeline ("A beat B" comparisons → a
    // per-item strength scale). Duels are adjacent events (event_id,
    // event_id+1) of DIFFERENT types; the higher cents value wins, ties
    // to the lexicographically smaller type — one shifted equi-join, one
    // 20-cell agg at any scale. The MLE is 15 minorization-maximization
    // rounds (Hunter 2004, Ann. Statist. 32) run DRIVER-SIDE on the
    // collected K×(K−1) wins matrix — a bounded model artifact, the same
    // class as a centroid table — in EXACT fixed point: p'_i =
    // (W_i·10^12) ÷ Σ_j (n_ij·10^12 ÷ (p_i+p_j)), truncating division,
    // BigInt here / HUGEINT in the oracle (identical truncations, so the
    // hash compare pins all 15 rounds). Strengths normalize to ppm of
    // K·10^6. BOUNDS: n_ij·10^12 exceeds int64 past ~9e6 duels per pair —
    // hence BigInt/HUGEINT, exact at any count.
    "q297_bradley_terry" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type").as("t1"),
          cents(col("value")).as("v1"))
      val nxt = e.select((col("event_id") - 1).as("event_id"),
        col("t1").as("t2"), col("v1").as("v2"))
      val aWins = col("v1") > col("v2") ||
        (col("v1") === col("v2") && col("t1") < col("t2"))
      val wins = e.join(nxt, "event_id").filter(col("t1") =!= col("t2"))
        .select(when(aWins, col("t1")).otherwise(col("t2")).as("win"),
          when(aWins, col("t2")).otherwise(col("t1")).as("lose"))
        .groupBy(col("win"), col("lose")).agg(count(lit(1)).as("w"))
        .collect()
      val w = wins.map(r =>
        (r.getString(0), r.getString(1)) -> BigInt(r.getLong(2))).toMap
      val items = w.keysIterator
        .flatMap { case (a, b) => Iterator(a, b) }.toSeq.distinct.sorted
      val SC = BigInt("1000000000000")
      def wi(i: String) =
        items.filter(_ != i).map(j => w.getOrElse((i, j), BigInt(0))).sum
      def gi(i: String) = items.filter(_ != i).map(j =>
        w.getOrElse((i, j), BigInt(0)) + w.getOrElse((j, i), BigInt(0))).sum
      var p = items.map(_ -> BigInt(1000000)).toMap
      for (_ <- 0 until 15) {
        val d = items.map { i =>
          i -> items.filter(_ != i).map { j =>
            val nij = w.getOrElse((i, j), BigInt(0)) +
              w.getOrElse((j, i), BigInt(0))
            val den = p(i) + p(j)
            if (nij == 0 || den == 0) BigInt(0) else (nij * SC) / den
          }.sum
        }.toMap
        p = items.map { i =>
          i -> (if (d(i) > 0) (wi(i) * SC) / d(i) else p(i))
        }.toMap
      }
      val tot = p.values.sum
      val target = BigInt(1000000) * items.size
      items.map { i =>
        (i, wi(i).toLong, gi(i).toLong,
          (if (tot > 0) (p(i) * target) / tot else BigInt(0)).toLong)
      }.toDF("item", "n_wins", "n_games", "strength_ppm")
        .orderBy(col("item"))
    }),

    // Difference-in-differences — the quasi-experimental estimator for
    // rollouts WITHOUT randomization (staged launches, geo gates): arm =
    // user parity, period split at 2024-01-16, outcome = purchase cents.
    // DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    // cancels both the fixed arm gap and the common time trend. One
    // partial-agg scan to 8 cells; means in micro-cents via the shared
    // truncation div (sums DECIMAL-escaped per the r12 doctrine).
    "q298_diff_in_diff" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val e = Tables.load(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select((col("user_id") % 2).as("arm"),
          when(col("ts") >= lit("2024-01-16").cast("timestamp"), 1L)
            .otherwise(0L).as("post"),
          cents(col("value")).as("vc"))
      def cell(a: Int, pp: Int, agg: Column) =
        sum(when(col("arm") === a && col("post") === pp, agg).otherwise(0L))
      val cells = e.agg(
        cell(1, 0, lit(1L)).as("n_t_pre"), cell(1, 0, col("vc")).as("s_t_pre"),
        cell(1, 1, lit(1L)).as("n_t_post"), cell(1, 1, col("vc")).as("s_t_post"),
        cell(0, 0, lit(1L)).as("n_c_pre"), cell(0, 0, col("vc")).as("s_c_pre"),
        cell(0, 1, lit(1L)).as("n_c_post"), cell(0, 1, col("vc")).as("s_c_post"))
      // An EMPTY cell (no purchases in an arm×period quadrant) has no
      // mean: explicit NULL on both engines, propagating to did_u —
      // DuckDB would otherwise raise div-by-zero while Spark nulls
      // silently (ADVICE r13, same exposure as q296's kden).
      def m(s: String, n: String) = when(col(n) =!= 0,
        call_function("div", dec(col(s)) * 1000000L, col(n)))
      cells.select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"),
          col("n_c_post"),
          m("s_t_pre", "n_t_pre").as("m_t_pre_u"),
          m("s_t_post", "n_t_post").as("m_t_post_u"),
          m("s_c_pre", "n_c_pre").as("m_c_pre_u"),
          m("s_c_post", "n_c_post").as("m_c_post_u"))
        .withColumn("did_u",
          (col("m_t_post_u") - col("m_t_pre_u")) -
            (col("m_c_post_u") - col("m_c_pre_u")))
    }),

    // Preference-data QA for q297's duel table: per unordered type pair,
    // total comparisons, wins each way, consistency (majority direction
    // in bp) and flips (minority-direction count). High flip rates mark
    // pairs whose preference signal is noise — the label-quality gate a
    // preference dataset passes before reward-model training. Same duel
    // construction as q297; one extra 10-cell agg.
    "q299_preference_flips" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_id"), col("event_type").as("t1"),
          cents(col("value")).as("v1"))
      val nxt = e.select((col("event_id") - 1).as("event_id"),
        col("t1").as("t2"), col("v1").as("v2"))
      val aWins = col("v1") > col("v2") ||
        (col("v1") === col("v2") && col("t1") < col("t2"))
      e.join(nxt, "event_id").filter(col("t1") =!= col("t2"))
        .select(least(col("t1"), col("t2")).as("item_a"),
          greatest(col("t1"), col("t2")).as("item_b"),
          when(aWins === (col("t1") < col("t2")), 1L).otherwise(0L)
            .as("a_won"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_duels"),
          sum(col("a_won")).as("wins_a"),
          (count(lit(1)) - sum(col("a_won"))).as("wins_b"))
        .select(col("item_a"), col("item_b"), col("n_duels"),
          col("wins_a"), col("wins_b"),
          expr("10000 * greatest(wins_a, wins_b) div n_duels")
            .as("consistency_bp"),
          least(col("wins_a"), col("wins_b")).as("n_flips"))
        .orderBy(col("item_a"), col("item_b"))
    }),

    // Isotonic calibration (pool-adjacent-violators) — the monotone
    // recalibration every reward-model / CTR readout runs when raw
    // per-bucket rates wiggle: fitted_i = max_{j≤i} min_{k≥i} avg(j..k)
    // (the exact minimax characterization of PAV — Barlow et al. 1972 —
    // which replaces the sequential pooling loop with an O(B³) closed
    // form over B ≤ 31 BOUNDED buckets). Buckets: per-user click count
    // (capped) → conversion = q282's heavy-buyer rule. The distributed
    // work is two partial-agg scans (user rollup → bucket rollup); the
    // minimax runs driver-side on the collected bucket table — a model
    // artifact, like a centroid fit — in exact integer micros
    // ((10⁶·S) div W), the same truncation the oracle's SQL replays.
    "q305_isotonic_calibration" -> ((s, dir) => {
      import s.implicits._
      val per = Tables.load(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
        .select(least(col("clicks"), lit(30L)).as("b"),
          when(col("purchases") >= 14, 1L).otherwise(0L).as("y"))
      val buckets = per.groupBy(col("b"))
        .agg(count(lit(1)).as("w"), sum(col("y")).as("s"))
        .orderBy(col("b")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val n = buckets.length
      val cw = buckets.scanLeft(0L)(_ + _._2).tail
      val cs = buckets.scanLeft(0L)(_ + _._3).tail
      def avgU(j: Int, k: Int): Long = { // inclusive 0-based bucket idxs
        val ww = cw(k) - (if (j == 0) 0L else cw(j - 1))
        val ss = cs(k) - (if (j == 0) 0L else cs(j - 1))
        1000000L * ss / ww
      }
      val iso = (0 until n).map { i =>
        (0 to i).map(j => (i until n).map(k => avgU(j, k)).min).max
      }
      buckets.zipWithIndex.map { case ((b, w, s0), i) =>
        (b, w, s0, 1000000L * s0 / w, iso(i))
      }.toSeq.toDF("b", "n_users", "n_conv", "rate_u", "iso_rate_u")
        .orderBy(col("b"))
    }),

    // Time-grid gap-fill + forward-fill: daily per-user value snapshots
    // over the events span — slots with no event carry the user's last
    // observed value (the point-in-time reporting primitive). Grid bounds
    // are one 1-row aggregate; the fill is a single keyed window.
    "q192_gap_fill" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("slot"),
          unix_micros(col("ts")).as("tsm"), col("event_id"),
          cents(col("value")).as("v_c"))
      // gapFill references its input three times; the subplans share the
      // d exchange via AQE reuse. Measured both ways at sf0.1 AND sf1
      // (r9): pinning d with localCheckpoint costs +0.5 s at sf0.1 and
      // sf1 shows no reuse failure here (0.62 s) — unlike q213, whose
      // 3 consumers DID detach. So q192 keeps the declarative shape.
      val d = e.groupBy(col("user_id"), col("slot"))
        .agg(max(struct(col("tsm").as("t"), col("event_id").as("e"),
          col("v_c").as("v"))).getField("v").as("observed"))
      val b = e.agg(min(col("slot")), max(col("slot"))).head()
      Intervals.gapFill(d, "user_id", "slot", "observed",
          b.getLong(0), b.getLong(1))
        .groupBy(col("slot"))
        .agg(count(col("observed")).as("n_active"),
          sum(when(col("observed").isNull && col("filled").isNotNull, 1L)
            .otherwise(0L)).as("n_carried"),
          sum(col("filled")).as("sum_filled"))
        .orderBy(col("slot"))
    }),


    // Distribution drift between the first and second half of the event
    // timeline: 10 equi-width integer bins per event_type over the global
    // [min, max] cents range, per-bin proportions in basis points, and
    // the summed/max absolute deviation — the integer-exact total-
    // variation surrogate of the PSI monitoring metric (PSI's ln term
    // needs floats; TV distance gates bit-for-bit and bounds it).
    "q193_tv_drift" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v_c"),
          (expr("unix_micros(ts) div 86400000000") <
            expr("unix_micros(timestamp'2024-01-16 00:00:00') div 86400000000"))
            .as("first_half"))
      val mm = e.groupBy(col("event_type"))
        .agg(min(col("v_c")).as("lo"), max(col("v_c")).as("hi"))
      val b = e.join(broadcast(mm), "event_type")
        .withColumn("bin",
          least(lit(9L), expr("((v_c - lo) * 10) div (hi - lo + 1)")))
      val n = b.groupBy(col("event_type")).agg(
        sum(when(col("first_half"), 1L).otherwise(0L)).as("na"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("nb"))
      val c = b.groupBy(col("event_type"), col("bin")).agg(
        sum(when(col("first_half"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("cb"))
      c.join(broadcast(n), "event_type")
        .withColumn("dev", abs(expr("ca * 10000 div na - cb * 10000 div nb")))
        .groupBy(col("event_type"))
        .agg(min(col("na")).as("n_first"), min(col("nb")).as("n_second"),
          sum(col("dev")).as("sum_abs_bp"), max(col("dev")).as("max_abs_bp"))
        .orderBy(col("event_type"))
    }),


    // Token-distribution drift between two corpus halves (sources src0-9
    // vs src10-19) as a chi-square-style statistic on ppm SHARES — the
    // vocabulary-level dual of q193's value-histogram TV distance, and
    // the "did the crawl mix shift" alarm a training-corpus refresh runs
    // before retraining a tokenizer. Computing on per-group shares
    // (≤ 1e6 by construction) instead of raw counts is what keeps every
    // product inside a long AT ANY CORPUS SIZE: (pa−pb)² ≤ 1e12 and the
    // per-token floor-div term ≤ 1e6, so the statistic never needs
    // decimals no matter how many rows the 100 TB corpus has. Output:
    // the 5 most-drifted tokens (term desc, token asc) with the global
    // statistic and vocab size alongside.
    "q259_chi2_drift" -> ((s, dir) => {
      val toks = Tables.load(s, dir, "documents")
        .select(when(length(col("source")) === 4, lit("a")).otherwise(lit("b"))
          .as("grp"), explode(split(col("text"), " ")).as("token"))
        .filter(length(col("token")) > 0)
      val c = toks.groupBy(col("token")).agg(
        sum(when(col("grp") === "a", 1L).otherwise(0L)).as("c_a"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("c_b"))
      val n = c.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
      val terms = c.crossJoin(broadcast(n))
        .withColumn("p_a", expr("(1000000 * c_a) div n_a"))
        .withColumn("p_b", expr("(1000000 * c_b) div n_b"))
        .withColumn("term", when(col("p_a") + col("p_b") === 0, 0L)
          .otherwise(expr("((p_a - p_b) * (p_a - p_b)) div (p_a + p_b)")))
        .localCheckpoint()
      val tot = terms.agg(sum(col("term")).as("chi2_ppm"),
        count(lit(1)).as("n_tokens"))
      terms.orderBy(col("term").desc, col("token")).limit(5)
        .crossJoin(broadcast(tot))
        .select(col("token"), col("c_a"), col("c_b"), col("p_a"), col("p_b"),
          col("term").as("term_ppm"), col("chi2_ppm"), col("n_tokens"))
        .orderBy(col("term_ppm").desc, col("token"))
    }),


    // Exact two-sample Kolmogorov-Smirnov statistic (first-half vs
    // second-half value distributions) — the distribution-shift test
    // that sees shape changes q193's 10-bin TV distance smooths over.
    // Shape: ONE groupBy(value) collapses the data to per-distinct-value
    // masses, then CoreOps.rangePrefixSums turns those into both CDFs in
    // a single range-partitioned pass — the naive `sum() OVER (ORDER BY
    // v)` with no PARTITION BY is a one-task sort at any scale and is
    // exactly what this operator exists to avoid. CDFs compared in floor
    // micros (shares, so products stay bounded at any corpus size);
    // argmax location tie-broken to the largest value (struct-max ==
    // ORDER BY dev DESC, v DESC).
    "q261_ks_test" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        cents(col("value")).as("v"),
        (expr("unix_micros(ts) div 86400000000") <
          expr("unix_micros(timestamp'2024-01-16 00:00:00') div 86400000000"))
          .as("first_half"))
      val g = e.groupBy(col("v")).agg(
        sum(when(col("first_half"), 1L).otherwise(0L)).as("na_v"),
        sum(when(!col("first_half"), 1L).otherwise(0L)).as("nb_v"))
      val c = CoreOps.rangePrefixSums(g, Seq.empty, Seq(col("v")),
        Seq("na_v", "nb_v"))
      val n = g.agg(sum(col("na_v")).as("n_a"), sum(col("nb_v")).as("n_b"))
      c.crossJoin(broadcast(n))
        .withColumn("dev", abs(
          expr("(1000000 * na_v_cum) div n_a - (1000000 * nb_v_cum) div n_b")))
        .agg(max(struct(col("dev"), col("v"))).as("m"),
          min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"),
          count(lit(1)).as("n_values"))
        .select(col("n_a"), col("n_b"), col("n_values"),
          col("m.dev").as("ks_micros"), col("m.v").as("ks_at_value_cents"))
    }),


    // Benford first-digit audit of the value column — the fabricated-data
    // / unit-mix-error screen. Expected shares are log10(1+1/d) as FIXED
    // micro literals (engine math never touches a log), observed shares
    // floor micros of exact counts; one groupBy(digit) + a 1-row total.
    "q262_benford_audit" -> ((s, dir) => {
      val bexp = Seq(301030L, 176091L, 124938L, 96910L, 79181L, 66946L,
        57991L, 51152L, 45757L)
      val e = Tables.load(s, dir, "events")
        .select(cents(col("value")).as("c")).filter(col("c") > 0)
        .withColumn("d",
          expr("CAST(substring(CAST(c AS STRING), 1, 1) AS BIGINT)"))
      val n = e.agg(count(lit(1)).as("n_total"))
      e.groupBy(col("d")).agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(n))
        .withColumn("observed_micros", expr("(1000000 * n) div n_total"))
        .withColumn("expected_micros",
          element_at(array(bexp.map(lit): _*), col("d").cast("int")))
        .withColumn("dev_micros",
          abs(col("observed_micros") - col("expected_micros")))
        .select(col("d"), col("n"), col("observed_micros"),
          col("expected_micros"), col("dev_micros"))
        .orderBy(col("d"))
    }),


    // EXACT p50/p90/p99 per segment at scale — the ground-truth
    // complement to q245's approx_percentile rank gate and the answer to
    // "exact quantiles without collecting a group's values": Spark's
    // exact percentile() buffers every value per group in one aggregation
    // buffer (OOM-shaped at 100 TB); this is one groupBy(key, value) +
    // CoreOps.rangePrefixSums + a rational threshold scan. Discrete
    // quantile = smallest v with cum ≥ ⌈q·N⌉, tested as cum·den ≥ num·N
    // so no float or ceil ever runs.
    "q265_dist_quantiles" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v"))
      val g = e.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("n"))
      val c = CoreOps.rangePrefixSums(g, Seq("event_type"), Seq(col("v")),
        Seq("n"))
      val tot = g.groupBy(col("event_type")).agg(sum(col("n")).as("n_total"))
      // BOUNDS (r12 overflow audit): cum·den and n_total·num are row
      // COUNTS × a ≤100 literal — int64-safe to 9.2e16 rows (≈ 9e10×
      // sf1); counts grow linearly with data, never quadratically.
      def qv(num: Int, den: Int, name: String) =
        min(when(col("n_cum") * den >= col("n_total") * num, col("v")))
          .as(name)
      c.join(broadcast(tot), "event_type")
        .groupBy(col("event_type"))
        .agg(min(col("n_total")).as("n_total"),
          qv(1, 2, "p50_cents"), qv(9, 10, "p90_cents"),
          qv(99, 100, "p99_cents"))
        .orderBy(col("event_type"))
    }),


    // Time-series similarity search, exact baseline (the distributed
    // series-top-k of the retrieved EDBT'19/ICDE'21 line): each user's
    // 30-day value series vs a broadcast query series, squared Euclidean
    // in exact cents², top-5 by TakeOrdered. Shape: the day grid is a
    // scan-local sequence explode (never a join against a day table),
    // distances are one keyed rollup — the corpus series never
    // co-shuffle against each other.
    "q266_series_topk" -> ((s, dir) => {
      val daily = clippedDaily(s, dir, "user_id")
      val grid = daily.select(col("user_id")).distinct()
        .withColumn("rel", explode(expr("sequence(0L, 29L)")))
      val qser = daily.filter(col("user_id") === 7)
        .select(col("rel"), col("v").as("vq"))
      val diff = coalesce(col("v"), lit(0L)) - coalesce(col("vq"), lit(0L))
      grid.join(daily, Seq("user_id", "rel"), "left")
        .join(broadcast(qser), Seq("rel"), "left")
        .withColumn("d2", diff * diff)
        .groupBy(col("user_id")).agg(sum(col("d2")).as("dist2"))
        .filter(col("user_id") =!= 7)
        .orderBy(col("dist2"), col("user_id")).limit(5)
    }),


    // q266's scale path: PAA segment-sum lower bound (the LB_Keogh-family
    // prune of the retrieved time-series-search line) — per user, 15
    // two-day segment sums; by Cauchy-Schwarz Σ_s(Σ_i∈s d_i)² ≤ 2·Σ d_i²,
    // so lb2 > 2·R provably cannot hide a true match at radius R and the
    // exact 30-point distance runs ONLY for survivors. (Segment width is
    // the tightness knob: 5-day segments carry 5× slack and pruned
    // NOTHING on this fixture — measured — while 2-day prunes ~4-11%;
    // low selectivity here is fixture physics, every synthetic user
    // genuinely sits near the radius.) The brute/pruned duality the ANN
    // family (q35/q43) establishes, on series. Output: matched users
    // with exact distances plus the scanned/candidate funnel counts.
    "q267_series_paa_prune" -> ((s, dir) => {
      val R = 5000000000L
      val daily = clippedDaily(s, dir, "user_id")
      val qser = daily.filter(col("user_id") === 7)
        .select(col("rel"), col("v").as("vq"))
      val aSeg = daily.groupBy(col("user_id"),
          expr("rel div 2").as("seg")).agg(sum(col("v")).as("sa"))
      val qSeg = qser.groupBy(expr("rel div 2").as("seg"))
        .agg(sum(col("vq")).as("sq"))
      val segGrid = daily.select(col("user_id")).distinct()
        .withColumn("seg", explode(expr("sequence(0L, 14L)")))
      val segDiff = coalesce(col("sa"), lit(0L)) - coalesce(col("sq"), lit(0L))
      val lb = segGrid.join(aSeg, Seq("user_id", "seg"), "left")
        .join(broadcast(qSeg), Seq("seg"), "left")
        .withColumn("sd", segDiff)
        .groupBy(col("user_id")).agg(sum(col("sd") * col("sd")).as("lb2"))
        .filter(col("user_id") =!= 7)
        .localCheckpoint()
      val cand = lb.filter(col("lb2") <= lit(2L * R))
      val grid = cand.select(col("user_id"))
        .withColumn("rel", explode(expr("sequence(0L, 29L)")))
      val diff = coalesce(col("v"), lit(0L)) - coalesce(col("vq"), lit(0L))
      val matched = grid.join(daily, Seq("user_id", "rel"), "left")
        .join(broadcast(qser), Seq("rel"), "left")
        .withColumn("d2", diff * diff)
        .groupBy(col("user_id")).agg(sum(col("d2")).as("dist2"))
        .filter(col("dist2") <= R)
      val stats = lb.agg(count(lit(1)).as("n_scanned"),
        sum(when(col("lb2") <= lit(2L * R), 1L).otherwise(0L))
          .as("n_candidates"))
      matched.crossJoin(broadcast(stats))
        .select(col("user_id"), col("dist2"), col("n_scanned"),
          col("n_candidates"))
        .orderBy(col("user_id"))
    }),


    // RFM segmentation — recency/frequency/monetary terciles per user,
    // 27 segments with populations and exact value mass. Each axis is a
    // distributedNtile (range-partitioned, never a one-task global
    // window); the three binnings join back on the user key. The
    // classic lifecycle-marketing rollup, here as the "which users feed
    // which corpus slice" audit shape.
    "q268_rfm_segments" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        cents(col("value")).as("vc"))
      val maxDay = e.agg(max(col("day"))).head().getLong(0)
      val per = e.groupBy(col("user_id")).agg(
          (lit(maxDay) - max(col("day"))).as("recency"),
          count(lit(1)).as("frequency"), sum(col("vc")).as("monetary"))
        .withColumn("g", lit(0)).localCheckpoint()
      val r = CoreOps.distributedNtile(per, Seq("g"),
        Seq(col("recency"), col("user_id")), 3, "r_bin")
      val f = CoreOps.distributedNtile(per, Seq("g"),
          Seq(col("frequency"), col("user_id")), 3, "f_bin")
        .select(col("user_id"), col("f_bin"))
      val m = CoreOps.distributedNtile(per, Seq("g"),
          Seq(col("monetary"), col("user_id")), 3, "m_bin")
        .select(col("user_id"), col("m_bin"))
      r.join(f, "user_id").join(m, "user_id")
        .withColumn("segment",
          (col("r_bin") * 100 + col("f_bin") * 10 + col("m_bin")).cast("long"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("monetary")).as("sum_monetary_cents"))
        .orderBy(col("segment"))
    }),


    // Mann–Kendall trend test per event_type over the 30-day daily
    // series — the nonparametric "is this metric drifting" monitor
    // (integer-exact: S = Σ sign pairs, tie-adjusted Var·18, and the 95%
    // significance test cross-multiplied as 180000·S² > 38416·var18 so
    // no sqrt or float ever runs). The pair stage is quadratic IN THE
    // SERIES LENGTH (30 days → 435 pairs per key), not in the data — a
    // keyed self-join whose output is bounded per key by the window,
    // the same boundedness argument as q266's day grid.
    "q270_mann_kendall" -> ((s, dir) => {
      val daily = clippedDaily(s, dir, "event_type")
      val a = daily.select(col("event_type"), col("rel").as("di"),
        col("v").as("vi"))
      val b = daily.select(col("event_type"), col("rel").as("dj"),
        col("v").as("vj"))
      val pairs = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
        .withColumn("sgn", signum(col("vj") - col("vi")).cast("long"))
      val sStat = pairs.groupBy(col("event_type"))
        .agg(sum(col("sgn")).as("s_stat"), count(lit(1)).as("n_pairs"))
      // tie adjustment: daily cents sums are effectively distinct, but
      // the formula stays exact either way — per tied-value group of
      // size t, subtract t(t-1)(2t+5)
      val ties = daily.groupBy(col("event_type"), col("v"))
        .agg(count(lit(1)).as("t"))
        .groupBy(col("event_type"))
        .agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie_adj"),
          count(lit(1)).as("n_values"), sum(col("t")).as("n_days"))
      sStat.join(ties, "event_type")
        .withColumn("var18",
          expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_adj"))
        // BOUNDS (r12 overflow audit): WINDOW-bounded, not data-sized —
        // |S| ≤ n_pairs ≤ 435 (30-day clip) so 180000·S² ≤ 3.5e10, and
        // var18 ≤ 30·29·65 = 56550 so 38416·var18 ≤ 2.2e9. Int64-safe at
        // any data scale; grows only if the clip window grows (×1e4
        // headroom on the window itself).
        .select(col("event_type"), col("n_days"), col("s_stat"),
          col("var18"),
          (lit(180000L) * col("s_stat") * col("s_stat") >
            lit(38416L) * col("var18")).as("significant"))
        .orderBy(col("event_type"))
    }),


    // Theil–Sen trend slope per event_type, EXACT: the median of the 435
    // pairwise slopes (v_j − v_i)/(d_j − d_i), ordered without a single
    // float by the integer key num · (LCM(1..29) / den) — den divides
    // 2329089562800 for every day gap in a 30-day window, so the key is
    // an exact monotone image of the rational slope. Median row =
    // rank ⌈N/2⌉ by (key, di, dj); pair count bounded by the window as
    // in q270.
    // BOUNDS (r12, the q271 sf1 overflow fix): the key is computed in
    // DECIMAL — num is a daily-cents delta that GROWS WITH DATA (sf1
    // already exceeds the ~3.9e6-cent int64 budget at gap 1), so int64
    // was a scale bug, not a headroom note. decimal(19,0) × decimal(13,0)
    // → decimal(33,0): exact for ANY int64 num (|key| ≤ 9.2e18 · 2.33e12
    // ≈ 2.1e31 < 1e33). The key stays INTERNAL to the ordering — the
    // output ships the exact rational (num, den) — so no decimal ever
    // reaches the cross-engine hash. Proven at 100× sf1 magnitudes by
    // OverflowBoundsSpec.
    "q271_theil_sen" -> ((s, dir) =>
      theilSenFromDaily(clippedDaily(s, dir, "event_type"), "event_type")),


    // Last-touch attribution: each purchase credited to the user's latest
    // click/view within 7 days — the backward as-of join (one keyed
    // shuffle, linear per key) instead of the quadratic-per-hot-user
    // window join; same-timestamp touches pre-collapsed by max event_id
    // so the match is total-order deterministic.
    "q194_attribution" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), cents(col("value")).as("v_c"))
      val t = ev.filter(col("event_type").isin("click", "view"))
        .groupBy(col("user_id"), unix_micros(col("ts")).as("ts_us"))
        .agg(max(struct(col("event_id").as("i"), col("event_type").as("t")))
          .getField("t").as("touch"))
      graft.ops.AsofJoin.asofJoin(p, t, Seq("user_id"), "ts_us", "ts_us",
          toleranceMicros = Some(604800000000L))
        .groupBy(coalesce(col("touch"), lit("none")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"), sum(col("v_c")).as("sum_cents"))
        .orderBy(col("channel"))
    }),


    // Market-basket association rules (A-priori shape): baskets = each
    // user's distinct item set (props.k), pairs generated per user AFTER
    // the frequent-item prune (left_semi against the broadcast frequent
    // list — the A-priori monotonicity cut), top-20 pairs by support with
    // both direction confidences in basis points. The prune bounds
    // fan-out only by the FREQUENT basket size — one power user holding
    // all |F| frequent items still lands |F|² pairs on one reducer — so
    // the pair stage rides the skew-tiled bucket self-join (user =
    // bucket key, cap rows per side per join group). Tiling preserves
    // the pair multiset exactly (normalize + per-user distinct), so the
    // oracle is the plain self-join.
    "q202_assoc_rules" -> ((s, dir) => {
      // The JSON-path parse over the full event log is the CPU and the
      // basket table has THREE consumers (item support, both self-join
      // sides) — widen the parse past the local scan's ~3 splits and pin
      // the (user, item) distinct result (tens of KB) so it computes
      // exactly once.
      val baskets = Tables.load(s, dir, "events")
        .select(col("user_id"), col("props"))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull).distinct()
        .localCheckpoint()
      val itemSup = baskets.groupBy(col("item")).agg(count(lit(1)).as("sup"))
      val frequent = itemSup.filter(col("sup") >= 10)
      val fb = baskets.join(broadcast(frequent.select(col("item"))), Seq("item"), "left_semi")
      // The tiled self-join emits each in-basket pair once, a.item <
      // b.item, with no distinct exchange. Items are distinct per user, so
      // each (user, i, j) contributes exactly 1 to support.
      val pairs = graft.dedup.PairJoin.selfPairs(
          fb.select(col("user_id"), col("item")), Seq("user_id"), "item", cap = 256)
        .select(col("a.item").as("i"), col("b.item").as("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("support"))
      pairs
        .join(broadcast(frequent.select(col("item").as("i"), col("sup").as("sup_i"))), "i")
        .join(broadcast(frequent.select(col("item").as("j"), col("sup").as("sup_j"))), "j")
        // BOUNDS (r12 overflow audit): support ≤ distinct users (a row
        // COUNT, linear in data) so ·1e4 is int64-safe to 9.2e14 users —
        // never quadratic, because support counts co-occurrences per
        // DISTINCT user, not pair instances.
        .select(col("i"), col("j"), col("support"),
          expr("support * 10000 div sup_i").as("conf_ij_bp"),
          expr("support * 10000 div sup_j").as("conf_ji_bp"))
        .orderBy(col("support").desc, col("i"), col("j"))
        .limit(20)
    }),


    // Quantile SKETCH under the hard gate (q30's HLL pattern, for
    // percentiles): approx_percentile's contract is a data value whose
    // RANK is within n/accuracy of the target — engine-specific output,
    // so the gate pins the CONTRACT: re-rank the sketch's answer against
    // the exact data in-query and emit the boolean; the oracle confirms
    // group sizes and demands TRUE. The exact-percentile twin (q42) pins
    // values; this row pins the sketch path a 100 TB monitoring rollup
    // actually ships (mergeable, bounded memory).
    "q245_approx_quantile_gate" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("event_type"), cents(col("value")).as("v_c"))
      val ap = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("approx_percentile(v_c, 0.5, 1000)").as("ap50"),
          expr("approx_percentile(v_c, 0.95, 1000)").as("ap95"))
      e.join(broadcast(ap), "event_type")
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          sum(when(col("v_c") < col("ap50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("v_c") <= col("ap50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("v_c") < col("ap95"), 1L).otherwise(0L)).as("lt95"),
          sum(when(col("v_c") <= col("ap95"), 1L).otherwise(0L)).as("le95"))
        .select(col("event_type"), col("n"),
          (col("lt50") <= expr("n div 2 + n div 1000 + 1") &&
            col("le50") >= expr("n div 2 - n div 1000 - 1")).as("ok50"),
          (col("lt95") <= expr("(19 * n) div 20 + n div 1000 + 1") &&
            col("le95") >= expr("(19 * n) div 20 - n div 1000 - 1")).as("ok95"))
        .orderBy(col("event_type"))
    }),

    // Ordered-step conversion funnel: view -> first click AFTER the
    // view -> first purchase AFTER that click, all inside 24h of the
    // anchor view — the product-analytics primitive (sequence matching
    // with a time budget, strictly-ordered steps; q215's path mining
    // counts shapes, this one converts). Three keyed min-aggs + keyed
    // joins — each stage is partial-aggregable, no window over raw
    // events, no per-user sort.
    "q246_funnel_conversion" -> ((s, dir) => {
      val day = 86400000000L
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("us")).as("t1"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id")
        .filter(col("us") > col("t1") && col("us") <= col("t1") + day)
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("t2"), min(col("t1")).as("t1"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id")
        .filter(col("us") > col("t2") && col("us") <= col("t1") + day)
        .groupBy(col("user_id"))
        .agg(min(col("us")).as("t3"), min(col("t1")).as("t1v"))
      v.join(c.select(col("user_id"), col("t2")), Seq("user_id"), "left")
        .join(p.select(col("user_id"), col("t3"), col("t1v")),
          Seq("user_id"), "left")
        .groupBy((col("user_id") % 4).as("segment"))
        .agg(count(lit(1)).as("n_viewed"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_clicked"),
          sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n_purchased"),
          sum(when(col("t3").isNotNull,
            expr("(t3 - t1v) div 1000000")).otherwise(0L))
            .as("sum_convert_secs"))
        .orderBy(col("segment"))
    }),

    // Weekly retention matrix: users active in week k after their FIRST
    // activity, k = 0..3, with retention in basis points of the week-0
    // cohort — the cohort-health readout every growth dashboard leads
    // with. One min-agg for the anchor, one distinct per (user, k), one
    // rollup; the week-0 denominator is a broadcast scalar row.
    "q247_retention_matrix" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
      val first = e.groupBy(col("user_id")).agg(min(col("day")).as("d0"))
      val weekly = e.join(first, "user_id")
        .withColumn("k", expr("(day - d0) div 7"))
        .filter(col("k") >= 0 && col("k") <= 3)
        .select(col("user_id"), col("k")).distinct()
      val counts = weekly.groupBy(col("k")).agg(count(lit(1)).as("n_users"))
      val base = counts.filter(col("k") === 0)
        .select(col("n_users").as("n0"))
      counts.crossJoin(broadcast(base))
        .select(col("k"), col("n_users"),
          expr("n_users * 10000 div n0").as("retention_bp"))
        .orderBy(col("k"))
    }),

    // Daily leaderboard churn: top-10 items per day (by event count,
    // ties to the smaller item), overlap between consecutive days — the
    // rank-stability diagnostic behind trending/alerting dashboards.
    // Daily tops are windowed per day (items bounded by the vocabulary);
    // churn is one self-join keyed on item.
    "q211_topk_churn" -> ((s, dir) => {
      val daily = Tables.load(s, dir, "events")
        .select(col("ts"), col("props"))
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(expr("unix_micros(ts) div 86400000000").as("day"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
        .filter(col("item").isNotNull)
        .groupBy(col("day"), col("item")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))
            .orderBy(col("n").desc, col("item"))))
        .filter(col("rn") <= 10)
        .select(col("day"), col("item"))
        // both churn self-join sides read this ~300-row table; without
        // the pin each side re-scans and re-parses the full event log
        .localCheckpoint()
      daily.select((col("day") - 1).as("day"), col("item"))
        .join(daily, Seq("day", "item"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_common"))
        .select((col("day") + 1).as("day"), col("n_common"))
        .orderBy(col("day"))
    }),


    // Seasonal-naive forecast baseline + backtest MAE: predict each
    // day's total as the value 7 days earlier and score the last two
    // weeks — the sanity baseline every forecasting pipeline must beat,
    // and the shape (self-join on day−7, integer absolute errors) any
    // real backtest shares. One daily rollup + one keyed self-join.
    "q213_seasonal_naive" -> ((s, dir) => {
      // daily is tiny (event_type x day); localCheckpoint pins it so the
      // d0 scalar and BOTH self-join sides read the materialized rows —
      // events is scanned exactly once, never per-subplan (the r8 sf1
      // regression was this query rescanning events 3x when AQE exchange
      // reuse didn't fire).
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(cents(col("value"))).as("v"))
        .localCheckpoint()
      val d0 = daily.agg(min(col("day"))).head().getLong(0)
      daily.select(col("event_type"), col("day"), col("v"))
        .join(daily.select(col("event_type"), (col("day") + 7).as("day"),
          col("v").as("pred")), Seq("event_type", "day"))
        .filter(col("day") >= d0 + 16)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
          sum(abs(col("v") - col("pred"))).as("sum_abs_err"),
          expr("sum(abs(v - pred)) div count(1)").as("mae_cents"))
        .orderBy(col("event_type"))
    }),


    // CUSUM changepoint scan: cumulative deviation of daily totals from
    // the FIRST-HALF mean (the in-control baseline), flagging where
    // |cusum| peaks — the classic drift-onset locator. Baseline is one
    // broadcast row; the cusum is a single per-type running window over
    // ~30 day rows.
    "q214_cusum" -> ((s, dir) => {
      // Same single-scan treatment as q213: daily is event_type x day
      // rows, so checkpointing it costs nothing and the d0 scalar, the
      // baseline agg, and the window input all read materialized rows.
      val daily = Tables.load(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .agg(sum(cents(col("value"))).as("v"))
        .localCheckpoint()
      val d0 = daily.agg(min(col("day"))).head().getLong(0)
      val base = daily.filter(col("day") < d0 + 15)
        .groupBy(col("event_type"))
        .agg(expr("sum(v) div count(1)").as("mu"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      daily.join(broadcast(base), "event_type")
        .withColumn("cusum", sum(col("v") - col("mu")).over(w))
        .groupBy(col("event_type"))
        .agg(max(abs(col("cusum"))).as("max_abs_cusum"),
          // scalar argmax key (|cusum|, earlier-day tiebreak): day span
          // ≤ 1e5 so the composite never collides; struct keys are out —
          // DuckDB's arg_max has no struct overload.
          max_by(col("day"),
            abs(col("cusum")) * 100000L - (col("day") - lit(d0))).as("peak_day"))
        .orderBy(col("event_type"))
    }),


    // Session path mining at trigram grain: the top-10 3-step event-type
    // paths users actually walk (per-user time order, two lag windows) —
    // q171's transition matrix extended to path shape. Per-user windows
    // are bounded sorts, parallel across users.
    "q215_path_trigrams" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.load(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .filter(col("t3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("t2").as("s2"), col("t3").as("s3"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"), col("s3"))
        .limit(10)
    }),


    // FIFO rank matching: each user's k-th purchase settles against the
    // k-th click (the inventory/cost-basis allocation shape) — two
    // per-user rank windows + one (user, rank) equi-join, never a
    // quadratic interval pairing; unmatched tails counted per side.
    "q216_fifo_match" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      def ranked(t: String, tsName: String) = ev
        .filter(col("event_type") === t)
        .select(col("user_id"), unix_micros(col("ts")).as(tsName), col("event_id"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col(tsName), col("event_id"))))
        .drop("event_id")
      val c = ranked("click", "c_ts")
      val p = ranked("purchase", "p_ts")
      val m = p.join(c, Seq("user_id", "rk"))
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_matched"),
          sum(abs(col("p_ts") - col("c_ts"))).as("sum_abs_lag_us"))
      val nP = p.groupBy(col("user_id")).agg(count(lit(1)).as("n_p"))
      val nC = c.groupBy(col("user_id")).agg(count(lit(1)).as("n_c"))
      // Full-outer across the per-side counts: users with only clicks or
      // only purchases still contribute their whole side as unmatched.
      nP.join(nC, Seq("user_id"), "full_outer")
        .join(m, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("n_matched"), lit(0L))).as("n_matched"),
          sum(coalesce(col("n_p"), lit(0L)) -
            coalesce(col("n_matched"), lit(0L))).as("n_unmatched_purchases"),
          sum(coalesce(col("n_c"), lit(0L)) -
            coalesce(col("n_matched"), lit(0L))).as("n_unmatched_clicks"),
          expr("sum(sum_abs_lag_us) div sum(n_matched)").as("mean_abs_lag_us"))
    }),


    // Gini coefficient of per-user value concentration, exact in basis
    // points from the rank identity G = (2·Σ rank·x − (n+1)·Σx) /
    // (n·Σx): ranks are rangeRank order statistics, both Σ terms
    // partial-aggregable — the inequality metric behind "is our corpus /
    // revenue dominated by a few contributors" governance checks.
    "q217_value_gini" -> ((s, dir) =>
      giniByKey(Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(cents(col("value"))).as("x")), "event_type", "user_id")),


    // Winner-take-all share: the top-1%-of-users' fraction of total value
    // in basis points (ceil(n/100) heaviest users by rangeRank order
    // statistics) — the concentration complement of q217's Gini.
    "q218_top_share" -> ((s, dir) => {
      val u = Tables.load(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(cents(col("value"))).as("x"))
      val n = u.groupBy(col("event_type")).agg(count(lit(1)).as("n"),
        sum(col("x")).as("tot"))
      CoreOps.rangeRank(u, Seq("event_type"), Seq(col("x"), col("user_id")))
        .join(broadcast(n), "event_type")
        .filter(col("rank") > col("n") - expr("(n + 99) div 100"))
        .groupBy(col("event_type"))
        // BOUNDS (r12 overflow audit): Σx ≤ tot ≈ 1e9 cents/type at sf1,
        // so ·1e4 wraps int64 only past tot ≈ 9.2e14 cents ($9.2T/type,
        // ~9e5× sf1) — documented headroom, no decimal needed.
        .agg(min(col("n")).as("n_users"),
          count(lit(1)).as("n_top"),
          expr("(sum(x) * 10000) div min(tot)").as("top_share_bp"))
        .orderBy(col("event_type"))
    }),


    // Cohort LTV curve: cumulative value per signup cohort across day
    // offsets — q168's retention matrix extended to value (the curve
    // growth teams actually plot). Two partial-aggregable aggs + one
    // user-keyed join + a per-cohort running window over ≤30 offsets.
    "q220_cohort_ltv" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          cents(col("value")).as("v"))
      val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val cell = e.join(first, "user_id")
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("off"))
        .agg(sum(col("v")).as("v"))
      cell.withColumn("cum_value_cents",
          sum(col("v")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("cohort_day")).orderBy(col("off"))
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("cohort_day"), col("off"), col("v").as("value_cents"),
          col("cum_value_cents"))
        .orderBy(col("cohort_day"), col("off"))
    }),


    // Longest consecutive-day activity streak per user, rolled up as a
    // streak-length histogram — gaps-and-islands on the INTEGER day
    // axis via the day − row_number constancy trick (consecutive days
    // share the diff), one distinct + one per-user window; the
    // engagement metric behind every "7-day streak" product feature.
    "q221_activity_streaks" -> ((s, dir) => {
      val days = Tables.load(s, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(ts) div 86400000000").as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      val streaks = days
        .withColumn("isl", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("isl"))
        .agg(count(lit(1)).as("len"))
      val best = streaks.groupBy(col("user_id")).agg(max(col("len")).as("best"))
      best.groupBy(col("best").as("streak_len"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("streak_len"))
    }),


    // Poisson-bootstrap confidence intervals for the per-type mean event
    // value (Chamandy et al., "Estimating Uncertainty for Massive Data
    // Streams", Google 2012): replicate r resamples each row with weight
    // w ~ Poisson(1) — the resample-free bootstrap that survives 100 TB,
    // because every row's R=32 replicate weights are a pure function of
    // (event_id, r) and the whole statistic is one partial-aggregable
    // groupBy. The explode(×32) multiplies MAP-SIDE rows only: hash
    // partial aggregation collapses each task to |event_type|×32 cells
    // before the exchange, so shuffle volume is independent of data
    // size. Determinism: w = InvCDF_Pois(1)(u31) with u31 a 31-bit
    // multiplicative-hash residue — identical int64 arithmetic on both
    // engines, thresholds precomputed as exact integers
    // floor(cdf_k · (2^31−1)). Interval = order statistics 2/16/31 of
    // the 32 sorted replicate means (a bounded per-key array, never a
    // global sort). BOUNDS live on [[poissonWeight]].
    "q275_poisson_bootstrap" -> ((s, dir) => {
      val R = 32
      val e = Tables.load(s, dir, "events").select(col("event_type"),
        col("event_id"), cents(col("value")).as("vc"))
      val rep = e.withColumn("r", explode(expr(s"sequence(0, ${R - 1})")))
        .withColumn("w", poissonWeight(col("event_id"), col("r")))
      // one scan: every replicate cell sees every row, so the plain
      // sum/count (the point estimate) rides the same partial agg and
      // is read off the r = 0 cell
      val perRep = rep.groupBy(col("event_type"), col("r"))
        .agg(sum(col("w") * col("vc")).as("sw"), sum(col("w")).as("nw"),
          sum(col("vc")).as("sv"), count(lit(1)).as("cnt"))
        .withColumn("m", col("sw").cast("double") / col("nw").cast("double"))
        .localCheckpoint() // tiny (|type|×32), consumed twice
      val ci = perRep.groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("m"))).as("ms"))
        .select(col("event_type"),
          element_at(col("ms"), 2).as("boot_lo"),
          element_at(col("ms"), R / 2).as("boot_med"),
          element_at(col("ms"), R - 1).as("boot_hi"))
      val pt = perRep.filter(col("r") === 0)
        .select(col("event_type"),
          (col("sv").cast("double") / col("cnt").cast("double"))
            .as("mean_cents"))
      pt.join(ci, "event_type").orderBy(col("event_type"))
    }),


    // CUPED variance reduction (Deng et al., WSDM 2013): the A/B-test
    // adjustment that removes pre-period variance from the post-period
    // metric. Pre = first 15 days, post = the rest; arms = user_id
    // parity (the synthetic assignment). θ = cov(X,Y)/var(X) from ONE
    // pass of exact integer moments — n, ΣX, ΣY in int64 and the three
    // cross-products in DECIMAL(38,0) (data-sized products: a user's
    // cents-sum squared is past int64 at ~100× sf1, the r12 overflow
    // doctrine) — then a bounded two-row arm rollup joined to the
    // broadcast global stats. Every float derives from exact integer
    // ratios in a pinned op order, so the doubles are bit-identical on
    // both engines. Variance shrink = 1 − ρ² reported in exact
    // basis-point rationals → double at the end.
    "q276_cuped" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        cents(col("value")).as("vc"))
      val d0 = e.agg(min(col("day"))).head().getLong(0)
      val per = e.groupBy(col("user_id")).agg(
          sum(when(col("day") < d0 + 15, col("vc")).otherwise(0L)).as("x"),
          sum(when(col("day") >= d0 + 15, col("vc")).otherwise(0L)).as("y"))
        .withColumn("arm", (col("user_id") % 2).cast("long"))
        .localCheckpoint()
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val g = per.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x")) * dec(col("x"))).as("sxx"),
        sum(dec(col("x")) * dec(col("y"))).as("sxy"),
        sum(dec(col("y")) * dec(col("y"))).as("syy"))
      val arms = per.groupBy(col("arm")).agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
      val tn = dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy"))
      val td = dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx"))
      val ty = dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy"))
      val stats = g.select(col("n"), col("sx"),
        (tn.cast("double") / td.cast("double")).as("theta"),
        ((tn.cast("double") / td.cast("double"))
          * (tn.cast("double") / ty.cast("double"))).as("rho2"))
      arms.crossJoin(broadcast(stats))
        .select(col("arm"), col("n_users"),
          (col("sya").cast("double") / col("n_users").cast("double"))
            .as("mean_y_cents"),
          (col("sya").cast("double") / col("n_users").cast("double")
            - col("theta")
              * (col("sxa").cast("double") / col("n_users").cast("double")
                - col("sx").cast("double") / col("n").cast("double")))
            .as("adj_mean_cents"),
          col("theta"), col("rho2"))
        .orderBy(col("arm"))
    }),


    // Stratified treatment-effect estimate (the IPW/Horvitz-Thompson
    // shape with exact stratum propensities): treatment = heavy
    // purchaser (≥ 14 purchases — the population median is 13, so both
    // arms stay populated in every stratum), outcome = click-value
    // cents, strata = user_id decile-residues (the synthetic
    // confounder). Per stratum: exact difference of integer-div means
    // in micros; strata with an empty arm are excluded (the positivity
    // assumption, enforced). The stratum = −1 row pools the surviving
    // strata's raw sums through the SAME formula — every division keeps
    // a NONNEGATIVE numerator, so Spark's truncating `div` and DuckDB's
    // flooring `//` agree (the subtraction that may go negative happens
    // AFTER both divisions).
    "q282_stratified_ate" -> ((s, dir) => {
      val per = Tables.load(s, dir, "events").groupBy(col("user_id")).agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("np"),
          sum(when(col("event_type") === "click", cents(col("value")))
            .otherwise(0L)).as("y"))
        .select((col("user_id") % 10).as("stratum"),
          when(col("np") >= 14, 1L).otherwise(0L).as("t"), col("y"))
      val eff = "(1000000 * sum_y_treated) div n_treated" +
        " - (1000000 * sum_y_control) div (n_users - n_treated)"
      val st = per.groupBy(col("stratum")).agg(
          count(lit(1)).as("n_users"), sum(col("t")).as("n_treated"),
          sum(when(col("t") === 1, col("y")).otherwise(0L))
            .as("sum_y_treated"),
          sum(when(col("t") === 0, col("y")).otherwise(0L))
            .as("sum_y_control"))
        .filter(col("n_treated") > 0 && col("n_treated") < col("n_users"))
        .withColumn("eff_micros", expr(eff))
        .localCheckpoint() // tiny (≤ 10 rows), consumed twice
      val pooled = st.agg(sum(col("n_users")).as("n_users"),
          sum(col("n_treated")).as("n_treated"),
          sum(col("sum_y_treated")).as("sum_y_treated"),
          sum(col("sum_y_control")).as("sum_y_control"))
        .withColumn("eff_micros", expr(eff))
        .withColumn("stratum", lit(-1L))
      val cols = Seq("stratum", "n_users", "n_treated", "sum_y_treated",
        "sum_y_control", "eff_micros").map(col)
      st.select(cols: _*).unionByName(pooled.select(cols: _*))
        .orderBy(col("stratum"))
    }),


    // Sample-ratio-mismatch guardrail (the first thing every experiment
    // platform checks before reading a metric): arms = the q276 user
    // parity, expected 50/50; chi² with one df cross-multiplied as
    // 1000·Δ² > 10828·n (α = 0.001 critical value 10.828), so no float
    // or division ever runs — Δ² in DECIMAL since an adversarial
    // all-one-arm slice makes Δ data-sized. Per-type rows audit each
    // slice's assignment balance (unit = distinct user, counted once per
    // slice); the all_users row is the global gate.
    "q285_srm_check" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val ue = Tables.load(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("arm", col("user_id") % 2).localCheckpoint()
      def arms(df: DataFrame) = df.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
      val per = ue.groupBy(col("event_type")).agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        .withColumn("scope", col("event_type"))
      val glob = arms(ue.select(col("user_id"), col("arm")).distinct())
        .withColumn("scope", lit("all_users"))
      per.select(col("scope"), col("n_a"), col("n_b"))
        .unionByName(glob.select(col("scope"), col("n_a"), col("n_b")))
        .withColumn("delta", col("n_a") - col("n_b"))
        .withColumn("srm",
          lit(1000L).cast("decimal(19,0)") * dec(col("delta"))
            * dec(col("delta")) >
            lit(10828L).cast("decimal(19,0)")
              * dec(col("n_a") + col("n_b")))
        .orderBy(col("scope"))
    }),


    // Discrete-time churn hazard table (the life-table / Kaplan-Meier
    // input): tenure = last − first active day per user; churned = no
    // activity in the final 7-day horizon (the rest are censored — they
    // leave the risk set without a churn event, which is exactly what
    // the at-risk suffix sum encodes). One keyed pass builds the
    // per-user span; the tenure histogram is bounded by the observation
    // WINDOW (≤ |days| rows), so its suffix-cumsum window is
    // driver-scale by construction (the q239 apportionment class), never
    // a data-sized sort.
    "q286_churn_hazard" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.load(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 86400000000")
          .as("day"))
      val mm = e.agg(min(col("day")).as("d0"), max(col("day")).as("dmax"))
        .head()
      val dmax = mm.getLong(1)
      val per = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("f"), max(col("day")).as("l"))
        .select((col("l") - col("f")).as("t"),
          when(col("l") <= dmax - 7, 1L).otherwise(0L).as("churned"))
      val hist = per.groupBy(col("t"))
        .agg(count(lit(1)).as("n_ending"), sum(col("churned")).as("n_churned"))
      val wd = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      hist.withColumn("n_at_risk", sum(col("n_ending")).over(wd))
        .select(col("t").as("tenure_day"), col("n_at_risk"),
          col("n_churned"),
          expr("(1000000 * n_churned) div n_at_risk").as("hazard_ppm"))
        .orderBy(col("tenure_day"))
    }),


    // Quantile treatment effect — the distributional complement of the
    // mean-shift estimators (q276/q282): exact p25/p50/p75 per arm via
    // the q265 kernel (groupBy(arm, value) + rangePrefixSums + rational
    // ⌈q·N⌉ threshold — no per-group value buffering, no float), then
    // the arm difference at each quantile. Detects the effect a mean
    // hides (a lift concentrated in one tail). One-row report.
    "q287_quantile_effect" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .select((col("user_id") % 2).as("arm"), cents(col("value")).as("v"))
      val g = e.groupBy(col("arm"), col("v")).agg(count(lit(1)).as("n"))
      val c = CoreOps.rangePrefixSums(g, Seq("arm"), Seq(col("v")), Seq("n"))
      val tot = g.groupBy(col("arm")).agg(sum(col("n")).as("n_total"))
      def qv(num: Int, den: Int, name: String) =
        min(when(col("n_cum") * den >= col("n_total") * num, col("v")))
          .as(name)
      val qs = c.join(broadcast(tot), "arm").groupBy(col("arm"))
        .agg(min(col("n_total")).as("n_total"),
          qv(1, 4, "p25"), qv(1, 2, "p50"), qv(3, 4, "p75"))
        .localCheckpoint() // two consumers (each arm side)
      val t1 = qs.filter(col("arm") === 1).select(
        col("n_total").as("n_treat"), col("p25").as("p25_t"),
        col("p50").as("p50_t"), col("p75").as("p75_t"))
      val t0 = qs.filter(col("arm") === 0).select(
        col("n_total").as("n_ctrl"), col("p25").as("p25_c"),
        col("p50").as("p50_c"), col("p75").as("p75_c"))
      t1.crossJoin(t0).select(col("n_treat"), col("n_ctrl"),
        col("p25_t"), col("p25_c"), col("p50_t"), col("p50_c"),
        col("p75_t"), col("p75_c"),
        (col("p25_t") - col("p25_c")).as("qte_p25_cents"),
        (col("p50_t") - col("p50_c")).as("qte_p50_cents"),
        (col("p75_t") - col("p75_c")).as("qte_p75_cents"))
    }),


    // Bootstrap CI for the MEDIAN — q275's replicate-weight device
    // composed with q265's weighted-quantile kernel, because the
    // bootstrap most people need at scale is for an order statistic,
    // not a mean: per (type, replicate), the weighted median is the
    // smallest v with 2·cum ≥ total over rangePrefixSums with
    // (event_type, r) strata; the pseudo-replicate r = −1 carries
    // weight 1 everywhere, so its "weighted median" IS the exact sample
    // median (point estimate and replicates ride one plan). Cell count
    // is |type|·|value-domain|·33 — value-domain-bounded, independent
    // of row count. Everything integer; the CI is order stats of 32
    // integer medians.
    //
    // ONE-PASS (r13, VERDICT r12 item 5): the R+1 replicate weight sums
    // are 33 accumulators of a SINGLE hash agg keyed (event_type, v) —
    // each input row is hashed once and updates all 33 sums (the 33
    // inverse-CDF draws per row are the statistical definition, a compute
    // floor). The replicate axis is then unpivoted AFTER aggregation, so
    // the 33× row expansion happens on value-domain-bounded cells, never
    // on the event stream — the prior form exploded raw rows 33× into
    // the partial agg (33M materialized rows at sf1; 18.7 s → ~6 s).
    "q291_bootstrap_median" -> ((s, dir) => {
      val R = 32
      val e = Tables.load(s, dir, "events").select(col("event_type"),
        col("event_id"), cents(col("value")).as("v"))
      val wSums = count(lit(1)).as("w_m1") +:
        (0 until R).map(r =>
          sum(poissonWeight(col("event_id"), lit(r))).as(s"w_$r"))
      // Two consumers (prefix sums + totals) — checkpoint the bounded
      // cell table so the event-stream agg runs exactly once.
      val cells = e.groupBy(col("event_type"), col("v"))
        .agg(wSums.head, wSums.tail: _*)
        .localCheckpoint()
      // ALL 33 replicate masses ride ONE prefix pass as parallel weight
      // columns (r17): the old shape exploded cells ×33 BEFORE the range
      // sort, pushing ~33× the rows through the exchange and the per-row
      // prefix kernel; rangePrefixSums accumulates multiple weights per
      // row natively, so the replicate dimension unpivots AFTER the
      // cumulative sums, in codegen, at zero extra kernel rows. Same
      // cumulative values per (type, r, v), same ⌈N/2⌉ crossing — rows
      // with a zero weight shift no cumulative sum, so dropping the old
      // n > 0 pre-filter cannot move any median.
      val wNames = "w_m1" +: (0 until R).map(r => s"w_$r")
      val c = CoreOps.rangePrefixSums(cells, Seq("event_type"),
        Seq(col("v")), wNames)
      val tot = cells.groupBy(col("event_type"))
        .agg(sum(col(wNames.head)).as(s"t_${wNames.head}"),
          wNames.tail.map(w => sum(col(w)).as(s"t_$w")): _*)
      val repArr = array(
        struct(lit(-1).as("r"), col("w_m1_cum").as("cum"),
          col("t_w_m1").as("tot")) +:
        (0 until R).map(r =>
          struct(lit(r).as("r"), col(s"w_${r}_cum").as("cum"),
            col(s"t_w_$r").as("tot"))): _*)
      val med = c.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("v"), explode(repArr).as("x"))
        // x.tot > 0 (ADVICE r17): a replicate whose total Poisson mass is
        // zero would pass the crossing filter vacuously (cum·2 ≥ 0) and
        // emit med = min(v) — the old n > 0-filtered shape dropped that
        // (type, r) row entirely. Unreachable at gate SFs (every type has
        // thousands of rows), but the guard pins the drop-empty-replicate
        // contract.
        .filter(col("x.tot") > 0 && col("x.cum") * 2 >= col("x.tot"))
        .groupBy(col("event_type"), col("x.r").as("r"))
        .agg(min(col("v")).as("med"))
        .localCheckpoint() // tiny (|type|×33), consumed twice
      val pt = med.filter(col("r") === -1)
        .select(col("event_type"), col("med").as("median_cents"))
      val ci = med.filter(col("r") >= 0).groupBy(col("event_type"))
        .agg(sort_array(collect_list(col("med"))).as("ms"))
        .select(col("event_type"),
          element_at(col("ms"), 2).as("boot_lo"),
          element_at(col("ms"), R / 2).as("boot_med"),
          element_at(col("ms"), R - 1).as("boot_hi"))
      pt.join(ci, "event_type").orderBy(col("event_type"))
    }),


    // 2×2 contingency chi² for conversion-rate A/B (the two-proportion
    // test behind every "did the arm move conversion" readout): unit =
    // user, arm = parity, converted = heavy buyer (q282's ≥14 purchases,
    // known two-sided at this data's median 13). Significance at
    // α = 0.05 cross-multiplied EXACTLY: 1000·n·(ad−bc)² >
    // 3841·(a+b)(c+d)(a+c)(b+d), all factors in DECIMAL(38,0).
    // BOUNDS: LHS ≈ 62·n⁵ worst case — fits DECIMAL(38) to n ≈ 1.5e7
    // users (100× sf1); past that, divide both sides by n² first.
    "q292_ab_contingency" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(19,0)")
      val per = Tables.load(s, dir, "events").groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("np"))
        .select((col("user_id") % 2).as("arm"),
          when(col("np") >= 14, 1L).otherwise(0L).as("conv"))
      val cells = per.agg(
        sum(when(col("arm") === 1 && col("conv") === 1, 1L).otherwise(0L))
          .as("a"),
        sum(when(col("arm") === 1 && col("conv") === 0, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("arm") === 0 && col("conv") === 1, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("arm") === 0 && col("conv") === 0, 1L).otherwise(0L))
          .as("d"))
      val n = col("a") + col("b") + col("c") + col("d")
      val det = dec(col("a")) * dec(col("d")) - dec(col("b")) * dec(col("c"))
      cells.select(col("a"), col("b"), col("c"), col("d"),
        n.as("n_users"),
        expr("(10000 * a) div (a + b)").as("rate_t_bp"),
        expr("(10000 * c) div (c + d)").as("rate_c_bp"),
        (expr("(10000 * a) div (a + b)") - expr("(10000 * c) div (c + d)"))
          .as("diff_bp"),
        (lit(1000L).cast("decimal(19,0)") * dec(n) * det * det >
          lit(3841L).cast("decimal(19,0)") * (dec(col("a")) + dec(col("b")))
            * (dec(col("c")) + dec(col("d")))
            * (dec(col("a")) + dec(col("c")))
            * (dec(col("b")) + dec(col("d")))).as("significant"))
    }),


    // Exact autocorrelation function at lags 1..7 per series — the
    // seasonality detector feeding q213's seasonal-naive choice of
    // period. Denominators are cleared once: with S = Σv and n days,
    // centering by the MEAN becomes the integer c_t = n·v_t − S, and
    // ρ_l = Σ c_t·c_{t+l} / Σ c_t² exactly (both sides scale by n²).
    // Products are data-sized → DECIMAL; the ppm readout splits by sign
    // so every IntegralDivide sees a NONNEGATIVE numerator (div
    // truncation == // floor). Lag pairs join on the (type, rel+lag)
    // equi-key — bounded by the 30-day clip window, never data-sized.
    "q295_acf" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val daily = clippedDaily(s, dir, "event_type")
      val stats = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val centered = daily.join(broadcast(stats), "event_type")
        .withColumn("c", dec(col("n")) * dec(col("v")) - dec(col("sv")))
        .localCheckpoint() // three consumers: den + both lag-join sides
      val den = centered.groupBy(col("event_type"))
        .agg(sum(col("c") * col("c")).as("den"))
      val lagged = centered.select(col("event_type"), col("rel"), col("c"))
        .withColumn("lag", explode(expr(
          "sequence(CAST(1 AS BIGINT), CAST(7 AS BIGINT))")))
        .withColumn("rel2", col("rel") + col("lag"))
      val b2 = centered.select(col("event_type"), col("rel").as("rel2"),
        col("c").as("c2"))
      val sc = lit(1000000L).cast("decimal(19,0)")
      lagged.join(b2, Seq("event_type", "rel2"))
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("c") * col("c2")).as("num"))
        .join(broadcast(den), "event_type")
        .select(col("event_type"), col("lag"), col("n_pairs"),
          when(col("num") >= 0,
            call_function("div", col("num") * sc, col("den")))
            .otherwise(-call_function("div", -col("num") * sc, col("den")))
            .as("acf_micros"))
        .orderBy(col("event_type"), col("lag"))
    }),

  )

  /** q297's oracle: the same 15 exact fixed-point MM rounds as the Spark
    * side's BigInt solve, unrolled as chained CTEs (DuckDB's recursive
    * CTEs disallow aggregation over the recursive reference, so the
    * rounds are program-generated — the count can never drift from the
    * driver loop because both read the same constant).
    */
  private def btOracleSql: String = {
    val SC = "1000000000000"
    val steps = (1 to 15).map { k =>
      s"""d$k AS MATERIALIZED (
         |  SELECT g.a AS item,
         |    sum(CASE WHEN pi.p + pj.p > 0
         |        THEN (CAST(g.n AS HUGEINT) * $SC) // (pi.p + pj.p)
         |        ELSE 0 END) AS d
         |  FROM games g
         |  JOIN it${k - 1} pi ON pi.item = g.a
         |  JOIN it${k - 1} pj ON pj.item = g.b
         |  GROUP BY 1),
         |it$k AS MATERIALIZED (
         |  SELECT wt.item,
         |    CASE WHEN coalesce(d.d, 0) > 0
         |      THEN (CAST(wt.wins AS HUGEINT) * $SC) // d.d
         |      ELSE p0.p END AS p
         |  FROM wt
         |  LEFT JOIN d$k d ON d.item = wt.item
         |  JOIN it${k - 1} p0 ON p0.item = wt.item)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT event_id, event_type AS t,
       |    CAST(round(value * 100) AS BIGINT) AS vc
       |  FROM events),
       |duels AS (
       |  SELECT CASE WHEN a.vc > b.vc OR (a.vc = b.vc AND a.t < b.t)
       |           THEN a.t ELSE b.t END AS win,
       |         CASE WHEN a.vc > b.vc OR (a.vc = b.vc AND a.t < b.t)
       |           THEN b.t ELSE a.t END AS lose
       |  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1 AND a.t <> b.t),
       |wmat AS MATERIALIZED (SELECT win, lose, CAST(count(*) AS BIGINT) AS w
       |         FROM duels GROUP BY 1, 2),
       |items AS MATERIALIZED (SELECT win AS item FROM wmat
       |          UNION SELECT lose FROM wmat),
       |games AS MATERIALIZED (
       |  SELECT a, b, CAST(sum(n) AS BIGINT) AS n FROM (
       |    SELECT win AS a, lose AS b, w AS n FROM wmat
       |    UNION ALL SELECT lose, win, w FROM wmat) GROUP BY 1, 2),
       |wt AS MATERIALIZED (
       |  SELECT i.item, CAST(coalesce(sum(w.w), 0) AS BIGINT) AS wins
       |  FROM items i LEFT JOIN wmat w ON w.win = i.item GROUP BY 1),
       |gt AS (
       |  SELECT i.item, CAST(coalesce(sum(g.n), 0) AS BIGINT) AS games
       |  FROM items i LEFT JOIN games g ON g.a = i.item GROUP BY 1),
       |it0 AS MATERIALIZED (SELECT item, CAST(1000000 AS HUGEINT) AS p FROM items),
       |$steps,
       |tot AS (SELECT sum(p) AS tp,
       |        (SELECT count(*) FROM items) AS k FROM it15)
       |SELECT wt.item, wt.wins AS n_wins, gt.games AS n_games,
       |  CAST((it15.p * (1000000 * tot.k)) // tot.tp AS BIGINT)
       |    AS strength_ppm
       |FROM wt JOIN gt USING (item) JOIN it15 USING (item), tot
       |ORDER BY wt.item""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q297_bradley_terry" -> btOracleSql,

    "q305_isotonic_calibration" ->
      """WITH per AS (
        |  SELECT user_id,
        |    CAST(least(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
        |      END), 30) AS BIGINT) AS b,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) >= 14 THEN 1 ELSE 0 END AS y
        |  FROM events GROUP BY 1),
        |bk AS (SELECT b, CAST(count(*) AS BIGINT) AS w,
        |         CAST(sum(y) AS BIGINT) AS s FROM per GROUP BY 1),
        |idx AS (SELECT b, w, s, row_number() OVER (ORDER BY b) AS i FROM bk),
        |cum AS (SELECT *, sum(w) OVER (ORDER BY i) AS cw,
        |          sum(s) OVER (ORDER BY i) AS cs FROM idx),
        |pairs AS (
        |  SELECT j.i AS j, k.i AS k,
        |    CAST((1000000 * (k.cs - coalesce(jp.cs, 0)))
        |      // (k.cw - coalesce(jp.cw, 0)) AS BIGINT) AS avg_u
        |  FROM cum j JOIN cum k ON k.i >= j.i
        |  LEFT JOIN cum jp ON jp.i = j.i - 1),
        |im AS (
        |  SELECT p.j, x.i, min(avg_u) AS mn
        |  FROM pairs p JOIN idx x ON p.j <= x.i AND p.k >= x.i
        |  GROUP BY 1, 2),
        |iso AS (SELECT i, CAST(max(mn) AS BIGINT) AS iso_rate_u
        |        FROM im GROUP BY i)
        |SELECT idx.b, idx.w AS n_users, idx.s AS n_conv,
        |  CAST((1000000 * idx.s) // idx.w AS BIGINT) AS rate_u,
        |  iso.iso_rate_u
        |FROM idx JOIN iso USING (i) ORDER BY b""".stripMargin,

    "q298_diff_in_diff" ->
      """WITH e AS (
        |  SELECT user_id % 2 AS arm,
        |    CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |      THEN 1 ELSE 0 END AS post,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT
        |  CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
        |  CAST(sum(CASE WHEN arm = 1 AND post = 0 THEN vc ELSE 0 END) AS HUGEINT) AS s_t_pre,
        |  CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
        |  CAST(sum(CASE WHEN arm = 1 AND post = 1 THEN vc ELSE 0 END) AS HUGEINT) AS s_t_post,
        |  CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
        |  CAST(sum(CASE WHEN arm = 0 AND post = 0 THEN vc ELSE 0 END) AS HUGEINT) AS s_c_pre,
        |  CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
        |  CAST(sum(CASE WHEN arm = 0 AND post = 1 THEN vc ELSE 0 END) AS HUGEINT) AS s_c_post
        |  FROM e),
        |m AS (SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  CASE WHEN n_t_pre = 0 THEN NULL
        |    ELSE CAST((s_t_pre * 1000000) // n_t_pre AS BIGINT) END AS m_t_pre_u,
        |  CASE WHEN n_t_post = 0 THEN NULL
        |    ELSE CAST((s_t_post * 1000000) // n_t_post AS BIGINT) END AS m_t_post_u,
        |  CASE WHEN n_c_pre = 0 THEN NULL
        |    ELSE CAST((s_c_pre * 1000000) // n_c_pre AS BIGINT) END AS m_c_pre_u,
        |  CASE WHEN n_c_post = 0 THEN NULL
        |    ELSE CAST((s_c_post * 1000000) // n_c_post AS BIGINT) END AS m_c_post_u
        |  FROM c)
        |SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
        |  m_t_pre_u, m_t_post_u, m_c_pre_u, m_c_post_u,
        |  (m_t_post_u - m_t_pre_u) - (m_c_post_u - m_c_pre_u) AS did_u
        |FROM m""".stripMargin,

    "q299_preference_flips" ->
      """WITH ev AS (
        |  SELECT event_id, event_type AS t,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |duels AS (
        |  SELECT least(a.t, b.t) AS item_a, greatest(a.t, b.t) AS item_b,
        |    CASE WHEN (a.vc > b.vc OR (a.vc = b.vc AND a.t < b.t))
        |              = (a.t < b.t) THEN 1 ELSE 0 END AS a_won
        |  FROM ev a JOIN ev b ON b.event_id = a.event_id + 1 AND a.t <> b.t)
        |SELECT item_a, item_b, CAST(count(*) AS BIGINT) AS n_duels,
        |  CAST(sum(a_won) AS BIGINT) AS wins_a,
        |  CAST(count(*) - sum(a_won) AS BIGINT) AS wins_b,
        |  CAST(10000 * greatest(sum(a_won), count(*) - sum(a_won))
        |    // count(*) AS BIGINT) AS consistency_bp,
        |  CAST(least(sum(a_won), count(*) - sum(a_won)) AS BIGINT) AS n_flips
        |FROM duels GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,


    // Ordered-step funnel replayed with correlated mins.
    "q246_funnel_conversion" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |v AS (SELECT user_id, min(us) AS t1 FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, min(e.us) AS t2, min(v.t1) AS t1
        |  FROM e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.us > v.t1
        |    AND e.us <= v.t1 + 86400000000
        |  GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, min(e.us) AS t3, min(c.t1) AS t1v
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.us > c.t2
        |    AND e.us <= c.t1 + 86400000000
        |  GROUP BY 1)
        |SELECT v.user_id % 4 AS segment,
        |  count(*) AS n_viewed,
        |  CAST(sum(CASE WHEN c.t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_clicked,
        |  CAST(sum(CASE WHEN p.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_purchased,
        |  CAST(sum(CASE WHEN p.t3 IS NOT NULL
        |    THEN (p.t3 - p.t1v) // 1000000 ELSE 0 END) AS BIGINT)
        |    AS sum_convert_secs
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Distinct (user, week-offset) activity vs the week-0 cohort.
    "q247_retention_matrix" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS d0 FROM e GROUP BY 1),
        |w AS (
        |  SELECT DISTINCT e.user_id, (e.day - f.d0) // 7 AS k
        |  FROM e JOIN f USING (user_id)
        |  WHERE (e.day - f.d0) // 7 BETWEEN 0 AND 3),
        |cnt AS (SELECT k, count(*) AS n_users FROM w GROUP BY 1),
        |b AS (SELECT n_users AS n0 FROM cnt WHERE k = 0)
        |SELECT k, n_users,
        |  CAST(n_users * 10000 // b.n0 AS BIGINT) AS retention_bp
        |FROM cnt, b ORDER BY k""".stripMargin,

    // Sketch output is engine-specific; the oracle pins group sizes and
    // demands the in-query rank-contract booleans come out TRUE.
    "q245_approx_quantile_gate" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(TRUE AS BOOLEAN) AS ok50, CAST(TRUE AS BOOLEAN) AS ok95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // Forward fill replayed as an ASOF join against the latest-wins slot
    // values (the fill value at slot t IS the as-of match at t). Two
    // DuckDB performance cliffs found at sf1 and avoided here: struct
    // min/max aggregates (370+ s over 1M rows — row_number latest-wins
    // instead) and last_value(IGNORE NULLS) over a growing frame (O(n²)
    // per partition — the ASOF formulation needs no window at all).
    "q192_gap_fill" ->
      """WITH e AS MATERIALIZED (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS slot,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tsm, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events),
        |d AS MATERIALIZED (
        |  SELECT user_id, slot, v_c AS observed FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, slot
        |      ORDER BY tsm DESC, event_id DESC) AS rn FROM e)
        |  WHERE rn = 1),
        |bounds AS (SELECT min(slot) AS lo, max(slot) AS hi FROM e),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 1)) AS slot
        |         FROM (SELECT DISTINCT user_id FROM e), bounds),
        |j AS MATERIALIZED (
        |  SELECT g.slot, d.slot AS obs_slot, d.observed
        |  FROM grid g ASOF LEFT JOIN d
        |    ON g.user_id = d.user_id AND g.slot >= d.slot)
        |SELECT slot,
        |  CAST(sum(CASE WHEN obs_slot = slot THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |  CAST(sum(CASE WHEN obs_slot < slot THEN 1 ELSE 0 END) AS BIGINT) AS n_carried,
        |  CAST(sum(observed) AS BIGINT) AS sum_filled
        |FROM j GROUP BY slot ORDER BY slot""".stripMargin,


    "q270_mann_kendall" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |daily AS (
        |  SELECT event_type, day, sum(vc) AS v
        |  FROM e, d0 WHERE day < d0 + 30 GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CAST(sign(b.v - a.v) AS BIGINT) AS sgn
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |s AS (SELECT event_type, sum(sgn) AS s_stat FROM p GROUP BY 1),
        |t AS (
        |  SELECT event_type, sum(t * (t - 1) * (2 * t + 5)) AS tie_adj,
        |    sum(t) AS n_days
        |  FROM (SELECT event_type, v, count(*) AS t FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT s.event_type, CAST(n_days AS BIGINT) AS n_days,
        |  CAST(s_stat AS BIGINT) AS s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_adj AS BIGINT)
        |    AS var18,
        |  180000 * s_stat * s_stat >
        |    38416 * (n_days * (n_days - 1) * (2 * n_days + 5) - tie_adj)
        |    AS significant
        |FROM s JOIN t USING (event_type)
        |ORDER BY s.event_type""".stripMargin,

    "q271_theil_sen" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |daily AS (
        |  SELECT event_type, day, sum(vc) AS v
        |  FROM e, d0 WHERE day < d0 + 30 GROUP BY 1, 2),
        |sl AS (
        |  SELECT a.event_type, a.day AS di, b.day AS dj,
        |    b.v - a.v AS num, b.day - a.day AS den,
        |    CAST(b.v - a.v AS HUGEINT)
        |      * (2329089562800 // (b.day - a.day)) AS key
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (
        |  SELECT event_type, num, den,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY key, di, dj) AS rnk,
        |    count(*) OVER (PARTITION BY event_type) AS n_pairs
        |  FROM sl)
        |SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
        |  CAST(num AS BIGINT) AS med_slope_num,
        |  CAST(den AS BIGINT) AS med_slope_den
        |FROM r WHERE rnk = (n_pairs + 1) // 2
        |ORDER BY event_type""".stripMargin,

    "q268_rfm_segments" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |per AS (
        |  SELECT user_id, (SELECT max(day) FROM e) - max(day) AS recency,
        |    count(*) AS frequency, sum(vc) AS monetary
        |  FROM e GROUP BY 1),
        |b AS (
        |  SELECT user_id, monetary,
        |    ntile(3) OVER (ORDER BY recency, user_id) AS r_bin,
        |    ntile(3) OVER (ORDER BY frequency, user_id) AS f_bin,
        |    ntile(3) OVER (ORDER BY monetary, user_id) AS m_bin
        |  FROM per)
        |SELECT CAST(r_bin * 100 + f_bin * 10 + m_bin AS BIGINT) AS segment,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(monetary) AS BIGINT) AS sum_monetary_cents
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    "q266_series_topk" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |daily AS (
        |  SELECT user_id, day - d0 AS rel, sum(vc) AS v
        |  FROM e, d0 WHERE day - d0 < 30 GROUP BY 1, 2),
        |grid AS (
        |  SELECT u.user_id, r.rel
        |  FROM (SELECT DISTINCT user_id FROM daily) u,
        |    LATERAL (SELECT unnest(range(0, 30)) AS rel) r),
        |q AS (SELECT rel, v AS vq FROM daily WHERE user_id = 7),
        |d AS (
        |  SELECT g.user_id,
        |    sum((coalesce(daily.v, 0) - coalesce(q.vq, 0))
        |      * (coalesce(daily.v, 0) - coalesce(q.vq, 0))) AS dist2
        |  FROM grid g
        |  LEFT JOIN daily ON daily.user_id = g.user_id AND daily.rel = g.rel
        |  LEFT JOIN q ON q.rel = g.rel
        |  GROUP BY 1)
        |SELECT user_id, CAST(dist2 AS BIGINT) AS dist2 FROM d
        |WHERE user_id <> 7 ORDER BY dist2, user_id LIMIT 5""".stripMargin,

    "q267_series_paa_prune" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |daily AS (
        |  SELECT user_id, day - d0 AS rel, sum(vc) AS v
        |  FROM e, d0 WHERE day - d0 < 30 GROUP BY 1, 2),
        |q AS (SELECT rel, v AS vq FROM daily WHERE user_id = 7),
        |aseg AS (SELECT user_id, rel // 2 AS seg, sum(v) AS sa
        |         FROM daily GROUP BY 1, 2),
        |qseg AS (SELECT rel // 2 AS seg, sum(vq) AS sq FROM q GROUP BY 1),
        |sgrid AS (
        |  SELECT u.user_id, r.seg
        |  FROM (SELECT DISTINCT user_id FROM daily) u,
        |    LATERAL (SELECT unnest(range(0, 15)) AS seg) r),
        |lb AS (
        |  SELECT g.user_id,
        |    sum((coalesce(aseg.sa, 0) - coalesce(qseg.sq, 0))
        |      * (coalesce(aseg.sa, 0) - coalesce(qseg.sq, 0))) AS lb2
        |  FROM sgrid g
        |  LEFT JOIN aseg ON aseg.user_id = g.user_id AND aseg.seg = g.seg
        |  LEFT JOIN qseg ON qseg.seg = g.seg
        |  WHERE g.user_id <> 7 GROUP BY 1),
        |stats AS (
        |  SELECT count(*) AS n_scanned,
        |    sum(CASE WHEN lb2 <= 2 * 5000000000 THEN 1 ELSE 0 END)
        |      AS n_candidates
        |  FROM lb),
        |cgrid AS (
        |  SELECT c.user_id, r.rel
        |  FROM (SELECT user_id FROM lb WHERE lb2 <= 2 * 5000000000) c,
        |    LATERAL (SELECT unnest(range(0, 30)) AS rel) r),
        |d AS (
        |  SELECT g.user_id,
        |    sum((coalesce(daily.v, 0) - coalesce(q.vq, 0))
        |      * (coalesce(daily.v, 0) - coalesce(q.vq, 0))) AS dist2
        |  FROM cgrid g
        |  LEFT JOIN daily ON daily.user_id = g.user_id AND daily.rel = g.rel
        |  LEFT JOIN q ON q.rel = g.rel
        |  GROUP BY 1)
        |SELECT d.user_id, CAST(d.dist2 AS BIGINT) AS dist2,
        |  CAST(stats.n_scanned AS BIGINT) AS n_scanned,
        |  CAST(stats.n_candidates AS BIGINT) AS n_candidates
        |FROM d, stats WHERE d.dist2 <= 5000000000
        |ORDER BY d.user_id""".stripMargin,

    "q265_dist_quantiles" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |g AS (SELECT event_type, v, count(*) AS n FROM e GROUP BY 1, 2),
        |c AS (SELECT event_type, v, n,
        |        sum(n) OVER (PARTITION BY event_type ORDER BY v) AS n_cum
        |      FROM g),
        |t AS (SELECT event_type, sum(n) AS n_total FROM g GROUP BY 1)
        |SELECT c.event_type, CAST(min(n_total) AS BIGINT) AS n_total,
        |  CAST(min(CASE WHEN n_cum * 2 >= n_total * 1 THEN v END) AS BIGINT)
        |    AS p50_cents,
        |  CAST(min(CASE WHEN n_cum * 10 >= n_total * 9 THEN v END) AS BIGINT)
        |    AS p90_cents,
        |  CAST(min(CASE WHEN n_cum * 100 >= n_total * 99 THEN v END) AS BIGINT)
        |    AS p99_cents
        |FROM c JOIN t USING (event_type)
        |GROUP BY c.event_type ORDER BY c.event_type""".stripMargin,

    "q261_ks_test" ->
      """WITH e AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS v,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 <
        |     epoch_us(TIMESTAMP '2024-01-16 00:00:00') // 86400000000) AS fh
        |  FROM events),
        |g AS (SELECT v, sum(CASE WHEN fh THEN 1 ELSE 0 END) AS na_v,
        |             sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS nb_v
        |      FROM e GROUP BY v),
        |c AS (SELECT v, sum(na_v) OVER (ORDER BY v) AS ca,
        |             sum(nb_v) OVER (ORDER BY v) AS cb FROM g),
        |n AS (SELECT sum(na_v) AS n_a, sum(nb_v) AS n_b,
        |             count(*) AS n_values FROM g),
        |d AS (SELECT v,
        |        abs((1000000 * ca) // n_a - (1000000 * cb) // n_b) AS dev
        |      FROM c, n)
        |SELECT CAST(n.n_a AS BIGINT) AS n_a, CAST(n.n_b AS BIGINT) AS n_b,
        |  CAST(n.n_values AS BIGINT) AS n_values,
        |  CAST(m.dev AS BIGINT) AS ks_micros,
        |  CAST(m.v AS BIGINT) AS ks_at_value_cents
        |FROM n, (SELECT dev, v FROM d ORDER BY dev DESC, v DESC LIMIT 1) m""".stripMargin,

    "q262_benford_audit" ->
      """WITH e AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
        |  WHERE round(value * 100) > 0),
        |d AS (SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
        |      FROM e),
        |g AS (SELECT d, count(*) AS n FROM d GROUP BY d),
        |n AS (SELECT sum(n) AS n_total FROM g),
        |exp(d, expected_micros) AS (VALUES
        |  (1, 301030), (2, 176091), (3, 124938), (4, 96910), (5, 79181),
        |  (6, 66946), (7, 57991), (8, 51152), (9, 45757))
        |SELECT g.d, CAST(g.n AS BIGINT) AS n,
        |  CAST((1000000 * g.n) // n.n_total AS BIGINT) AS observed_micros,
        |  CAST(exp.expected_micros AS BIGINT) AS expected_micros,
        |  CAST(abs((1000000 * g.n) // n.n_total - exp.expected_micros)
        |    AS BIGINT) AS dev_micros
        |FROM g JOIN exp ON exp.d = g.d CROSS JOIN n
        |ORDER BY g.d""".stripMargin,

    "q259_chi2_drift" ->
      """WITH t AS (
        |  SELECT CASE WHEN length(source) = 4 THEN 'a' ELSE 'b' END AS grp,
        |    unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |c AS (
        |  SELECT token,
        |    sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS c_a,
        |    sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS c_b
        |  FROM t WHERE len(token) > 0 GROUP BY token),
        |n AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM c),
        |terms AS (
        |  SELECT token, c_a, c_b,
        |    (1000000 * c_a) // n_a AS p_a, (1000000 * c_b) // n_b AS p_b,
        |    CASE WHEN (1000000 * c_a) // n_a + (1000000 * c_b) // n_b = 0
        |      THEN 0
        |      ELSE (((1000000 * c_a) // n_a - (1000000 * c_b) // n_b)
        |            * ((1000000 * c_a) // n_a - (1000000 * c_b) // n_b))
        |           // ((1000000 * c_a) // n_a + (1000000 * c_b) // n_b)
        |    END AS term
        |  FROM c, n),
        |tot AS (SELECT sum(term) AS chi2_ppm, count(*) AS n_tokens FROM terms)
        |SELECT token, CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
        |  CAST(p_a AS BIGINT) AS p_a, CAST(p_b AS BIGINT) AS p_b,
        |  CAST(term AS BIGINT) AS term_ppm,
        |  CAST(chi2_ppm AS BIGINT) AS chi2_ppm,
        |  CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM (SELECT * FROM terms ORDER BY term DESC, token LIMIT 5) x, tot
        |ORDER BY term_ppm DESC, token""".stripMargin,

    "q193_tv_drift" ->
      """WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_c,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 <
        |     epoch_us(TIMESTAMP '2024-01-16 00:00:00') // 86400000000) AS first_half
        |  FROM events),
        |mm AS (SELECT event_type, min(v_c) AS lo, max(v_c) AS hi FROM e GROUP BY 1),
        |b AS (
        |  SELECT e.event_type, first_half,
        |    least(9, ((v_c - lo) * 10) // (hi - lo + 1)) AS bin
        |  FROM e JOIN mm USING (event_type)),
        |n AS (SELECT event_type,
        |        CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |        CAST(sum(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |      FROM b GROUP BY 1),
        |c AS (SELECT event_type, bin,
        |        CAST(sum(CASE WHEN first_half THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |        CAST(sum(CASE WHEN NOT first_half THEN 1 ELSE 0 END) AS BIGINT) AS cb
        |      FROM b GROUP BY 1, 2)
        |SELECT c.event_type, min(na) AS n_first, min(nb) AS n_second,
        |  CAST(sum(abs(ca * 10000 // na - cb * 10000 // nb)) AS BIGINT) AS sum_abs_bp,
        |  CAST(max(abs(ca * 10000 // na - cb * 10000 // nb)) AS BIGINT) AS max_abs_bp
        |FROM c JOIN n USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q194_attribution" ->
      """WITH p AS (
        |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_c
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    arg_max(event_type, event_id) AS touch
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1, 2),
        |m AS (
        |  SELECT p.user_id, p.event_id, p.v_c,
        |    CASE WHEN p.ts_us - t.ts_us <= 604800000000 THEN t.touch END AS channel
        |  FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts_us >= t.ts_us)
        |SELECT coalesce(channel, 'none') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(v_c) AS BIGINT) AS sum_cents
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,


    "q202_assoc_rules" ->
      """WITH b AS (
        |  SELECT DISTINCT user_id,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |sup AS (SELECT item, count(*) AS sup FROM b GROUP BY 1),
        |f AS (SELECT item, sup FROM sup WHERE sup >= 10),
        |fb AS (SELECT b.user_id, b.item FROM b JOIN f USING (item)),
        |p AS (
        |  SELECT l.item AS i, r.item AS j, count(*) AS support
        |  FROM fb l JOIN fb r ON l.user_id = r.user_id AND l.item < r.item
        |  GROUP BY 1, 2)
        |SELECT i, j, CAST(support AS BIGINT) AS support,
        |  CAST(support * 10000 // fi.sup AS BIGINT) AS conf_ij_bp,
        |  CAST(support * 10000 // fj.sup AS BIGINT) AS conf_ji_bp
        |FROM p JOIN f fi ON fi.item = p.i JOIN f fj ON fj.item = p.j
        |ORDER BY support DESC, i, j LIMIT 20""".stripMargin,


    "q211_topk_churn" ->
      """WITH daily AS (
        |  SELECT day, item FROM (
        |    SELECT day, item, row_number() OVER (PARTITION BY day
        |      ORDER BY n DESC, item) AS rn
        |    FROM (
        |      SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS item,
        |        count(*) AS n
        |      FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
        |      GROUP BY 1, 2))
        |  WHERE rn <= 10)
        |SELECT b.day, CAST(count(*) AS BIGINT) AS n_common
        |FROM daily a JOIN daily b ON b.day = a.day + 1 AND b.item = a.item
        |GROUP BY b.day ORDER BY b.day""".stripMargin,


    "q213_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(day) AS d0 FROM daily)
        |SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(abs(a.v - b.v)) AS BIGINT) AS sum_abs_err,
        |  CAST(sum(abs(a.v - b.v)) // count(*) AS BIGINT) AS mae_cents
        |FROM daily a JOIN daily b
        |  ON b.event_type = a.event_type AND b.day = a.day - 7, d0
        |WHERE a.day >= d0.d0 + 16
        |GROUP BY a.event_type ORDER BY a.event_type""".stripMargin,


    "q214_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2),
        |d0 AS (SELECT min(day) AS d0 FROM daily),
        |base AS (SELECT event_type, sum(v) // count(*) AS mu
        |         FROM daily, d0 WHERE day < d0.d0 + 15 GROUP BY 1),
        |c AS (
        |  SELECT daily.event_type, day,
        |    sum(v - mu) OVER (PARTITION BY daily.event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM daily JOIN base USING (event_type))
        |SELECT event_type, CAST(max(abs(cusum)) AS BIGINT) AS max_abs_cusum,
        |  CAST(arg_max(day, abs(cusum) * 100000 - (day - (SELECT d0 FROM d0)))
        |    AS BIGINT) AS peak_day
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,


    "q215_path_trigrams" ->
      """WITH s AS (
        |  SELECT event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS s3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id))
        |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
        |FROM s WHERE s3 IS NOT NULL
        |GROUP BY 1, 2, 3 ORDER BY n DESC, s1, s2, s3 LIMIT 10""".stripMargin,


    "q216_fifo_match" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS c_ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS p_ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rk
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT p.user_id, count(*) AS n_matched,
        |        sum(abs(p_ts - c_ts)) AS lag_us
        |      FROM p JOIN c ON c.user_id = p.user_id AND c.rk = p.rk
        |      GROUP BY 1),
        |np AS (SELECT user_id, count(*) AS n_p FROM p GROUP BY 1),
        |nc AS (SELECT user_id, count(*) AS n_c FROM c GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(coalesce(n_matched, 0)) AS BIGINT) AS n_matched,
        |  CAST(sum(coalesce(n_p, 0) - coalesce(n_matched, 0)) AS BIGINT)
        |    AS n_unmatched_purchases,
        |  CAST(sum(coalesce(n_c, 0) - coalesce(n_matched, 0)) AS BIGINT)
        |    AS n_unmatched_clicks,
        |  CAST(sum(lag_us) // sum(n_matched) AS BIGINT) AS mean_abs_lag_us
        |FROM np FULL OUTER JOIN nc USING (user_id)
        |LEFT JOIN m USING (user_id)""".stripMargin,


    "q217_value_gini" ->
      """WITH u AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY x, user_id) AS rank FROM u)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(((2 * sum(rank * x) - (count(*) + 1) * sum(x)) * 10000)
        |    // (count(*) * sum(x)) AS BIGINT) AS gini_bp
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,


    "q218_top_share" ->
      """WITH u AS (
        |  SELECT event_type, user_id,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS x
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT event_type, count(*) AS n, sum(x) AS tot FROM u GROUP BY 1),
        |r AS (SELECT event_type, user_id, x,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY x, user_id) AS rank FROM u)
        |SELECT r.event_type, CAST(min(n) AS BIGINT) AS n_users,
        |  CAST(count(*) AS BIGINT) AS n_top,
        |  CAST((sum(x) * 10000) // min(tot) AS BIGINT) AS top_share_bp
        |FROM r JOIN n USING (event_type)
        |WHERE rank > n - (n + 99) // 100
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "q220_cohort_ltv" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |cell AS (
        |  SELECT cohort_day, day - cohort_day AS off, sum(v) AS v
        |  FROM e JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, off, CAST(v AS BIGINT) AS value_cents,
        |  CAST(sum(v) OVER (PARTITION BY cohort_day ORDER BY off
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_value_cents
        |FROM cell ORDER BY cohort_day, off""".stripMargin,


    "q221_activity_streaks" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |  FROM days),
        |streaks AS (SELECT user_id, isl, count(*) AS len FROM s GROUP BY 1, 2),
        |best AS (SELECT user_id, max(len) AS best FROM streaks GROUP BY 1)
        |SELECT best AS streak_len, CAST(count(*) AS BIGINT) AS n_users
        |FROM best GROUP BY 1 ORDER BY 1""".stripMargin,


    // Replays the Poisson weight hash verbatim (int64-exact on both
    // engines) and the 2/16/31 order statistics of the 32 replicate means.
    "q275_poisson_bootstrap" ->
      """WITH e AS (SELECT event_type, event_id,
        |             CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |rep AS (
        |  SELECT event_type, r,
        |    (event_id * 2654435761 + r * 40503) % 2147483647 AS u, vc
        |  FROM e, (SELECT unnest(range(0, 32)) AS r)),
        |w AS (SELECT event_type, r,
        |  CASE WHEN u < 790015083 THEN 0 WHEN u < 1580030167 THEN 1
        |       WHEN u < 1975037709 THEN 2 WHEN u < 2106706890 THEN 3
        |       WHEN u < 2139624185 THEN 4 WHEN u < 2146207644 THEN 5
        |       ELSE 6 END AS wt, vc FROM rep),
        |pr AS (SELECT event_type, r,
        |         CAST(sum(wt * vc) AS DOUBLE) / CAST(sum(wt) AS DOUBLE) AS m
        |       FROM w GROUP BY 1, 2),
        |ci AS (SELECT event_type, list_sort(list(m)) AS ms FROM pr GROUP BY 1),
        |pt AS (SELECT event_type,
        |         CAST(sum(vc) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_cents
        |       FROM e GROUP BY 1)
        |SELECT pt.event_type, mean_cents, ms[2] AS boot_lo,
        |  ms[16] AS boot_med, ms[31] AS boot_hi
        |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin,


    // Mirrors the Spark op order exactly: every double is a ratio of
    // exact (HUGEINT) integers, θ and ρ² formed from the same
    // numerators/denominators in the same order.
    "q276_cuped" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |per AS (
        |  SELECT user_id,
        |    sum(CASE WHEN day < d0 + 15 THEN vc ELSE 0 END) AS x,
        |    sum(CASE WHEN day >= d0 + 15 THEN vc ELSE 0 END) AS y,
        |    user_id % 2 AS arm
        |  FROM e, d0 GROUP BY user_id),
        |g AS (
        |  SELECT CAST(count(*) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM per),
        |stats AS (
        |  SELECT n, sx,
        |    CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
        |    (CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * sxx - sx * sx AS DOUBLE))
        |    * (CAST(n * sxy - sx * sy AS DOUBLE)
        |      / CAST(n * syy - sy * sy AS DOUBLE)) AS rho2
        |  FROM g),
        |arms AS (
        |  SELECT arm, CAST(count(*) AS BIGINT) AS n_users,
        |    sum(x) AS sxa, sum(y) AS sya
        |  FROM per GROUP BY arm)
        |SELECT CAST(arm AS BIGINT) AS arm, n_users,
        |  CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y_cents,
        |  CAST(sya AS DOUBLE) / CAST(n_users AS DOUBLE)
        |    - theta * (CAST(sxa AS DOUBLE) / CAST(n_users AS DOUBLE)
        |               - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    AS adj_mean_cents,
        |  theta, rho2
        |FROM arms, stats ORDER BY arm""".stripMargin,


    "q282_stratified_ate" ->
      """WITH per AS (
        |  SELECT user_id % 10 AS stratum,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      >= 14 THEN 1 ELSE 0 END AS t,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |st AS (
        |  SELECT stratum, CAST(count(*) AS BIGINT) AS n_users,
        |    CAST(sum(t) AS BIGINT) AS n_treated,
        |    CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
        |      AS sum_y_treated,
        |    CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
        |      AS sum_y_control
        |  FROM per GROUP BY 1
        |  HAVING sum(t) > 0 AND sum(t) < count(*)),
        |eff AS (
        |  SELECT st.*,
        |    (1000000 * sum_y_treated) // n_treated
        |      - (1000000 * sum_y_control) // (n_users - n_treated)
        |      AS eff_micros
        |  FROM st),
        |pooled AS (
        |  SELECT CAST(-1 AS BIGINT) AS stratum,
        |    CAST(sum(n_users) AS BIGINT) AS n_users,
        |    CAST(sum(n_treated) AS BIGINT) AS n_treated,
        |    CAST(sum(sum_y_treated) AS BIGINT) AS sum_y_treated,
        |    CAST(sum(sum_y_control) AS BIGINT) AS sum_y_control
        |  FROM eff)
        |SELECT stratum, n_users, n_treated, sum_y_treated, sum_y_control,
        |  CAST(eff_micros AS BIGINT) AS eff_micros
        |FROM eff
        |UNION ALL
        |SELECT stratum, n_users, n_treated, sum_y_treated, sum_y_control,
        |  CAST((1000000 * sum_y_treated) // n_treated
        |    - (1000000 * sum_y_control) // (n_users - n_treated) AS BIGINT)
        |FROM pooled
        |ORDER BY stratum""".stripMargin,


    "q285_srm_check" ->
      """WITH ue AS (SELECT DISTINCT event_type, user_id FROM events),
        |a AS (
        |  SELECT event_type AS scope,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM ue GROUP BY 1),
        |g AS (
        |  SELECT 'all_users' AS scope,
        |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b
        |  FROM (SELECT DISTINCT user_id FROM events)),
        |u AS (SELECT * FROM a UNION ALL SELECT * FROM g)
        |SELECT scope, n_a, n_b, n_a - n_b AS delta,
        |  1000 * CAST(n_a - n_b AS HUGEINT) * (n_a - n_b)
        |    > 10828 * CAST(n_a + n_b AS HUGEINT) AS srm
        |FROM u ORDER BY scope""".stripMargin,


    "q286_churn_hazard" ->
      """WITH e AS (
        |  SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |mm AS (SELECT max(day) AS dmax FROM e),
        |per AS (
        |  SELECT l - f AS t,
        |    CASE WHEN l <= dmax - 7 THEN 1 ELSE 0 END AS churned
        |  FROM (SELECT user_id, min(day) AS f, max(day) AS l
        |        FROM e GROUP BY 1), mm),
        |hist AS (
        |  SELECT t, CAST(count(*) AS BIGINT) AS n_ending,
        |    CAST(sum(churned) AS BIGINT) AS n_churned
        |  FROM per GROUP BY 1),
        |risk AS (
        |  SELECT t, n_churned,
        |    CAST(sum(n_ending) OVER (ORDER BY t DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
        |  FROM hist)
        |SELECT t AS tenure_day, n_at_risk, n_churned,
        |  (1000000 * n_churned) // n_at_risk AS hazard_ppm
        |FROM risk ORDER BY tenure_day""".stripMargin,


    "q287_quantile_effect" ->
      """WITH e AS (SELECT user_id % 2 AS arm,
        |             CAST(round(value * 100) AS BIGINT) AS v FROM events),
        |g AS (SELECT arm, v, CAST(count(*) AS BIGINT) AS n
        |      FROM e GROUP BY 1, 2),
        |c AS (SELECT arm, v, n, CAST(sum(n) OVER (PARTITION BY arm
        |        ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
        |      FROM g),
        |t AS (SELECT arm, CAST(sum(n) AS BIGINT) AS n_total
        |      FROM g GROUP BY 1),
        |q AS (SELECT c.arm, min(n_total) AS n_total,
        |        min(CASE WHEN n_cum * 4 >= n_total * 1 THEN v END) AS p25,
        |        min(CASE WHEN n_cum * 2 >= n_total * 1 THEN v END) AS p50,
        |        min(CASE WHEN n_cum * 4 >= n_total * 3 THEN v END) AS p75
        |      FROM c JOIN t USING (arm) GROUP BY 1)
        |SELECT t1.n_total AS n_treat, t0.n_total AS n_ctrl,
        |  t1.p25 AS p25_t, t0.p25 AS p25_c, t1.p50 AS p50_t,
        |  t0.p50 AS p50_c, t1.p75 AS p75_t, t0.p75 AS p75_c,
        |  t1.p25 - t0.p25 AS qte_p25_cents,
        |  t1.p50 - t0.p50 AS qte_p50_cents,
        |  t1.p75 - t0.p75 AS qte_p75_cents
        |FROM (SELECT * FROM q WHERE arm = 1) t1,
        |     (SELECT * FROM q WHERE arm = 0) t0""".stripMargin,


    "q291_bootstrap_median" ->
      s"""WITH e AS (SELECT event_type, event_id,
         |             CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |rep AS (
         |  SELECT event_type, r, v,
         |    CASE WHEN r = -1 THEN 1 ELSE $poissonWeightSql END AS w
         |  FROM (SELECT event_type, event_id, v, r,
         |          (event_id * 2654435761 + r * 40503) % 2147483647 AS u
         |        FROM e, (SELECT unnest(range(-1, 32)) AS r))),
         |g AS (SELECT event_type, r, v, CAST(sum(w) AS BIGINT) AS n
         |      FROM rep WHERE w > 0 GROUP BY 1, 2, 3),
         |c AS (SELECT *, CAST(sum(n) OVER (PARTITION BY event_type, r
         |        ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_cum
         |      FROM g),
         |t AS (SELECT event_type, r, CAST(sum(n) AS BIGINT) AS n_total
         |      FROM g GROUP BY 1, 2),
         |med AS (SELECT c.event_type, c.r,
         |          min(CASE WHEN n_cum * 2 >= n_total THEN v END) AS med
         |        FROM c JOIN t USING (event_type, r) GROUP BY 1, 2),
         |pt AS (SELECT event_type, med AS median_cents FROM med
         |       WHERE r = -1),
         |ci AS (SELECT event_type, list_sort(list(med)) AS ms FROM med
         |       WHERE r >= 0 GROUP BY 1)
         |SELECT pt.event_type, median_cents, ms[2] AS boot_lo,
         |  ms[16] AS boot_med, ms[31] AS boot_hi
         |FROM pt JOIN ci USING (event_type) ORDER BY event_type""".stripMargin,


    "q292_ab_contingency" ->
      """WITH per AS (
        |  SELECT user_id % 2 AS arm,
        |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) >= 14 THEN 1 ELSE 0 END AS conv
        |  FROM events GROUP BY user_id),
        |cells AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d
        |  FROM per)
        |SELECT a, b, c, d, a + b + c + d AS n_users,
        |  (10000 * a) // (a + b) AS rate_t_bp,
        |  (10000 * c) // (c + d) AS rate_c_bp,
        |  (10000 * a) // (a + b) - (10000 * c) // (c + d) AS diff_bp,
        |  1000 * CAST(a + b + c + d AS HUGEINT)
        |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
        |      * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
        |    > 3841 * CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d)
        |    AS significant
        |FROM cells""".stripMargin,


    "q295_acf" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |d0 AS (SELECT min(day) AS d0 FROM e),
        |daily AS (
        |  SELECT event_type, day - d0 AS rel, CAST(sum(vc) AS BIGINT) AS v
        |  FROM e, d0 WHERE day - d0 < 30 GROUP BY 1, 2),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(v) AS BIGINT) AS sv
        |       FROM daily GROUP BY 1),
        |ctr AS (
        |  SELECT d.event_type, rel,
        |    CAST(n AS HUGEINT) * v - sv AS c
        |  FROM daily d JOIN st USING (event_type)),
        |den AS (SELECT event_type, sum(c * c) AS den FROM ctr GROUP BY 1),
        |nums AS (
        |  SELECT a.event_type, l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(a.c * b.c) AS num
        |  FROM ctr a
        |  CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l
        |  JOIN ctr b ON a.event_type = b.event_type
        |            AND b.rel = a.rel + l.lag
        |  GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        |  CASE WHEN num >= 0 THEN CAST((num * 1000000) // den AS BIGINT)
        |       ELSE -CAST(((-num) * 1000000) // den AS BIGINT) END
        |    AS acf_micros
        |FROM nums JOIN den USING (event_type)
        |ORDER BY event_type, lag""".stripMargin,

  )
}
