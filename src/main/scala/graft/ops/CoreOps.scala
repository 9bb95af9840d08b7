package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Core relational operators, each a pure `DataFrame => DataFrame` (or
  * `Column`-returning) function. Every operator here re-expresses a dataflow
  * step of the reference (SURVEY.md §2) as a declarative Spark plan so
  * Catalyst can push, prune, and codegen it. No driver-side loops, no
  * collects — every function composes into a single distributed plan.
  */
object CoreOps {

  // ------------------------------------------------------------ partitioning

  /** Scale-adaptive width for explicit exchange barriers (kernel
    * repartitions, range sorts): ceil(estimated input bytes /
    * `targetBytesPerTask`), clamped to [1, `ceiling`] where the ceiling
    * defaults to the session's shuffle width. The estimate is the
    * optimizer's own plan statistic (the same number AQE's coalescing
    * seeds from), so the width follows DATA SIZE at any scale instead of
    * pinning a local constant: a tiny input stops paying the per-task
    * fixed cost (closure deserialization + shuffle-file open + commit,
    * measured ~50-100 ms/task locally — r17 OPTIMIZATION notes) times
    * the full core count, while a 100 TB input still saturates the
    * configured parallelism. Explicit `repartition(n)` is invisible to
    * AQE's coalescer (the user asked for n), which is exactly why these
    * barrier sites must derive n from data rather than hardcode it.
    *
    * Width only shapes execution, never results: every caller's output
    * is partitioning-invariant (exact integer aggregates, per-row
    * kernels, total-order ranks) — the same property the bench's
    * variable core count already requires.
    */
  def adaptiveWidth(df: DataFrame, targetBytesPerTask: Long = 4L << 20,
                    ceiling: Int = 0): Int = {
    val cap =
      if (ceiling > 0) ceiling
      else df.sparkSession.sessionState.conf.numShufflePartitions
    val plan = df.queryExecution.optimizedPlan
    val bytes = plan.stats.sizeInBytes
    // Width floor for explode-bearing plans (ADVICE r17): the size-only
    // stats visitor propagates a Generate's CHILD size (fan-out
    // invisible), the one systematic UNDER-estimate in the no-CBO
    // visitor — filters/windows pass the child size through and
    // aggregates/joins scale it up, so they can only over-width, which
    // the cap absorbs. An underestimate here would collapse a big range
    // sort into one task (the r17 q291 explode regression, then fixed by
    // restructuring; this floors the class structurally). Perf-only
    // either way: every caller is partitioning-invariant.
    val floor =
      if (plan.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.isDefined) math.max(1, cap / 4)
      else 1
    val w = (bytes + BigInt(targetBytesPerTask - 1)) / BigInt(targetBytesPerTask)
    w.min(BigInt(cap)).max(BigInt(floor)).toInt
  }

  // ---------------------------------------------------------------- filters

  /** F1/F2 — time-window filter, both ends inclusive-exclusive.
    * Reference: skip records outside `[start, end)`
    * (`reddit/lambda_function.py:44-45`, `twitter/lambda_function.py:28-29`).
    * As a plain predicate it reaches the parquet scan (row-group skipping).
    */
  def timeWindowFilter(ts: Column, start: Column, end: Column): Column =
    ts >= start && ts < end

  /** F3 — length cap on text columns (`reddit/lambda_function_initial.py:49-50`). */
  def lengthFilter(maxLen: Int, cols: Column*): Column =
    cols.map(c => length(c) <= maxLen).reduce(_ && _)

  /** F4/U4 — blacklist-term filter, case-insensitive substring semantics
    * (wordfilter.blacklisted — `reddit/lambda_function_initial.py:29-31,51-52`).
    * Terms are inlined into the plan as literals (effectively broadcast with
    * the serialized plan); `contains` stays inside whole-stage codegen,
    * unlike a 750-alternation regex or a Scala UDF.
    */
  def containsAnyTerm(text: Column, terms: Seq[String]): Column =
    terms.map(t => contains(lower(text), lit(t.toLowerCase))).reduce(_ || _)

  /** F8 — sentinel scrub: map `""`, `"[deleted]"`, `"None"`-style markers to
    * real nulls (`glue/reddit_glue.py:227-252`). Returns the scrubbed column;
    * follow with `.na.drop` or `filter(isNotNull)` for the dropna step.
    */
  def nullifySentinels(c: Column, sentinels: Seq[String]): Column =
    when(c.isin(sentinels.map(_.asInstanceOf[Any]): _*), lit(null)).otherwise(c)

  // ---------------------------------------------------------------- windows

  /** A2/J5 — latest-wins dedup: exactly one row per key, the one with the
    * greatest `order` columns. Re-crawl overwrite semantics
    * (`reddit/lambda_function_aggregate.py:59-71`). One shuffle on the key;
    * at 100 TB this is a single hash-partitioned exchange, no join needed.
    */
  def latestWins(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** A2 scale path — latest-wins as a `max_by` aggregation instead of a
    * row_number window: partial aggregation combines map-side, so the
    * shuffle carries one candidate row per key per partition instead of
    * every row (the difference between shuffling 100 TB and shuffling the
    * key cardinality). `order` must be a unique composite for determinism.
    */
  def latestWinsAgg(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.map(col): _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, struct(order: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** §2.6 — top-k rows per group by `order` descending (deterministic via the
    * caller including a unique tiebreaker in `order`). Spark plans this as a
    * partial top-k per partition before the shuffle when k is small.
    */
  def topKPerGroup(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** §2.6 — per-key delta between consecutive observations (engagement delta
    * between crawl and re-crawl: `lag(score)` over id-partitioned window).
    */
  def lagDelta(df: DataFrame, keys: Seq[String], order: Seq[Column],
               valueCol: Column, outName: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(outName, valueCol - lag(valueCol, 1).over(w))
  }

  /** Gap-based sessionization: new session when the gap to the previous event
    * exceeds `gapSeconds`. Batch analog of the streaming `session_window` /
    * `flatMapGroupsWithState` state machine (§2.10): two window passes over
    * one key-partitioned sort, no self-join.
    */
  def sessionize(df: DataFrame, key: String, ts: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("event_id"))
    val gap = unix_timestamp(col(ts)) - unix_timestamp(lag(col(ts), 1).over(w))
    val isNew = when(gap.isNull || gap > gapSeconds, lit(1L)).otherwise(lit(0L))
    df.withColumn("session_id",
      sum(isNew).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  // ------------------------------------------------------------ aggregation

  /** Exact integer "cents" encoding for a fixed-decimal double column.
    *
    * Summing doubles is order-dependent, and Spark's partial aggregation
    * order differs from any single-threaded oracle — so money aggregates sum
    * `round(x * 10^scale)` as longs instead. Integer addition is associative:
    * the result is bit-identical no matter how partitions combine, at any
    * cluster size. The same expression is used in the DuckDB oracle SQL.
    *
    * BOUNDS (r12 overflow audit): a SUM of cents is data-sized but wraps
    * int64 only past 9.2e18 cents = $9.2e16 total (sf1 carries ~1e9
    * cents/event-type — ×9e9 headroom); micros (scale 6) past $9.2e12.
    * PRODUCTS of two data-sized cents sums (or sum × rank) are the family
    * that wraps at real scale — those run in DECIMAL(38,0) (q217 Gini,
    * midrankAuc's 1e6·2U, q253 Brier, q271 Theil–Sen key) per
    * OverflowBoundsSpec.
    */
  def cents(c: Column, scale: Int = 2): Column =
    round(c * pow(lit(10.0), lit(scale)), 0).cast(LongType)

  /** Skew-resistant two-phase aggregation (SURVEY.md §4 salting): phase 1
    * pre-aggregates on (keys, salt) so a hot key spreads over `saltBuckets`
    * reducers; phase 2 combines the partials on the keys alone. Correct for
    * decomposable aggregates (count + exact-cents sum here). The salt is the
    * task partition id — deterministic within a run, and the final result is
    * invariant to the assignment. AQE handles skewed JOINS at runtime; this
    * is the aggregation-side answer.
    */
  def saltedSumCount(df: DataFrame, keys: Seq[String], measure: Column,
                     saltBuckets: Int = 16): DataFrame = {
    val salted = df.withColumn("__salt", pmod(spark_partition_id(), lit(saltBuckets)))
    salted.groupBy((keys :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__n"), sum(cents(measure)).as("__s"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("sum_cents"))
  }

  /** As-of join: for every left row, the most recent right row of the same
    * key with `rightTs <= leftTs` (nulls when none). Thin compatibility
    * wrapper over [[graft.ops.AsofJoin.asofJoin]] — the ONE as-of
    * implementation in the library (union + one key-partitioned window;
    * see its scaladoc for the scale shape) — adding this signature's
    * conveniences: timestamps are cast to `timestamp`, right columns come
    * back `prefix`ed, and `rightTiebreak` resolves equal-(key, ts) right
    * rows (greatest wins; a NULL tiebreak loses to any non-null — Spark's
    * nulls-first ordering, which is also the only defensible reading of
    * "greatest").
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTs: String, rightTs: String, rightCols: Seq[String],
               rightTiebreak: String, prefix: String = "asof_"): DataFrame = {
    val rcols = (rightCols :+ rightTiebreak).distinct
    val rPref = right.select(
      (keys.map(col) :+ col(rightTs).cast("timestamp").as("__asof_rts")) ++
        rcols.map(c => col(c).as(prefix + c)): _*)
    val lCast = left.withColumn("__asof_lts", col(leftTs).cast("timestamp"))
    AsofJoin.asofJoin(lCast, rPref, keys, "__asof_lts", "__asof_rts",
        rightCols = rcols.map(prefix + _),
        rightOrder = Seq(prefix + rightTiebreak))
      .select(left.columns.map(col) ++ rightCols.map(c => col(prefix + c)): _*)
  }

  /** Range join: points joined to intervals containing them
    * (`start <= ts < end`), without an equi key. A naive inequality join
    * degenerates to broadcast-nested-loop at scale; the scalable pattern
    * bucketizes time into `bucketSeconds` cells, emits one copy of each
    * interval per covered bucket, equi-joins on the bucket id (hash
    * shuffle), and post-filters the exact predicate. A point lies in
    * exactly one bucket, so no dedup is needed; amplification is bounded
    * by interval-length / bucketSeconds + 1 copies per interval.
    */
  def rangeJoin(points: DataFrame, pointTs: String,
                ranges: DataFrame, startCol: String, endCol: String,
                bucketSeconds: Long): DataFrame = {
    val b = lit(bucketSeconds)
    def bucketOf(ts: Column): Column = {
      val s = unix_timestamp(ts)
      ((s - pmod(s, b)) / b).cast(LongType) // exact: numerator is a multiple of b
    }
    val rBuckets = ranges.withColumn("__bucket",
      explode(sequence(bucketOf(col(startCol)), bucketOf(col(endCol)))))
    val pBuckets = points.withColumn("__bucket", bucketOf(col(pointTs)))
    pBuckets.join(rBuckets, Seq("__bucket"))
      .filter(col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__bucket")
  }

  /** Deterministic content-addressed sampling: keep a row when
    * hash(key) mod `denom` < `keep`. Unlike RNG-seeded `sample`, the
    * decision is a pure function of the key — reproducible across runs,
    * engines, partitionings, and retries, which is what a training-data
    * pipeline needs for stable corpus subsets (and what makes it
    * oracle-checkable). Uses the engine's portable rolling hash.
    */
  def hashSample(df: DataFrame, keyCol: String, keep: Int, denom: Int = 100): DataFrame =
    // Raw-fold mod is uniform only while denom ≪ 31^(len(key)−1) (the
    // hash's magnitude): mod 100/10000 of ≥2/≥3-char keys wraps many
    // times and sequential keys cycle the residues. A denom that can
    // EXCEED the fold's magnitude (q137's 1e6 over short numeric ids —
    // mod became the identity and everything was kept) must go through
    // the affine mix instead; see [[weightedSample]].
    df.filter(pmod(graft.dedup.Dedup.charHash(col(keyCol).cast("string")), lit(denom.toLong)) < keep)

  /** Stratified deterministic sampling: per-stratum keep rates over the
    * same portable key hash as [[hashSample]] — the training-mix knob
    * (e.g. downsample dominant languages, keep all of rare ones). Rows in
    * strata absent from `rates` keep `defaultKeep`/denom. One codegen'd
    * filter, no shuffle, reproducible across runs and engines.
    */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
                           rates: Map[String, Int], defaultKeep: Int = 0,
                           denom: Int = 100): DataFrame = {
    val h = pmod(graft.dedup.Dedup.charHash(col(keyCol).cast("string")), lit(denom.toLong))
    val keep = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultKeep)) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(rate)).otherwise(acc)
    }
    df.filter(h < keep)
  }

  /** Exact-N balanced downsample: every stratum contributes EXACTLY
    * `min(stratum count)` rows — the "equalize the training mix" knob
    * when proportional rates ([[stratifiedHashSample]]) aren't enough.
    * Selection is deterministic: the keys with the largest portable hash
    * win, ties to the smaller key — reproducible across runs, engines,
    * and partitionings, no RNG.
    *
    * Scale shape: the floor count is one strata-sized aggregate (driver
    * holds one scalar); selection is [[rangeRank]] over (hash desc, key
    * asc) — rank ≤ n_min keeps exactly the winners at range-partition
    * parallelism with NO per-task buffer proportional to n_min. (The
    * k-bounded top-k AGGREGATOR this used through round 6 is the right
    * shape for small k — q80's per-group top-25 — but buffers k entries
    * per map task, which at a balanced-corpus n_min of millions per
    * stratum is the wrong regime: the sf1.0 leg measured it superlinear,
    * 12× time at 10× rows.)
    *
    * Returns (stratum, key) pairs; join back on the key for payloads.
    */
  def balancedSample(df: DataFrame, stratumCol: String, keyCol: String): DataFrame = {
    val nMin = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .agg(min(col("n"))).head().getLong(0)
    // Affine-mixed hash, not the raw fold: charHash is monotone in the
    // key for same-length numeric ids, so "largest hash wins" would
    // systematically pick the LARGEST (newest) ids per stratum — a
    // time-correlated subset masquerading as an arbitrary one. The
    // (A·h + B) mod P mix (same spread as weightedSample, r11)
    // decorrelates rank from key order; selection stays a pure function
    // of the key.
    val hashed = df.select(col(stratumCol).as("stratum"),
      graft.dedup.Dedup.seeded(
        graft.dedup.Dedup.charHash(col(keyCol).cast("string")), 0).as("h"),
      col(keyCol).as("k"))
    rangeRank(hashed, Seq("stratum"), Seq(col("h").desc, col("k").asc), "__rr")
      .filter(col("__rr") <= nMin)
      .select(col("stratum"), col("k").as(keyCol))
  }

  /** EXACT distributed per-stratum rank — the order-statistics primitive
    * that replaces both the partitioned window sort (parallelism capped
    * at the number of strata: ntile by language = 2-way parallel forever)
    * and the k-bounded top-k aggregate (per-task buffers of k entries:
    * dies when k is "a billion rows per stratum"). Neither survives a
    * 1000-executor corpus; this does, as [[rangePrefixSums]] of a unit
    * LONG weight:
    *
    *  1. range-repartition on (strata ++ order) — a distributed sort
    *     whose parallelism is the PARTITION count, with each stratum
    *     occupying a contiguous partition span (equal keys co-located);
    *  2. one tiny aggregation: rows per (partition, stratum) — a
    *     P × strata histogram collected to the driver (bounded artifact,
    *     like a centroid table);
    *  3. a per-partition counter pass: each row's rank = its partition's
    *     per-stratum offset + local position. One extra column (`rankCol`),
    *     no per-row state beyond a long.
    *
    * Ranks are 1-based, dense within a stratum, and EXACTLY the rank the
    * window form would produce (ties impossible when `order` ends in a
    * unique column — require that, as window determinism does too). The
    * state is pinned (`localCheckpoint`) so the histogram pass and the
    * rank pass see the identical partitioning.
    *
    * NOTE: `repartitionByRange` samples its input to place boundaries,
    * so the input plan evaluates twice (sample + sort). If the order
    * columns are expensive to compute (a quality score over text),
    * project narrow and `localCheckpoint` BEFORE calling — q119 does.
    */
  def rangeRank(df: DataFrame, strata: Seq[String], order: Seq[Column],
                rankCol: String = "rank",
                numPartitions: Int = 0): DataFrame = {
    val unit = "__rank_unit"
    rangePrefixSums(df.withColumn(unit, lit(1L)), strata, order, Seq(unit),
        numPartitions)
      .drop(unit)
      .withColumnRenamed(unit + "_cum", rankCol)
  }

  /** Running (inclusive) per-stratum prefix SUMS of the long columns in
    * `weights` along `order` — [[rangeRank]] generalized from counting
    * rows to accumulating measures (rangeRank IS this over a unit weight),
    * in the same three steps (range repartition → P × strata mass
    * histogram to the driver → per-partition accumulator pass). Output
    * adds one `<w>_cum` long column per weight.
    *
    * This is the distributed-CDF primitive: group the data by the order
    * key first (so the input here is one row per distinct key with
    * per-key masses), prefix-sum those masses, and any rank / quantile /
    * KS-style statistic falls out WITHOUT a single-partition window —
    * `sum(w) OVER (ORDER BY v)` with no PARTITION BY collapses to one
    * task at any scale, which is exactly the shape this replaces.
    *
    * Same caveats as [[rangeRank]]: order must be total (end in a unique
    * column — after a groupBy(key) the key itself is), and
    * repartitionByRange double-evaluates the input (localCheckpoint
    * expensive upstreams first).
    */
  def rangePrefixSums(df: DataFrame, strata: Seq[String], order: Seq[Column],
                      weights: Seq[String],
                      numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructField
    require(weights.nonEmpty, "rangePrefixSums needs at least one weight column")
    weights.foreach { w =>
      require(df.schema(w).dataType == LongType,
        s"weight column $w must be LONG, got ${df.schema(w).dataType.catalogString}")
    }
    val spark = df.sparkSession
    // Adaptive width (r17): the per-row accumulator pass below runs at
    // ~µs/row, so ~512 KB of narrow rows per task keeps every task's
    // real work above its fixed cost; a grouped KB-scale input then runs
    // width 1, where repartitionByRange(1, ...) plans NO sampling job
    // and the offsets histogram below is skippable — two driver jobs
    // gone per call. Real corpora still derive the full session width
    // (the estimate is the optimizer's own, the same one AQE seeds from).
    val nPart =
      if (numPartitions > 0) numPartitions
      else adaptiveWidth(df, targetBytesPerTask = 512L << 10)
    val sortCols = strata.map(col) ++ order
    val sorted = df.repartitionByRange(nPart, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint()
    val sIdx = strata.map(df.schema.fieldIndex)
    val wIdx = weights.map(df.schema.fieldIndex).toArray
    def strataKey(r: Row): Seq[Any] = sIdx.map(r.get)
    // P × strata per-weight mass histogram (tiny, the rangeRank artifact
    // class): partition p starts stratum s at the mass in partitions < p.
    val offsets: Map[(Int, Seq[Any]), Array[Long]] = if (nPart <= 1) Map.empty else {
      val hist = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap[Seq[Any], Array[Long]]()
        it.foreach { r =>
          val acc = m.getOrElseUpdate(strataKey(r), new Array[Long](wIdx.length))
          var i = 0
          while (i < wIdx.length) { acc(i) += r.getLong(wIdx(i)); i += 1 }
        }
        m.iterator.map { case (k, a) => (pid, k, a) }
      }.collect()
      val byStratum = hist.groupBy(_._2)
      (for {
        (k, rows) <- byStratum.iterator
        sortedRows = rows.sortBy(_._1)
        (cum, (pid, _, _)) <- sortedRows
          .scanLeft(new Array[Long](wIdx.length)) { (acc, r) =>
            val next = acc.clone()
            var i = 0
            while (i < next.length) { next(i) += r._3(i); i += 1 }
            next
          }.zip(sortedRows)
      } yield (pid, k) -> cum).toMap
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields ++
        weights.map(w => StructField(w + "_cum", LongType, nullable = false)))
    implicit val enc = Encoders.row(outSchema)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val counters = scala.collection.mutable.HashMap[Seq[Any], Array[Long]]()
      it.map { r =>
        val k = strataKey(r)
        val acc = counters.getOrElseUpdate(k,
          offsets.getOrElse((pid, k), new Array[Long](wIdx.length)).clone())
        var i = 0
        while (i < wIdx.length) { acc(i) += r.getLong(wIdx(i)); i += 1 }
        // clone before wrapping: the Row must not alias the live accumulator
        Row.fromSeq(r.toSeq ++ acc.clone().toSeq)
      }
    }(enc)
  }

  /** Exact ntile over [[rangeRank]] — identical bucket assignment to
    * `ntile(n).over(Window.partitionBy(strata).orderBy(order))` (spec- and
    * oracle-pinned), at range-partition parallelism instead of
    * one-sort-per-stratum. Standard ntile fill: with per-stratum total
    * N = q·n + r, buckets 1..r hold q+1 rows, the rest q.
    */
  def distributedNtile(df: DataFrame, strata: Seq[String], order: Seq[Column],
                       n: Int, binCol: String = "bin"): DataFrame = {
    require(n > 0, "ntile bucket count must be positive")
    val ranked = rangeRank(df, strata, order, rankCol = "__rr")
    // totals per stratum via a broadcast-joined aggregate (strata-sized),
    // not a window (which would re-sort what rangeRank already ordered)
    val totals = ranked.groupBy(strata.map(col): _*)
      .agg(count(lit(1)).as("__n"))
    // Integer floor-div on positive operands. IntegralDivide (`div`), not
    // floor(double/double): a double quotient is exact only below 2^53,
    // and a rank is exactly the kind of value that outgrows that.
    def idiv(a: Column, b: Column): Column =
      call_function("div", a.cast(LongType), b.cast(LongType))
    val q = idiv(col("__n"), lit(n.toLong))
    val r = col("__n") % n
    val bs1 = q + lit(1L)
    val bin = when(col("__rr") <= r * bs1, idiv(col("__rr") - 1, bs1) + 1)
      .otherwise(when(q === 0, col("__rr")) // N < n: rank IS the bucket
        .otherwise(r + idiv(col("__rr") - 1 - r * bs1, q) + 1))
    ranked.join(broadcast(totals), strata)
      .withColumn(binCol, bin.cast("int"))
      .drop("__rr", "__n")
  }

  /** Temperature-smoothed mixture resampling — the α=0.5 data-mix knob
    * (multilingual-LM tradition: upweight rare sources, damp dominant
    * ones, without the hard equalization of [[balancedSample]]). Each
    * stratum's target is the GEOMETRIC interpolation between its natural
    * count and the equal share `e = N/k`:
    * `rate_s = min(1, sqrt(e / n_s))` — strata below the equal share keep
    * everything, larger strata keep `√(e/n_s)` of their rows.
    *
    * Determinism & oracle-safety: every float op is per-stratum
    * (int/int division, one IEEE-exact sqrt, one floor to basis points) —
    * no cross-stratum float sum whose order could differ between engines.
    * Selection = portable char_hash mod `denomBp` vs the stratum's rate,
    * the same keyed coin as [[stratifiedHashSample]].
    *
    * Scale shape: one strata-sized aggregate (broadcast back), then a
    * scan-local filter — no shuffle of the data itself.
    */
  def temperatureSample(df: DataFrame, stratumCol: String, keyCol: String,
                        denomBp: Int = 10000): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("n_s"))
    val totals = counts.agg(sum(col("n_s")).as("n_total"),
      count(lit(1)).as("k_strata"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col(stratumCol),
        floor(least(lit(1.0),
          sqrt((col("n_total").cast("double") / col("k_strata")) / col("n_s")))
          * lit(denomBp.toDouble)).cast("long").as("rate_bp"))
    // denomBp = 10000 stays well under the fold's magnitude for ≥3-char
    // keys (see the [[hashSample]] note; larger denominators need the
    // weightedSample affine mix).
    val h = pmod(graft.dedup.Dedup.charHash(col(keyCol).cast("string")),
      lit(denomBp.toLong))
    df.join(broadcast(rates), Seq(stratumCol)).filter(h < col("rate_bp"))
  }

  /** Weight-proportional deterministic sampling — the quality-weighted
    * corpus-mixing knob (keep probability ∝ a per-row weight, e.g. docs
    * sampled by quality score so high-quality text is over-represented
    * without a hard cutoff): keep a row iff
    * `mix(hash(key)) mod denom < clamp(weight, 0, denom)`, so P(keep) is
    * weight/denom under the mixed portable hash. Scan-local — no
    * shuffle, no state, reproducible at any partitioning, and
    * engine-portable (the oracle replays the identical fold), unlike
    * `rand()`-based sampling which is neither.
    *
    * The affine mix `(A·h + B) mod P` (Dedup.seeded's constants) is
    * load-bearing: the raw char-fold of a SHORT key is small — e.g.
    * charHash("999") ≈ 56k — so `charHash mod 1e6` is biased toward 0
    * and a corpus with compact numeric ids keeps (nearly) EVERYTHING
    * regardless of weight. Round 11's q251 calibration audit caught
    * exactly that live (n_kept = n_docs at sf0.01, 6σ flag red);
    * multiplying by a large constant mod the prime spreads any distinct
    * inputs across the field before the mod-denom cut.
    */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     denom: Long = 1000000L): DataFrame = {
    require(denom > 0, "denom must be positive")
    val h = pmod(graft.dedup.Dedup.seeded(
      graft.dedup.Dedup.charHash(col(keyCol).cast("string")), 0), lit(denom))
    df.filter(h < least(greatest(weight.cast("long"), lit(0L)), lit(denom)))
  }

  /** Mergeable distinct-count rollup (A6 at warehouse scale): per-group
    * HLL sketches materialized as a TABLE, so coarser rollups merge the
    * sketches instead of rescanning the fact data — the only way
    * `COUNT(DISTINCT)` composes incrementally (a new day's partition adds
    * one sketch row; the all-time estimate is a union over sketch rows,
    * O(groups), not O(events)). Estimates are Datasketches HLL (Spark
    * built-ins), mergeable losslessly across any grouping.
    */
  def distinctSketches(df: DataFrame, groupCols: Seq[String],
                       keyCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol)).as("sketch"))

  /** Merge sketch rows up to a coarser grouping and estimate. */
  def sketchRollup(sketches: DataFrame, groupCols: Seq[String]): DataFrame = {
    val merged = hll_sketch_estimate(hll_union_agg(col("sketch")))
      .as("n_distinct")
    if (groupCols.isEmpty) sketches.agg(merged)
    else sketches.groupBy(groupCols.map(col): _*).agg(merged)
  }

  /** One-pass column profile: per column, row/null/distinct counts and
    * min/max (stringified for a uniform shape) — the data-quality sweep a
    * corpus pipeline runs before training prep. One aggregate job over
    * the table (the exact multi-distinct uses Spark's Expand, ×|cols|
    * map-side amplification — at extreme widths swap `count_distinct` for
    * `approx_count_distinct`, same shape); the one-row result is then
    * fanned out to a row per column driver-side (bytes, not data).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val aggCols = count(lit(1)).as("__n") +: cols.flatMap { c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nulls_$c"),
      count_distinct(col(c)).as(s"__dist_$c"),
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c")) }
    // single tiny row, checkpointed so the per-column fan-out below does
    // not replay the aggregate once per branch
    val row = df.agg(aggCols.head, aggCols.tail: _*).localCheckpoint()
    cols.map { c =>
      row.select(lit(c).as("column"), col("__n").as("n_rows"),
        col(s"__nulls_$c").as("n_nulls"), col(s"__dist_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"), col(s"__max_$c").as("max_value"))
    }.reduce(_ unionAll _).orderBy(col("column"))
  }

  /** Hot-key detection for [[saltedJoin]]: a seeded sample of the fact
    * key column, counted per key; keys whose sampled count implies
    * ≥ `hotThreshold` fact rows are returned with their ESTIMATED
    * fact-row count (sampled count scaled back by the sample fraction —
    * what [[saltedJoin]] sizes each hot key's salt fan-out from), largest
    * first, capped at `cap` (a bounded driver artifact, like a centroid
    * table). The seed makes the plan deterministic; the CAP makes the
    * literal list safe to inline into a codegen'd `isin`. Detection errors
    * are harmless to CORRECTNESS — the join result is identical for ANY
    * hot set — they only move keys between the salted and plain paths.
    */
  def hotKeyCounts(fact: DataFrame, key: String, hotThreshold: Long,
                   sampleFraction: Double = 0.01,
                   cap: Int = 1024): Array[(Any, Long)] = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    val minSampled = math.max(1L, math.ceil(hotThreshold * sampleFraction).toLong)
    fact.select(col(key).as("__k"))
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      .groupBy(col("__k")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSampled && col("__k").isNotNull)
      .orderBy(col("__n").desc, col("__k").asc)
      .limit(cap)
      .collect()
      .map(r => r.get(0) -> math.ceil(r.getLong(1) / sampleFraction).toLong)
  }

  /** Skew-safe fact⋈dim equi-join via TARGETED key salting: hot fact
    * keys (auto-detected by [[hotKeyCounts]] from a seeded sample) carry
    * a row-hash salt — rows of one hot key spread across that key's salt
    * fan-out — and the dim side replicates ONLY its hot-key rows, each
    * to exactly its key's fan-out (≤ cap·maxSalt extra rows, a bounded
    * artifact). The fan-out is PER KEY and PROPORTIONAL: a key estimated
    * at `est` fact rows gets ceil(est / (hotThreshold/2)) shards —
    * shards of about half the caller's declared too-hot size — floored
    * at the `salt` parameter, so a 10×-over-threshold key spreads 10×
    * wider than a barely-hot one instead of both getting one fixed
    * width (the r14 SKEW rehearsal showed fixed salt=8 leaves the hot
    * reducer 2× over median). Shards are assigned by a hashed row id,
    * not `spark_partition_id % salt` — the partition-id form is lumpy
    * whenever the input partition count is not a multiple of the salt.
    * Cold keys join exactly as a plain join (salt 0, no replication);
    * with no hot keys detected the operator RETURNS the plain join —
    * broadcastable, no added columns. Result is exactly the plain inner
    * join for ANY detected hot set (the split is a partition of fact
    * rows, each side joined on an equivalent key).
    *
    * POSITIONING (measured, SKEW_r14/r15.md): AQE's runtime skew-join
    * split beats this operator on sort-merge shapes — it sees exact
    * post-shuffle sizes and pays no detection pass (1.9 s vs 4.6 s on
    * the planted-Zipf leg). Reach for saltedJoin only where AQE's split
    * cannot go: AQE disabled, stream-batch joins, or skew known ahead
    * of time so the sample pass can be skipped by passing explicit
    * keys. SCALE.md §skew records the decision rule.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, factKey: String,
                 dimKey: String, salt: Int = 8,
                 hotThreshold: Long = 1000000L,
                 sampleFraction: Double = 0.01,
                 hotKeyCap: Int = 1024): DataFrame = {
    require(salt > 0, s"salt must be positive, got $salt")
    val hot = hotKeyCounts(fact, factKey, hotThreshold, sampleFraction, hotKeyCap)
    if (hot.isEmpty) return fact.join(dim, fact(factKey) === dim(dimKey))
    val spark = fact.sparkSession
    val target = math.max(1L, hotThreshold / 2)
    val hotSchema = StructType(Seq(
      StructField("__hk", fact.schema(factKey).dataType),
      StructField("__ns", LongType, nullable = false)))
    val hotRows: java.util.List[Row] = java.util.Arrays.asList(hot.map {
      case (k, est) => Row(k, math.max(salt.toLong, (est + target - 1) / target))
    }: _*)
    val hotDf = broadcast(spark.createDataFrame(hotRows, hotSchema))

    // The salt MUST be a deterministic function of the row: the salted key
    // feeds a shuffle, and under fetch-failure retry Spark recomputes map
    // tasks — a nondeterministic salt (rand/monotonic id) can assign the
    // same logical row to different reducers across attempts, duplicating
    // or dropping it (indeterminate-stage rollback does not reliably cover
    // nondeterministic projections). Hash ALL fact columns instead:
    // identical duplicate rows land on one shard, which only matters if a
    // hot key's rows are near-all byte-identical — then no row-level salt
    // can separate them anyway.
    val factCols = fact.columns.map(fact(_))
    val sf = fact.join(hotDf, fact(factKey) === hotDf("__hk"), "left")
      .withColumn("__salt", when(col("__ns").isNull, lit(0L))
        .otherwise(pmod(xxhash64(factCols: _*), col("__ns"))))
      .drop("__hk", "__ns")
    val sd = dim.join(hotDf, dim(dimKey) === hotDf("__hk"), "left")
      .withColumn("__salt", explode(when(col("__ns").isNull, array(lit(0L)))
        .otherwise(sequence(lit(0L), col("__ns") - 1))))
      .drop("__hk", "__ns")
    sf.join(sd, sf(factKey) === sd(dimKey) && sf("__salt") === sd("__salt"))
      .drop("__salt")
  }

  /** 15-minute (or any) tumbling-window bucket over an event-time column —
    * the reference's micro-batch cadence (`terraform/main.tf:200-205`)
    * re-expressed as a groupable epoch bucket. Plain long arithmetic so the
    * same expression exists in ANSI SQL (`epoch // width`).
    */
  def tumblingBucket(ts: Column, widthSeconds: Long): Column = {
    val secs = unix_timestamp(ts)
    secs - pmod(secs, lit(widthSeconds))
  }

  /** Token-budget waterfilling across domains — the data-mixture
    * allocator: give every key its fair share of a
    * `total · budgetNum / budgetDen` budget, capped at what it has
    * (small domains keep everything; the surplus waterfalls to the rest
    * at one common level L with Σ min(cᵢ, L) ≤ B). Integer arithmetic
    * end to end (truncating division, mirrored by any SQL engine), so
    * the result is exact and portable.
    *
    * In: one row per key with its count. Out: (key, c, alloc). Scale
    * shape (r17): the input is one row per DOMAIN (the data-sized count
    * pass happens upstream as a partial agg), but a domain column can be
    * 100 M keys (urls, users) — so the prefix sums ride
    * [[rangePrefixSums]] (one range exchange + the P×1 boundary
    * histogram) instead of an unpartitioned window, which would collapse
    * to ONE task at any scale (the hazard the eval family's SCALE.md §3b
    * rule exists for). The global scalars (row count, total mass, cutoff
    * row) are each a partial-aggregated 1-row frame broadcast back —
    * nothing driver-sized but those single rows. The cutoff row is the
    * first (ascending by count) whose candidate level `(B − prefix) div
    * slots-left` fits under its own count; rows below keep everything,
    * rows at and above get the cutoff level.
    */
  def waterfill(counts: DataFrame, keyCol: String, countCol: String,
                budgetNum: Long = 1L, budgetDen: Long = 2L): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget fraction must be positive")
    require(keyCol != "c" && keyCol != "alloc",
      s"waterfill emits columns (${keyCol}, c, alloc); a key named c/alloc " +
        "would collide — rename it first")
    val base = counts
      .select(col(keyCol).as("k"), col(countCol).cast(LongType).as("c"))
      .withColumn("one", lit(1L))
    // i = 1-based rank along (c, k) (prefix sum of the unit column),
    // pre = inclusive prefix sum of c — both from ONE range exchange
    val pref = rangePrefixSums(base, Seq.empty, Seq(col("c"), col("k")),
        Seq("c", "one"))
      .withColumnRenamed("c_cum", "pre").withColumnRenamed("one_cum", "i")
    // global scalars: k rows -> 1 row (partial agg), broadcast back
    val totals = base.agg(count(lit(1)).as("kk"),
      expr(s"(sum(c) * $budgetNum) div $budgetDen").as("b"))
    val li = pref.crossJoin(broadcast(totals))
      .withColumn("li", expr("(b - (pre - c)) div (kk - i + 1)"))
    // cutoff: first rank whose candidate level fits under its own count
    // (empty filter -> one all-NULL row, the "budget covers everything"
    // branch below). min_by is safe: i is unique by construction.
    val cut = li.filter(col("li") <= col("c"))
      .agg(min(col("i")).as("istar"), min_by(col("li"), col("i")).as("lvl"))
    li.crossJoin(broadcast(cut))
      .withColumn("alloc",
        when(col("istar").isNull || col("i") < col("istar"), col("c"))
          .otherwise(col("lvl")))
      .select(col("k").as(keyCol), col("c"), col("alloc"))
  }

  /** Per-group OLS line fit from EXACT integer sums — the trend/drift
    * regression behind monitoring ("is value drifting per event type"):
    * slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) evaluated entirely in
    * integer arithmetic (DECIMAL(38,0) sums — Σx² wraps a 64-bit long
    * around n=1e4 at x≈2e9 — and one truncating division at the end), so
    * unlike a float-sum regression the result is independent of
    * partition boundaries and an oracle replays it exactly. This is
    * q128's moments trick extended from variance to covariance.
    *
    * Scale shape: one partial-aggregable hash aggregate (five sums), one
    * bounded row per group after it. Degenerate groups (all x equal)
    * yield NULL slope/intercept rather than a division error.
    *
    * @param x integer regressor (e.g. epoch seconds); @param y integer
    * response (e.g. cents). @return (keyCol, n, slope_nano, intercept) —
    * slope in nano-y-units per x-unit, intercept in y-units.
    */
  def linearTrend(df: DataFrame, keyCol: String, x: Column, y: Column): DataFrame = {
    require(!Seq("n", "sx", "sy", "sxy", "sxx", "num", "den",
      "slope_nano", "intercept").contains(keyCol),
      s"linearTrend reserves column name '$keyCol' — rename the key first")
    df.select(col(keyCol), x.cast(LongType).as("x"), y.cast(LongType).as("y"))
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .withColumn("num", expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den", expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("slope_nano", when(col("den") === 0, lit(null))
        .otherwise(expr("CAST((num * 1000000000) div den AS BIGINT)")))
      .withColumn("intercept", when(col("den") === 0, lit(null))
        .otherwise(expr(
          """CAST((CAST(sy AS DECIMAL(38,0)) * 1000000000
            | - CAST(slope_nano AS DECIMAL(38,0)) * sx)
            | div (CAST(n AS DECIMAL(38,0)) * 1000000000) AS BIGINT)""".stripMargin)))
      .select(col(keyCol), col("n"), col("slope_nano"), col("intercept"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) — the standard
    * hybrid-retrieval combiner: each ranked list contributes
    * 1/(kRrf + rank) per result; fused score = the sum across lists.
    * Computed as `1e6 div (kRrf + rank)` integer micros, so fused scores
    * and ranks are exact on any engine. A result absent from a list
    * simply gets no contribution from it — RRF needs no score
    * calibration between retrievers, which is why it beats weighted-sum
    * fusion across heterogeneous scorers (BM25 ⊕ dense ANN).
    *
    * Scale shape: inputs are already per-query top-N (bounded); union +
    * one partial-aggregable sum keyed (query, id) + the k-bounded
    * partial top-k. Nothing here touches the corpus.
    *
    * @param rankings each (query_id, rank, id), rank 1-based.
    * @return (query_id, rank, id, rrf_micros), rank 1..k by
    *         (rrf desc, id asc).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(kRrf >= 0, "kRrf must be non-negative")
    import graft.functions.TopKAgg
    val contribs = rankings.map(_.select(col("query_id"), col("id"),
      expr(s"1000000 div ($kRrf + rank)").as("contrib")))
    contribs.reduce(_ unionByName _)
      .groupBy(col("query_id"), col("id"))
      .agg(sum(col("contrib")).as("rrf_micros"))
      .groupBy(col("query_id"))
      .agg(TopKAgg.topK(k, col("rrf_micros"), col("id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("id"), col("col.v").as("rrf_micros"))
  }

  /** Per-column RUN counts (adjacent-value-change count + 1) under the
    * total `order` — the RLE-viability statistic, computed the way a
    * 100 TB scan must: ONE range exchange, then runs are counted
    * scan-locally per partition, and only a P × |cols| boundary artifact
    * (each partition's first/last value per column) reaches the driver
    * to stitch the cross-partition seams. Replaces the rank + rank+1
    * self-join formulation, which shuffled ~6× the table (rank pass +
    * exploded long format through a sort-merge join) for the same
    * number.
    *
    * `order` must be total for the count to be well-defined (same
    * contract as [[rangeRank]] — end it in columns that break all
    * ties); rows equal under `order` are interchangeable, so any
    * remaining ties must be exact duplicates of the audited columns.
    * Returns runs per column name; 0 for an empty input.
    */
  def orderedRuns(df: DataFrame, order: Seq[Column],
                  valueCols: Seq[String],
                  numPartitions: Int = 0): Map[String, Long] = {
    val spark = df.sparkSession
    val nPart =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // Audited columns ONLY reach the runs pass (the order columns stay in
    // the frame for the sort and are projected away above it — same
    // stage), and the pass iterates INTERNAL rows: `.rdd` forced a full
    // external-Row conversion per row (every column boxed through the
    // catalyst deserializer — guide §1.4's df.rdd caveat), measured as
    // the dominant stage of the q289 audit. Values are copied out of the
    // reused row buffer only at run BOUNDARIES (and partition edges),
    // which are rare by definition on RLE-viable data.
    val sorted = df.repartitionByRange(nPart, order: _*)
      .sortWithinPartitions(order: _*)
      .select(valueCols.map(col): _*)
    val types = valueCols.map(c => df.schema(c).dataType).toArray
    require(types.forall {
      case _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }, s"orderedRuns audits atomic columns only, got ${types.mkString(", ")}")
    def cp(v: Any): Any = v match {
      case u: org.apache.spark.unsafe.types.UTF8String => u.copy()
      case x => x
    }
    // (pid, rows, within-partition boundaries per col, first/last per col)
    val stats = sorted.queryExecution.toRdd.mapPartitionsWithIndex { (pid, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val k = types.length
        val first = new Array[Any](k)
        val prev = new Array[Any](k)
        val bnd = new Array[Long](k)
        var n = 0L
        it.foreach { r =>
          var i = 0
          if (n == 0L) while (i < k) {
            first(i) = cp(r.get(i, types(i))); prev(i) = first(i); i += 1
          }
          else while (i < k) {
            val v = r.get(i, types(i))
            if (v != prev(i)) { bnd(i) += 1; prev(i) = cp(v) }
            i += 1
          }
          n += 1
        }
        Iterator.single((pid, n, bnd, first.toSeq, prev.toSeq))
      }
    }.collect().sortBy(_._1)
    valueCols.indices.map { i =>
      val within = stats.map(_._3(i)).sum
      val cross = stats.sliding(2).count {
        case Array(a, b) => b._4(i) != a._5(i)
        case _ => false
      }
      valueCols(i) ->
        (if (stats.isEmpty) 0L else within + cross + 1L)
    }.toMap
  }

  /** Exact integer square root ⌊√x⌋ of a non-negative DECIMAL column,
    * engine-independent: a float sqrt seeds w0, then an integer correction
    * picks the max k ∈ [w0−2, w0+2] with k·k ≤ x, the square evaluated in
    * DECIMAL. This removes the int→double cast from the correctness path —
    * engines round that cast differently above 2^53 (DuckDB's
    * HUGEINT→DOUBLE is double-rounded above 2^64), where a bare
    * floor(sqrt(double)) can differ by 1 across engines. Exact while the
    * seed lands within ±2 of the root: |err| ≤ √x·(εcast + εsqrt/2) ≈
    * √x·1.7e−16 < 2 ⇔ x < ~1e32 (root < 1e16). Returns LongType.
    */
  def exactIsqrt(x: Column): Column = {
    val dec = (c: Column) => c.cast("decimal(19,0)")
    val w0 = floor(sqrt(x.cast("double"))).cast(LongType)
    // Out-of-envelope inputs (x ≳ 1e32, or a negative x breaking the
    // contract) fail LOUDLY like the repo's other BOUNDS violations —
    // previously the coalesce fell through to NULL and the wrong-by-
    // silence value propagated (ADVICE r13). NULL input stays NULL.
    coalesce((2 to -2 by -1).map { d =>
      val k = w0 + d
      when(k >= 0 && dec(k) * dec(k) <= x, k)
    } :+ when(x.isNull, lit(null).cast(LongType)).otherwise(raise_error(
      concat(lit("exactIsqrt BOUNDS: float seed landed >2 from the true "
        + "root — input outside the non-negative ~1e32 envelope: "),
        x.cast("string")))): _*)
  }
}
