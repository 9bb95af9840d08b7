package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.expressions.CharHash
import graft.ops.CoreOps

class CoreOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("rangeRank matches the window row_number exactly, across strata and partitions") {
    // Deterministic multi-strata fixture spread over many range
    // partitions: ranks must equal row_number().over(partitionBy(s)
    // .orderBy(v, id)) bit for bit, including strata that straddle
    // partition boundaries.
    val df = (0L until 5000L).map { i =>
      (s"s${i % 3}", (i * 7919) % 1000, i)
    }.toDF("s", "v", "id")
    val expected = df.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"s")
          .orderBy($"v", $"id")).cast("long"))
      .select($"s", $"id", $"rank").as[(String, Long, Long)].collect().toSet
    val got = CoreOps.rangeRank(df, Seq("s"), Seq($"v", $"id"),
        numPartitions = 16)
      .select($"s", $"id", $"rank").as[(String, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("rangePrefixSums matches window running sums exactly, across strata and partitions") {
    // Two weight columns accumulated at once; per-stratum inclusive
    // running sums must equal sum(w).over(partitionBy(s).orderBy(v))
    // bit for bit — including strata straddling partition boundaries and
    // zero weights. Order ends in the unique v (post-groupBy shape).
    val df = (0L until 4000L).map { i =>
      (s"s${i % 3}", (i * 7919) % 100000, i % 5, (i * 13) % 7)
    }.toDF("s", "v", "wa", "wb")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"s").orderBy($"v")
    val expected = df
      .withColumn("wa_cum", sum($"wa").over(w))
      .withColumn("wb_cum", sum($"wb").over(w))
      .select($"s", $"v", $"wa_cum", $"wb_cum")
      .as[(String, Long, Long, Long)].collect().toSet
    val got = CoreOps.rangePrefixSums(df, Seq("s"), Seq($"v"),
        Seq("wa", "wb"), numPartitions = 16)
      .select($"s", $"v", $"wa_cum", $"wb_cum")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("distributedNtile matches window ntile exactly (incl. N < n and remainder fills)") {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"s").orderBy($"v", $"id")
    // strata sizes 7 (N < n=10), 100 (exact fill), 103 (remainder fill)
    val rows = (0L until 7L).map(i => ("tiny", i * 3 % 7, i)) ++
      (0L until 100L).map(i => ("even", i * 7919 % 97, i)) ++
      (0L until 103L).map(i => ("rem", i * 31 % 89, i))
    val df = rows.toDF("s", "v", "id")
    val expected = df.withColumn("bin", ntile(10).over(w))
      .select($"s", $"id", $"bin").as[(String, Long, Int)].collect().toSet
    val got = CoreOps.distributedNtile(df, Seq("s"), Seq($"v", $"id"), 10,
        binCol = "bin")
      .select($"s", $"id", $"bin").as[(String, Long, Int)].collect().toSet
    assert(got == expected)
  }

  test("balancedSample (rangeRank form) keeps exactly n_min per stratum, largest hash wins") {
    val df = ((0L until 40L).map(i => ("big", i)) ++
      (100L until 110L).map(i => ("small", i))).toDF("lang", "doc_id")
    val out = CoreOps.balancedSample(df, "lang", "doc_id")
      .groupBy($"stratum").count().as[(String, Long)].collect().toMap
    assert(out == Map("big" -> 10L, "small" -> 10L))
    // deterministic: two runs agree row for row
    val a = CoreOps.balancedSample(df, "lang", "doc_id")
      .as[(String, Long)].collect().toSet
    val b = CoreOps.balancedSample(df, "lang", "doc_id")
      .as[(String, Long)].collect().toSet
    assert(a == b)
  }

  test("timeWindowFilter keeps [start, end)") {
    val df = Seq("2023-01-01 00:00:00", "2023-01-01 00:10:00", "2023-01-01 00:15:00")
      .toDF("d").withColumn("ts", to_timestamp($"d"))
    val out = df.filter(CoreOps.timeWindowFilter($"ts",
      to_timestamp(lit("2023-01-01 00:00:00")), to_timestamp(lit("2023-01-01 00:15:00"))))
    assert(out.count() == 2)
  }

  test("lengthFilter caps every column") {
    val df = Seq(("ab", "x"), ("abcd", "y"), ("ab", "toolong")).toDF("a", "b")
    assert(df.filter(CoreOps.lengthFilter(3, $"a", $"b")).count() == 1)
  }

  test("containsAnyTerm is case-insensitive substring") {
    val df = Seq("Clean text", "has SPAMword inside", "fine").toDF("t")
    assert(df.filter(CoreOps.containsAnyTerm($"t", Seq("spamWORD"))).count() == 1)
  }

  test("nullifySentinels maps sentinels to null and keeps the rest") {
    val df = Seq("ok", "", "[deleted]", "None").toDF("c")
      .select(CoreOps.nullifySentinels(col("c"), Seq("", "[deleted]")).as("c"))
    assert(df.filter($"c".isNull).count() == 2)
    assert(df.filter($"c" === "None").count() == 1)
  }

  test("latestWins keeps exactly one row per key, the newest") {
    val df = Seq((1, 10, "old"), (1, 20, "new"), (2, 5, "only")).toDF("id", "ts", "v")
    val out = CoreOps.latestWins(df, Seq("id"), Seq(col("ts"))).orderBy("id")
    assert(out.collect().map(r => (r.getInt(0), r.getString(2))).toSeq ==
      Seq((1, "new"), (2, "only")))
  }

  test("latestWinsAgg (max_by) agrees with the window form") {
    val df = Seq((1, 10, "old"), (1, 20, "new"), (2, 5, "only"), (2, 5, "dup"))
      .toDF("id", "ts", "v").withColumn("seq", monotonically_increasing_id())
    val win = CoreOps.latestWins(df, Seq("id"), Seq(col("ts"), col("seq")))
      .select("id", "v").orderBy("id").collect().toSeq
    val agg = CoreOps.latestWinsAgg(df, Seq("id"), Seq(col("ts"), col("seq")))
      .select("id", "v").orderBy("id").collect().toSeq
    assert(win == agg)
  }

  test("latestWins is idempotent") {
    val df = Seq((1, 10), (1, 20), (2, 5)).toDF("id", "ts")
    val once = CoreOps.latestWins(df, Seq("id"), Seq(col("ts")))
    val twice = CoreOps.latestWins(once, Seq("id"), Seq(col("ts")))
    assert(once.orderBy("id").collect().toSeq == twice.orderBy("id").collect().toSeq)
  }

  test("topKPerGroup returns k rows per group in rank order") {
    val df = Seq(("a", 3), ("a", 1), ("a", 2), ("b", 9)).toDF("g", "v")
    val out = CoreOps.topKPerGroup(df, Seq("g"), Seq(col("v")), 2)
    assert(out.filter($"g" === "a").count() == 2)
    assert(out.filter($"g" === "a" && $"rk" === 1).head().getInt(1) == 3)
  }

  test("lagDelta computes per-key consecutive differences") {
    val df = Seq((1, 1, 10.0), (1, 2, 15.0), (1, 3, 12.0)).toDF("id", "t", "v")
    val out = CoreOps.lagDelta(df, Seq("id"), Seq(col("t")), col("v"), "d")
      .orderBy("t").select("d").collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getDouble(0) == 5.0 && out(2).getDouble(0) == -3.0)
  }

  test("sessionize splits on gaps > gapSeconds") {
    val df = Seq(
      (1L, "2023-01-01 00:00:00", 1L), (1L, "2023-01-01 00:10:00", 2L),
      (1L, "2023-01-01 02:00:00", 3L)).toDF("user_id", "d", "event_id")
      .withColumn("ts", to_timestamp($"d"))
    val out = CoreOps.sessionize(df, "user_id", "ts", 1800L)
    assert(out.agg(max("session_id")).head().getLong(0) == 2L)
  }

  test("asofJoin: <= semantics, no-match nulls, equal-ts tiebreak") {
    val left = Seq(
      (1, "2024-01-01 10:00:00", 100L), (1, "2024-01-01 12:00:00", 101L),
      (2, "2024-01-01 10:00:00", 200L)).toDF("k", "d", "lid")
      .withColumn("ts", to_timestamp($"d")).drop("d")
    val right = Seq(
      (1, "2024-01-01 09:00:00", 1L, 5.0), (1, "2024-01-01 11:00:00", 2L, 7.0),
      (1, "2024-01-01 11:00:00", 3L, 8.0), // equal-ts: greatest rid wins
      (1, "2024-01-01 12:00:00", 4L, 9.0), // exactly at left ts: visible
      (3, "2024-01-01 09:00:00", 9L, 1.0)).toDF("k", "d", "rid", "v")
      .withColumn("ts", to_timestamp($"d")).drop("d")
    val out = CoreOps.asofJoin(left, right, Seq("k"), "ts", "ts",
        rightCols = Seq("rid", "v"), rightTiebreak = "rid")
      .orderBy("lid").collect()
    assert(out(0).getLong(out(0).fieldIndex("asof_rid")) == 1L)   // 10:00 → 09:00 row
    assert(out(1).getLong(out(1).fieldIndex("asof_rid")) == 4L)   // 12:00 → equal-ts row
    assert(out(2).isNullAt(out(2).fieldIndex("asof_rid")))        // k=2: no match
  }

  test("cents is exact for 2-decimal doubles, also negative") {
    val df = Seq(1.23, -4.56, 0.0).toDF("v").agg(sum(CoreOps.cents(col("v"))))
    assert(df.head().getLong(0) == 123L - 456L + 0L)
  }

  test("tumblingBucket floors to the window start") {
    val df = Seq("2024-01-01 00:14:59", "2024-01-01 00:15:00").toDF("d")
      .select(CoreOps.tumblingBucket(to_timestamp($"d"), 900L).as("b"))
    val bs = df.collect().map(_.getLong(0))
    assert(bs(1) - bs(0) == 900L && bs(1) % 900 == 0)
  }

  test("stratifiedHashSample: per-stratum rates, default for unknown strata") {
    import graft.ops.CoreOps
    val df = (1L to 400L).map(i =>
      (i, Seq("en", "de", "xx")(((i % 3)).toInt))).toDF("id", "lang")
    val out = CoreOps.stratifiedHashSample(df, "id", "lang",
      rates = Map("en" -> 100, "de" -> 0), defaultKeep = 0)
    val langs = out.select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("en")) // de rate 0 and xx default 0 drop everything else
    // en stratum keeps every row at rate 100
    assert(out.count() == df.filter($"lang" === "en").count())
  }

  test("saltedJoin equals the plain join and exchanges on (key, salt)") {
    import graft.ops.CoreOps
    val fact = (1L to 3000L).map(i => (i, if (i % 10 == 0) 1L else i % 100))
      .toDF("row_id", "k").repartition(6)
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("dk", "name")
    // low threshold + full sample so the planted hot key (300 rows of
    // k=1) actually takes the salted path
    val salted = CoreOps.saltedJoin(fact, dim, "k", "dk", salt = 4,
        hotThreshold = 200L, sampleFraction = 1.0)
      .select("row_id", "k", "name")
    val plain = fact.join(dim, $"k" === $"dk").select("row_id", "k", "name")
    assert(salted.collect().toSet == plain.collect().toSet)
    salted.collect()
    val planStr = salted.queryExecution.executedPlan.toString
    val cut = planStr.indexOf("== Initial Plan ==")
    val finalPlan = if (cut >= 0) planStr.substring(0, cut) else planStr
    assert(finalPlan.contains("__salt"), "join key is not salted in the plan")
  }

  test("saltedJoin's plan is fully deterministic (retry-safe salt)") {
    import graft.ops.CoreOps
    // ADVICE r15 (medium): a nondeterministic salt (rand / monotonic id)
    // feeding the shuffle key can duplicate or drop rows under partial
    // stage retry on a real cluster. The salt must be a deterministic
    // row function — assert NO nondeterministic expression anywhere in
    // the analyzed plan, and that re-running yields identical output.
    val fact = (1L to 3000L).map(i => (i, if (i % 10 == 0) 1L else i % 100))
      .toDF("row_id", "k").repartition(6)
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("dk", "name")
    val salted = CoreOps.saltedJoin(fact, dim, "k", "dk", salt = 4,
      hotThreshold = 200L, sampleFraction = 1.0)
    val nondet = salted.queryExecution.analyzed.collect {
      case p => p.expressions.filterNot(_.deterministic)
    }.flatten
    assert(nondet.isEmpty,
      s"nondeterministic expressions in salted plan: ${nondet.mkString(", ")}")
    val out1 = salted.select("row_id", "k", "name").collect().toSeq
      .map(_.toString).sorted
    val out2 = salted.select("row_id", "k", "name").collect().toSeq
      .map(_.toString).sorted
    assert(out1 == out2)
  }

  test("hotKeys detects exactly the planted hot keys, hottest first") {
    import graft.ops.CoreOps
    // k=1 gets 300 rows, k=2 gets 250, everything else ≤ 30
    val fact = ((1L to 300L).map(_ => 1L) ++ (1L to 250L).map(_ => 2L) ++
      (1L to 3000L).map(i => 10L + i % 100)).toDF("k").repartition(6)
    val hot = CoreOps.hotKeyCounts(fact, "k", hotThreshold = 100L,
      sampleFraction = 1.0).map(_._1)
    assert(hot.toSeq == Seq(1L, 2L))
  }

  test("hotKeyCounts scales sampled counts back to fact-row estimates") {
    import graft.ops.CoreOps
    val fact = ((1L to 300L).map(_ => 1L) ++ (1L to 3000L).map(i => 10L + i % 100))
      .toDF("k").repartition(6)
    val hot = CoreOps.hotKeyCounts(fact, "k", hotThreshold = 100L,
      sampleFraction = 1.0)
    // full sample ⇒ the estimate is the exact count
    assert(hot.toSeq == Seq(1L -> 300L))
  }

  test("saltedJoin with no hot keys replicates nothing and still matches") {
    import graft.ops.CoreOps
    val fact = (1L to 1000L).map(i => (i, i % 100)).toDF("row_id", "k")
      .repartition(4)
    val dim = (0L until 100L).map(i => (i, s"d$i")).toDF("dk", "name")
    // default threshold: nothing in a uniform 10-rows-per-key fact is hot
    val salted = CoreOps.saltedJoin(fact, dim, "k", "dk", salt = 8)
      .select("row_id", "k", "name")
    val plain = fact.join(dim, $"k" === $"dk").select("row_id", "k", "name")
    assert(salted.collect().toSet == plain.collect().toSet)
    assert(CoreOps.hotKeyCounts(fact, "k", hotThreshold = 1000000L).isEmpty)
  }

  test("saltedJoin replicates only hot dim rows, bounded by cap x salt") {
    import graft.ops.CoreOps
    val fact = ((1L to 500L).map(_ => 1L) ++ (1L to 500L).map(i => i % 50))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("row_id", "k").repartition(4)
    val dim = (0L until 50L).map(i => (i, s"d$i")).toDF("dk", "name")
    val hot = CoreOps.hotKeyCounts(fact, "k", hotThreshold = 300L,
      sampleFraction = 1.0).map(_._1)
    assert(hot.toSeq == Seq(1L))
    // reconstruct the dim side the way saltedJoin builds it: one copy per
    // cold key, `salt` copies per hot key
    val salt = 4
    val sd = dim.withColumn("__salt",
      explode(when($"dk".isin(hot: _*),
        sequence(lit(0L), lit(salt.toLong - 1))).otherwise(array(lit(0L)))))
    assert(sd.count() == dim.count() + (salt - 1) * hot.length)
  }

  test("HLL sketch rollup: day sketches merge to the same estimate as a direct pass") {
    import graft.ops.CoreOps
    val df = (1L to 3000L)
      .map(i => (s"t${i % 3}", s"day${i % 5}", i % 100))
      .toDF("event_type", "day", "user_id").repartition(6)
    // fine-grained sketch table: one row per (event_type, day)
    val daily = CoreOps.distinctSketches(df, Seq("event_type", "day"), "user_id")
    assert(daily.count() == 15)
    // rollup by merging sketches only — no rescan of df
    val merged = CoreOps.sketchRollup(daily, Seq("event_type"))
      .orderBy($"event_type").as[(String, Long)].collect()
    // direct estimate over the raw data
    val direct = CoreOps.sketchRollup(
        CoreOps.distinctSketches(df, Seq("event_type"), "user_id"),
        Seq("event_type"))
      .orderBy($"event_type").as[(String, Long)].collect()
    assert(merged.toSeq == direct.toSeq)
    // at this cardinality HLL is exact: 100 distinct users per type
    assert(merged.forall(_._2 == 100L))
    // global rollup from the same sketch table
    val all = CoreOps.sketchRollup(daily, Nil).as[Long].head()
    assert(all == 100L)
  }
  test("balancedSample: exactly min-stratum-count per stratum, largest-hash keys win") {
    // A has 4 keys, B has 2 -> floor is 2 per stratum.
    val df = Seq(("A", 1L), ("A", 2L), ("A", 3L), ("A", 4L),
      ("B", 10L), ("B", 11L)).toDF("lang", "doc_id")
    val out = CoreOps.balancedSample(df, "lang", "doc_id")
      .as[(String, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toSeq).toMap
    // mixed hash, not the raw fold: raw charHash is monotone in the key
    // for same-length numeric ids, so "largest hash wins" would just
    // pick the largest ids (time-correlated at corpus scale)
    def mixed(id: Long) =
      (654435747L * CharHash.hash(id.toString) + 13904216L) % 1000000007L
    val expectA = Seq(1L, 2L, 3L, 4L)
      .sortBy(id => (-mixed(id), id)).take(2).sorted
    assert(out("A") == expectA)
    assert(expectA != Seq(3L, 4L), "selection degenerated to largest ids")
    assert(out("B") == Seq(10L, 11L))
    assert(out.values.forall(_.length == 2)) // exact N, not approximate
  }

  test("temperatureSample: sub-equal-share strata keep everything, big ones damp by √(e/n)") {
    // strata: big = 900 rows, small = 100 rows. e = 500.
    // rate(small) = min(1, √(500/100)) = 1 — every row survives.
    // rate(big) = √(500/900) = 0.745… → rate_bp = 7453.
    val rows = (0L until 900L).map(i => ("big", i)) ++
      (1000L until 1100L).map(i => ("small", i))
    val df = rows.toDF("src", "id")
    val out = CoreOps.temperatureSample(df, "src", "id")
      .groupBy("src").count().as[(String, Long)].collect().toMap
    assert(out("small") == 100L)
    val expectedBig = (0L until 900L).count(i =>
      math.floorMod(CharHash.hash(i.toString), 10000L) < 7453L)
    assert(out("big") == expectedBig)
    assert(out("big") < 900L && out("big") > 0L)
  }

  test("weightedSample: keep probability is exactly weight/denom under the hash") {
    // weight 0 → nothing; weight = denom → everything; mid weights keep
    // exactly the rows whose MIXED hash falls under them (replayed here:
    // the affine (A·h + B) mod P spread is load-bearing — raw charHash
    // of short numeric keys is small, so the unmixed mod-denom cut kept
    // everything; caught live by q251), and negative / over-denom
    // weights clamp instead of misbehaving.
    val df = (0L until 1000L).map(i => (i, (i % 5) * 250000L))
      .toDF("id", "w") // weights 0, 250k, 500k, 750k, 1M over denom 1M
    val kept = CoreOps.weightedSample(df, "id", $"w")
      .select($"id").as[Long].collect().toSet
    var nMidKept = 0
    (0L until 1000L).foreach { i =>
      val w = (i % 5) * 250000L
      val mixed = (654435747L * CharHash.hash(i.toString) + 13904216L) %
        1000000007L
      val expect = math.floorMod(mixed, 1000000L) < w
      assert(kept.contains(i) == expect, s"id $i weight $w")
      if (i % 5 != 0 && i % 5 != 4 && kept.contains(i)) nMidKept += 1
    }
    // and the mix actually samples: the 600 mid-weight rows (p = .25/.5/
    // .75, E = 300) must be PARTIALLY kept — the pre-mix bias kept all
    assert(nMidKept > 150 && nMidKept < 450, s"mid-weight kept $nMidKept")
    assert(!kept.exists(_ % 5 == 0))            // weight 0: never
    assert((4L until 1000L by 5).forall(kept))  // weight = denom: always
    val clamped = CoreOps.weightedSample(
      Seq((1L, -50L), (2L, 99999999L)).toDF("id", "w"), "id", $"w")
      .select($"id").as[Long].collect().toSet
    assert(!clamped.contains(1L) && clamped.contains(2L))
  }

  test("waterfill: small domains keep all, cutoff level fills the budget exactly") {
    // counts 10/20/70, budget = 100/2 = 50: a keeps its 10, the level
    // settles at (50-10)/2 = 20 → allocs 10/20/20, Σ = 50 = B exactly.
    val counts = Seq(("a", 10L), ("b", 20L), ("c", 70L)).toDF("source", "c")
    val out = CoreOps.waterfill(counts, "source", "c")
      .as[(String, Long, Long)].collect()
      .map { case (k, c, a) => k -> (c, a) }.toMap
    assert(out == Map("a" -> (10L, 10L), "b" -> (20L, 20L), "c" -> (70L, 20L)))
  }

  test("waterfill: budget >= total means everyone keeps everything") {
    val counts = Seq(("a", 5L), ("b", 5L)).toDF("source", "c")
    val out = CoreOps.waterfill(counts, "source", "c",
        budgetNum = 2L, budgetDen = 1L)
      .select($"alloc").as[Long].collect().toSeq
    assert(out == Seq(5L, 5L))
  }

  test("waterfill: distributed shape — no unpartitioned window; matches brute ref") {
    // r17 (VERDICT item 5): the old implementation ran the global ordered
    // prefix in a single-partition window — fine for q150's event-type
    // domain, a one-task wall for a 100 M-key domain. The port to
    // rangePrefixSums must (a) plan NO window at all and (b) reproduce
    // the exact integer allocation on a key domain with ties and skew.
    val n = 500
    val counts = (1 to n)
      .map(i => (f"k$i%04d", ((i * 2654435761L) % 97L + 1L) * (i % 7 + 1)))
      .toDF("source", "c")
    val out = CoreOps.waterfill(counts, "source", "c")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "waterfill still plans a window operator")
    // brute reference: sort ascending by (c, k), walk the cutoff rule
    val rows = counts.as[(String, Long)].collect().sortBy { case (k, c) => (c, k) }
    val b = rows.map(_._2).sum / 2
    var pre = 0L
    var istar = -1
    var lvl = 0L
    for (((_, c), idx) <- rows.zipWithIndex if istar < 0) {
      val li = (b - pre) / (rows.length - idx)
      if (li <= c) { istar = idx; lvl = li } else pre += c
    }
    val expect = rows.zipWithIndex.map { case ((k, c), idx) =>
      k -> (if (istar < 0 || idx < istar) c else lvl)
    }.toMap
    val got = out.as[(String, Long, Long)].collect()
      .map { case (k, _, a) => k -> a }.toMap
    assert(got == expect)
    // truncating division leaves at most (slots-1) of the budget unspent
    if (istar >= 0) {
      val spent = got.values.sum
      val slots = rows.length - istar
      assert(spent <= b && b - spent < slots)
    }
  }

  test("linearTrend: exact fit, truncating non-exact fit, degenerate group") {
    val df = Seq(
      ("exact", 1L, 5L), ("exact", 2L, 7L), ("exact", 3L, 9L), // y = 2x+3
      ("trunc", 0L, 0L), ("trunc", 1L, 1L), ("trunc", 2L, 1L), // slope 1/2
      ("flat", 7L, 1L), ("flat", 7L, 9L))                      // den = 0
      .toDF("g", "x", "y")
    val out = CoreOps.linearTrend(df, "g", $"x", $"y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("exact") == ((3L, Some(2000000000L), Some(3L))))
    // num=3, den=6 -> 5e8 nano; intercept floor((2e9-1.5e9)/3e9) = 0
    assert(out("trunc") == ((3L, Some(500000000L), Some(0L))))
    assert(out("flat") == ((2L, None, None)))
  }

  test("linearTrend is partition-invariant (integer sums, no float fold)") {
    val rows = (0L until 1000L).map(i => ("t", 1700000000L + i * 3600L,
      (i % 97L) * 100L - 4000L))
    val one = CoreOps.linearTrend(rows.toDF("g", "x", "y").repartition(1),
      "g", $"x", $"y").collect()(0)
    val many = CoreOps.linearTrend(rows.toDF("g", "x", "y").repartition(17),
      "g", $"x", $"y").collect()(0)
    assert(one == many)
  }

  test("rrfFuse: hand-computed contributions, absent-list ids, id tiebreak") {
    // 1e6 div 61 = 16393, div 62 = 16129
    val a = Seq((1L, 1L, 10L), (1L, 2L, 20L)).toDF("query_id", "rank", "id")
    val b = Seq((1L, 1L, 30L), (1L, 2L, 20L)).toDF("query_id", "rank", "id")
    val out = CoreOps.rrfFuse(Seq(a, b), k = 3)
      .orderBy($"rank").as[(Long, Long, Long, Long)].collect().toSeq
    // id 20 in both lists at rank 2: 2·16129 = 32258 wins; ids 10 and 30
    // tie at 16393 (one list each, rank 1) -> id asc breaks it
    assert(out == Seq((1L, 1L, 20L, 32258L), (1L, 2L, 10L, 16393L),
      (1L, 3L, 30L, 16393L)))
  }

  test("rrfFuse: k truncates per query and queries stay independent") {
    val a = Seq((1L, 1L, 10L), (1L, 2L, 11L), (2L, 1L, 50L))
      .toDF("query_id", "rank", "id")
    val out = CoreOps.rrfFuse(Seq(a), k = 1)
      .orderBy($"query_id").as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 10L, 16393L), (2L, 1L, 50L, 16393L)))
  }

  test("orderedRuns matches the single-sequence brute force across partition counts") {
    // deterministic mixed-run data: key total-orders the rows, two value
    // columns with different run structures (one blocky, one near-random)
    val rows = (0 until 4000).map { i =>
      (i.toLong, ("v" + (i / 37)), ((i * 2654435761L) % 5).toString)
    }
    val expected = Seq(1, 2).map { c =>
      val vs = rows.map(r => if (c == 1) r._2 else r._3)
      vs.zip(vs.drop(1)).count { case (a, b) => a != b } + 1L
    }
    // partition-count invariance: the boundary stitching must hold at 1
    // partition (no seams), a seam-heavy width, and the default
    Seq(1, 7, 32).foreach { p =>
      val df = rows.toDF("k", "a", "b")
      val runs = CoreOps.orderedRuns(df, Seq($"k"), Seq("a", "b"),
        numPartitions = p)
      assert(runs("a") == expected(0) && runs("b") == expected(1),
        s"at $p partitions: $runs vs $expected")
    }
    // empty input → 0 runs, no crash on the empty boundary artifact
    val empty = rows.take(0).toDF("k", "a", "b")
    assert(CoreOps.orderedRuns(empty, Seq($"k"), Seq("a", "b"))
      .values.forall(_ == 0L))
  }
}
