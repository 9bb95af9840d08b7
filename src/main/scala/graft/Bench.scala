package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY (QueryFilter) narrows the set for exploratory
    // runs; when set, BENCH_LOCAL/BENCH_DELTA are NOT written so a
    // partial run can never poison the regression baseline.
    val qFilter = QueryFilter.fromEnv
    val queries = SparkEntry.queries.filter { case (n, _) => qFilter.forall(_.contains(n)) }
    val spark = GraftSession()
    // Untimed warmup pass: JIT + codegen + parquet-footer caches. Then
    // THREE timed passes, reporting the per-query MEDIAN — the session-
    // to-session host-noise band (73-100 s totals on identical code) was
    // drowning <30% regressions; the median of three steady-state passes
    // is robust to a one-off stall in either direction, where min-of-2
    // still tracked the noise floor. Total wall (including warmup) is
    // reported separately so throughput is still visible.
    // Idle marker (VERDICT r7 item 7): the 1-min load average BEFORE any
    // Spark work starts. A hot host inflates every query ~uniformly
    // (r7's driver leg ran 1.15x vs the idle 3-pass median and cost a
    // round of delta analysis); recording the marker inside the artifact
    // lets any reader weight a delta by the conditions it ran under.
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Hot-host gate (VERDICT r11 item 5): r11's committed sf1 leg started
    // at load1 2.1 and its worst per-query medians overstated 2-3x vs
    // idle re-measures (q189 13.2 vs 4.5 s; q69 6.9 vs 1.9 s); the r11
    // driver leg at load1 11.4 manufactured two phantom sf0.1
    // "regressions" (q139/q268, both ~1.0x when idle). Any leg intended
    // for BENCH_LOCAL/BENCH_DELTA or a round artifact must start idle —
    // the warning is loud so a noisy leg can't read as a clean baseline.
    if (load1 > 2.0)
      System.err.println(f"[bench] *** HOT HOST: load1=$load1%.1f > 2.0 at " +
        "leg start — medians from this run are NOISE-SUSPECT; re-run on an " +
        "idle host before committing or comparing ***")
    // Host-speed RULER (r15): a fixed CPU loop timed single-threaded and
    // at full width, recorded in the artifact. Round-over-round bench
    // totals drifted 220→280 s on code-identical query paths (load1
    // looked fine both times); with the ruler in the JSON, a future delta
    // can separate "the host is slower today" (ruler moved) from "a plan
    // regressed" (ruler flat) without a day of re-legging. The loop is
    // integer ALU work in L1 — immune to JIT elision via the xor fold.
    def rulerPass(): Double = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0L
      while (i < 400000000L) { x ^= i * 0x9E3779B97F4A7C15L; i += 1 }
      if (x == 42L) System.err.println("") // keep x live
      (System.nanoTime() - t0) / 1e9
    }
    // CPU-steal sampler (r18): the ALU ruler measures per-core speed but
    // CANNOT see bursty hypervisor steal — measured live this round: a
    // boot where the 400M-iteration wide ruler read 0.265 s (same as the
    // fast boot's 0.271) while a 2G-iteration 32-wide burn degraded 1.69x
    // per-thread and /proc/stat recorded 10-20% steal, and the full bench
    // leg inflated 1.65x on byte-identical code. Sampling steal vs total
    // ticks across the WHOLE leg pins that drift in the artifact: a delta
    // whose raw ratio tracks (100-steal_prev)/(100-steal_now) is the
    // host, not the plans. Linux-only; absent keys mean the probe failed.
    // The total sums user..steal only: guest and guest_nice (fields 9-10)
    // are already counted inside user and nice.
    def cpuTicks(): Option[(Long, Long)] = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")).get finally src.close()
      val l = line.trim.split("\\s+").drop(1).map(_.toLong)
      (l.lift(7).getOrElse(0L), l.take(8).sum)
    }.toOption
    val ticks0 = cpuTicks()
    rulerPass() // JIT warmup, untimed
    val ruler1t = rulerPass()
    val nThreads = Runtime.getRuntime.availableProcessors()
    val rulerWide = {
      val t0 = System.nanoTime()
      val ts = (1 to nThreads).map { _ =>
        val t = new Thread(() => { rulerPass(): Unit }); t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[bench] host ruler: 1t=$ruler1t%.3f s, " +
      f"${nThreads}t=$rulerWide%.3f s")
    val wall0 = System.nanoTime()
    queries.foreach { case (_, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
    }
    // A query that THROWS must not masquerade as a fast query: a crashed
    // plan exits in milliseconds and reads as a 30x "speedup" in one run
    // and a 30x "regression" in the next (seen live: a Derby race made
    // q72's median 0.053 s for a whole bench run). Failures are tracked
    // by name and published in the JSON + BENCH_DELTA so a red query can
    // never hide inside a green-looking total.
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def timedPass(): Map[String, Double] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case _: Throwable => failed += name }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // SPARK_GRAFT_BENCH_PASSES overrides for exploratory runs (e.g. the
    // one-pass sf1 scaling leg); the driver never sets it, so the
    // contract run is always the 3-pass median.
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val passes = Seq.fill(nPasses)(timedPass())
    val results = passes.head.keys.map { k =>
      k -> passes.map(_(k)).sorted.apply((nPasses - 1) / 2)
    }.toMap
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // Steal percentage over warmup + timed passes (see cpuTicks above).
    val stealPct: Option[Double] = for {
      (s0, t0) <- ticks0; (s1, t1) <- cpuTicks(); if t1 > t0
    } yield 100.0 * (s1 - s0) / (t1 - t0)
    stealPct.filter(_ > 3.0).foreach(p => System.err.println(
      f"[bench] *** CPU STEAL $p%.1f%% over this leg — the hypervisor took " +
        "that share of every core; totals are inflated ~1/(1-steal) or more " +
        "and NOT comparable to an unstolen leg even ruler-normalized ***"))
    // Two-line emission: the driver captures only a bounded tail of sbt
    // output, and the detailed line (a ~100-query map) overflows it —
    // BENCH_r01..r03 all parsed as null. So: detailed line first (and a
    // full-precision copy to BENCH_LOCAL.json for humans/judges), then a
    // SHORT total-only line LAST so the tail always holds one complete,
    // parseable JSON object.
    def ms(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val sfName = new java.io.File(sfDir).getName
    val errs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Fixed ruler keys (ADVICE r15): "ruler_wide_sec" + "ruler_threads"
    // instead of the host-dependent "ruler_<N>t_sec", so artifact parsers
    // comparing legs across hosts/VM shapes read one field name.
    val steal = stealPct.map(p => s""""steal_pct":${ms(p)}""")
    val detailed = s"""{"metric":"total","value":${ms(total)},"unit":"sec","wall":${ms(wallSec)},"passes":$nPasses,"stat":"median","load1_at_start":${ms(load1)},"ruler_1t_sec":${ms(ruler1t)},"ruler_wide_sec":${ms(rulerWide)},"ruler_threads":$nThreads,${steal.map(_ + ",").getOrElse("")}"errors":$errs,"queries":$qs,"sf":"$sfName"}"""
    // The short line carries the errors array too: the driver's parsed
    // artifact itself must be red when any query threw — a leg with
    // failures can never read as a clean total (VERDICT r11 item 2: the
    // r11 sf1 leg recorded q271's failure yet shipped as "zero errors").
    // The host keys follow the original ones, so a parser of the short line
    // alone can tell host load and steal from a code regression.
    val short = s"""{"metric":"total","value":${ms(total)},"unit":"sec","errors":$errs,"queries":{"all":${ms(total)}},"sf":"$sfName","load1_at_start":${ms(load1)},"ruler_wide_sec":${ms(rulerWide)},"ruler_threads":$nThreads${steal.map("," + _).getOrElse("")}}"""
    // The sf0.1 run is the driver contract and owns BENCH_LOCAL.json /
    // BENCH_DELTA.md; exploratory runs at other SFs write suffixed files
    // so they can never poison the regression baseline.
    val suffix = if (sfName == "sf0.1") "" else s"_$sfName"
    // Per-query regression report vs the PREVIOUS BENCH_LOCAL.json, written
    // before that file is overwritten: the builder sees a >20% && >0.1s
    // regression immediately instead of the judge seeing it a round later.
    try if (qFilter.isEmpty) {
      val prevPath = java.nio.file.Paths.get(s"BENCH_LOCAL$suffix.json")
      if (java.nio.file.Files.exists(prevPath)) {
        val prevLine = new String(java.nio.file.Files.readAllBytes(prevPath), "UTF-8")
        val pair = """"(q[0-9]+_[a-zA-Z0-9_]+)":([0-9.]+)""".r
        val prev = pair.findAllMatchIn(prevLine)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // Previous leg's host ruler (either the r16+ fixed key or the r15
        // host-dependent one): the r15 adjudication measured 1.47x ruler
        // drift between same-day idle legs and 1-11% CPU steal on this VM,
        // so every delta is quoted BOTH raw and ruler-normalized — a delta
        // that disappears under normalization is the host, not the plans.
        // wide ruler only — "ruler_1t_sec" must NOT match (it precedes the
        // wide key in the JSON line, and comparing wide-now vs 1t-prev
        // manufactured a 1.74x phantom host move in the first r16 delta)
        val rulerRe = """"ruler_(?:wide|(?!1t)[0-9]+t)_sec":([0-9.]+)""".r
        val prevRuler = rulerRe.findFirstMatchIn(prevLine).map(_.group(1).toDouble)
        // The wide ruler's value depends on how many threads ran it: a
        // prev leg recorded at a different SPARK_GRAFT_CPUS would be
        // "normalized" by a bogus factor (ADVICE r16). ruler_threads is
        // emitted since r16; when present and different, fall back to
        // raw-only. Legacy ruler_<N>t keys carry the width in the name.
        val threadsRe = """"ruler_threads":([0-9]+)""".r
        val legacyRe = """"ruler_([0-9]+)t_sec":[0-9.]""".r
        val prevThreads = threadsRe.findFirstMatchIn(prevLine).map(_.group(1).toInt)
          .orElse(legacyRe.findAllMatchIn(prevLine).map(_.group(1).toInt)
            .filter(_ != 1).maxOption)
        val threadsMatch = prevThreads.forall(_ == nThreads)
        if (!threadsMatch) System.err.println(
          s"[bench] prev leg ruler_threads=${prevThreads.get} != current " +
            s"$nThreads — ruler not comparable, reporting raw deltas only")
        val hostFactor = prevRuler.filter(_ > 0 && threadsMatch).map(rulerWide / _)
        val common = results.keys.filter(prev.contains).toSeq.sorted
        val lines = new StringBuilder
        lines ++= s"# BENCH_DELTA — this run vs previous BENCH_LOCAL.json ($sfName)\n\n"
        if (failed.nonEmpty)
          lines ++= s"**FAILED queries (timings meaningless): ${failed.mkString(", ")}**\n\n"
        val prevCommon = common.map(prev).sum
        val curCommon = common.map(results).sum
        val rawX = if (prevCommon > 0) curCommon / prevCommon else 1.0
        lines ++= f"Common-query total: ${curCommon}%.1f s vs ${prevCommon}%.1f s " +
          f"($rawX%.2fx raw, ${common.size} queries)"
        hostFactor match {
          case Some(hf) =>
            lines ++= f"; host ruler moved $hf%.2fx (wide, prev ${prevRuler.get}%.2f s " +
              f"-> now $rulerWide%.2f s) -> **ruler-normalized ${rawX / hf}%.2fx**\n\n"
          case None =>
            lines ++= (if (!threadsMatch)
              s"; previous leg's ruler ran at ${prevThreads.get} threads vs " +
                s"$nThreads now — not comparable, raw only\n\n"
            else "; previous leg has no ruler — raw only\n\n")
        }
        // prev(k) == 0.000 (sub-ms time rounded away) has no meaningful
        // baseline: excluded rather than rendering an Infinity ratio
        val regressed = common.filter(k => prev(k) > 0.0 &&
          results(k) > prev(k) * 1.2 && results(k) - prev(k) > 0.1)
        if (regressed.isEmpty) lines ++= "No query regressed >20% and >0.1 s.\n"
        else {
          lines ++= "| query | prev s | now s | raw | ruler-normalized |\n|---|---|---|---|---|\n"
          regressed.sortBy(k => -(results(k) - prev(k))).foreach { k =>
            val raw = results(k) / prev(k)
            val norm = hostFactor.map(hf => f"${raw / hf}%.2fx").getOrElse("n/a")
            lines ++= f"| $k | ${prev(k)}%.3f | ${results(k)}%.3f | $raw%.2fx | $norm |\n"
          }
        }
        val newQs = results.keys.filterNot(prev.contains).toSeq.sorted
        if (newQs.nonEmpty)
          lines ++= s"\nNew queries (no previous time): ${newQs.mkString(", ")}\n"
        java.nio.file.Files.write(java.nio.file.Paths.get(s"BENCH_DELTA$suffix.md"),
          lines.toString.getBytes("UTF-8"))
      }
    } catch { case _: Throwable => () }
    try if (qFilter.isEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"BENCH_LOCAL$suffix.json"),
        (detailed + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    if (failed.nonEmpty) {
      System.err.println(s"[bench] *** FAILED — ${failed.size} queries threw: " +
        s"${failed.mkString(", ")} — this leg is RED; timings for these " +
        "queries are crash-exit artifacts, the total is NOT comparable ***")
    }
    println(detailed)
    Console.flush(); System.out.flush()
    spark.stop()
    println(short)
    Console.flush(); System.out.flush()
    // Hard red (VERDICT r11 item 2): a bench with failures exits non-zero
    // so no closeout script, commit message, or human skim can describe a
    // leg with a non-empty errors array as clean. The JSON lines above are
    // already flushed, so the driver's tail parse still sees them.
    if (failed.nonEmpty) {
      System.err.println(s"[bench] exiting 1: errors=$errs")
      sys.exit(1)
    }
  }
}
