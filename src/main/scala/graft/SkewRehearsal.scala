package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Adversarial SKEW rehearsal (VERDICT r13 item 8): every other rehearsal
  * runs on near-uniform synthetic data, but 100 TB social data is Zipfian —
  * a handful of authors/boilerplate texts own a constant fraction of the
  * corpus. This main PLANTS that shape and measures, per task, whether the
  * repo's skew devices actually engage and spread the work:
  *
  *   Leg A — join skew: one hot user is assigned 10% of all events (the
  *   power-law author of the reference's mention graph), then the
  *   fact⋈dim join runs three ways: plain shuffle join with AQE off (the
  *   naive plan — one reducer owns the hot key), `CoreOps.saltedJoin`
  *   (targeted salting, AQE off), and the plain join with AQE's skew-join
  *   split enabled (the runtime alternative). Row counts must agree.
  *
  *   Leg B — LSH hot bucket: 10% of documents get IDENTICAL text (the
  *   boilerplate/empty-doc degeneracy that is the scale-killer of every
  *   LSH pipeline), so all of them land in the same minhash band buckets.
  *   `Dedup.bucketedPairs` runs uncapped (cap = MaxValue ⇒ the plain
  *   bucket self-join: the whole n²/2 pair expansion of each hot bucket
  *   on one task) vs the default cap 4096 (T = ⌈n/cap⌉ tiles) vs cap 512
  *   (more tiles ⇒ flatter). Distinct pair counts must agree across caps.
  *
  * The quoted evidence is PER-TASK: for the dominant stages of each phase,
  * max task time vs median task time (the skew ratio) and the largest
  * per-task shuffle-read record count — the number that decides whether a
  * 1000-executor cluster finishes with 999 idle executors waiting on one.
  * Writes SKEW_r15.md in cwd. Not part of the driver contract.
  */
object SkewRehearsal {
  private case class Task(stage: Int, durMs: Long, srRec: Long)

  def main(args: Array[String]): Unit = {
    // Leg A (join) wants the biggest fact table available — at sf1 the
    // hot reducer's extra rows vanish under fixed per-task costs (run
    // live: row skew 4.8×, task-time skew 1.0) — while leg B's uncapped
    // baseline is quadratic in the planted bucket, so it must stay at a
    // size where n²/2 pairs on one task finishes at all. Two dirs.
    val dir = args.headOption.getOrElse("/root/repo/testdata_sf10")
    val docsDir = args.drop(1).headOption.getOrElse("/root/repo/testdata_sf1")
    val spark = GraftSession()

    val tasks = scala.collection.mutable.ArrayBuffer[Task]()
    val stageNames = scala.collection.mutable.Map[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.synchronized {
          tasks += Task(e.stageId, e.taskInfo.duration,
            m.shuffleReadMetrics.recordsRead)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageNames.synchronized {
          stageNames(e.stageInfo.stageId) =
            e.stageInfo.name.takeWhile(_ != '\n').take(40)
        }
    })

    val sb = new StringBuilder
    sb ++= s"# SKEW_r15 — planted-Zipf rehearsal (join leg: $dir, " +
      s"LSH leg: $docsDir)\n\n"
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    sb ++= f"load1 at launch: $load1%.2f\n\n"

    /** Run `body`, then report the top-3 stages by MAX task duration:
      * per-stage task count, max/median task ms, the skew ratio, and the
      * largest per-task shuffle-read record count. Single-task stages are
      * skipped (skew is undefined on them).
      */
    def phase(label: String)(body: => Long): Long = {
      tasks.synchronized { tasks.clear() }
      spark.sparkContext.setJobGroup(label, label)
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      val snap = tasks.synchronized { tasks.toVector }
      sb ++= f"### $label — wall $wall%.1f s, result rows $out\n\n"
      sb ++= "| stage | name | tasks | max task ms | median task ms | skew (max/med) | max / median shuf-read rec |\n"
      sb ++= "|---|---|---|---|---|---|---|\n"
      val byStage = snap.groupBy(_.stage).toVector
        .filter(_._2.size > 1)
        .sortBy { case (_, ts) => -ts.map(_.durMs).max }
        .take(3)
      byStage.foreach { case (sid, ts) =>
        val durs = ts.map(_.durMs).sorted
        val mx = durs.last
        val med = durs(durs.size / 2).max(1L)
        val recs = ts.map(_.srRec).sorted
        val name = stageNames.synchronized { stageNames.getOrElse(sid, "?") }
        sb ++= f"| $sid | $name | ${ts.size} | $mx | $med | ${mx.toDouble / med}%.1f | ${recs.last} / ${recs(recs.size / 2)} |\n"
      }
      sb ++= "\n"
      out
    }

    // ------------------------------------------------ Leg A: join skew
    // Hot user -42 owns every event_id ≡ 0 (mod 10) — exactly 10% of the
    // fact table. The dim side is the full customer dimension (too big to
    // broadcast at this SF, like any real user dim at 100 TB) plus the
    // hot user's row.
    val ev = spark.read.parquet(s"$dir/events.parquet")
    val fact = ev.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) === 0, lit(-42L))
        .otherwise(col("user_id")))
    val dim = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey").as("u_id"), col("c_mktsegment").as("segment"))
      .unionAll(spark.range(1).select(lit(-42L).as("u_id"),
        lit("HOTUSER").as("segment")))
    val nFact = fact.count()
    val nHot = fact.filter(col("user_id") === -42L).count()
    sb ++= f"## Leg A — fact⋈dim join, hot user owns ${100.0 * nHot / nFact}%.1f%% " +
      f"of $nFact%d events (dim = ${dim.count()}%d rows, not broadcastable)\n\n"

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val a1 = phase("A1 plain shuffle join (AQE off) — the naive plan") {
      fact.join(dim, fact("user_id") === dim("u_id"))
        .groupBy("segment").count().collect().map(_.getLong(1)).sum
    }
    val a2 = phase("A2 CoreOps.saltedJoin per-key derived salt (AQE off)") {
      graft.ops.CoreOps.saltedJoin(fact, dim, "user_id", "u_id",
        salt = 8, hotThreshold = nFact / 50)
        .groupBy("segment").count().collect().map(_.getLong(1)).sum
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    val a3 = phase("A3 plain join, AQE skew-join split ON (runtime alternative)") {
      fact.join(dim, fact("user_id") === dim("u_id"))
        .groupBy("segment").count().collect().map(_.getLong(1)).sum
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    require(a1 == a2 && a2 == a3, s"join results diverged: $a1 / $a2 / $a3")
    sb ++= s"Correctness: A1 = A2 = A3 = $a1 joined rows.\n\n"

    // --------------------------------------------- Leg B: LSH hot bucket
    // Every doc_id ≡ 0 (mod 10) gets the same text: one band bucket per
    // band now holds 10% of the corpus, and its pair expansion is
    // inherent — the only question is how many tasks it lands on.
    val boiler = "the quick brown fox jumps over the lazy dog again and " +
      "again while the market rallies and the thread reposts itself"
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(10)) === 0, lit(boiler))
          .otherwise(col("text")))
    val nDocs = docs.count()
    val nBoiler = docs.filter(col("text") === boiler).count()
    sb ++= f"## Leg B — minhash band bucket pairs, ${100.0 * nBoiler / nDocs}%.1f%% " +
      f"of $nDocs%d docs share one text (hot bucket n = $nBoiler%d per band)\n\n"
    val banded = graft.dedup.Dedup.minhashBands(
      docs, "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)

    def pairCount(cap: Int): Long =
      graft.dedup.Dedup.bucketedPairs(banded, Seq("band", "bh"), "id", cap)
        .select(col("a.id").as("ia"), col("b.id").as("ib")).distinct().count()

    val hotCensus = banded.groupBy("band", "bh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 4096).count()
    sb ++= s"Hot-bucket census at the default cap 4096: $hotCensus buckets " +
      "over the cap (0 would mean the tiling machinery never engages).\n\n"
    require(hotCensus > 0, "planted hot bucket did not exceed the default cap")

    val b1 = phase("B1 uncapped (cap = MaxValue) — plain bucket self-join") {
      pairCount(Int.MaxValue)
    }
    val b2 = phase("B2 default cap 4096 — occupancy-adaptive tiles") {
      pairCount(4096)
    }
    val b3 = phase("B3 cap 512 — more tiles, flatter") {
      pairCount(512)
    }
    require(b1 == b2 && b2 == b3, s"pair sets diverged: $b1 / $b2 / $b3")
    sb ++= s"Correctness: distinct pair count identical at every cap: $b1.\n"

    java.nio.file.Files.write(java.nio.file.Paths.get("SKEW_r15.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
