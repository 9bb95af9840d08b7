package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dedup.Dedup

/** Rehearsal of the OPERATIONAL corpus-build mode (VERDICT r12 item 7):
  * tonight's batch is deduplicated and decontaminated against PERSISTED
  * state only — the standing corpus's fingerprints, band table, shingle
  * sets, and the benchmark's shingle hashes — never against history text.
  * This is the 100 TB nightly: history is petabytes, the state is ~1% of
  * it, and the batch is the only text scanned.
  *
  * Prep (excluded from accounting) writes the state exactly as the
  * nightly job maintains it (Dedup.writeNearDupState / fingerprints /
  * bench shingle hashes). The measured phase composes q109's exact
  * dedup-against-history, q140's near-dup-from-state, q242's quality
  * gate, and q88/q157's shingle decontamination into one funnel. Two
  * proofs are emitted:
  *  - a two-layer history-scan audit: `inputFiles` from every measured
  *    frame's PRE-checkpoint logical plan, plus a QueryExecutionListener
  *    over every executed physical plan (so a history scan inside an
  *    already-materialized checkpoint cannot hide — ADVICE r13);
  *  - stage-level exchange accounting: total input ≈ batch + state bytes.
  * Writes CORPUSINCR_r14.md in cwd. Not part of the driver contract.
  */
object IncrementalRehearsal {
  def main(args: Array[String]): Unit = {
    // Background-contention sample, taken BEFORE any Spark work: the
    // in-phase sample below is self-inflated by this very process's prep
    // (64-partition writes saturate the 1-min average on 32 cores), so the
    // launch sample is the one the load1 < 2 idle-host discipline gates on.
    val load1Launch = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val dir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val spark = GraftSession()

    case class St(id: Int, tasks: Int, durMs: Long, inMB: Double,
                  swMB: Double, srMB: Double, swRec: Long)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.numTasks,
            (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L),
            m.inputMetrics.bytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.recordsWritten)
        }
      }
    })

    // ---- prep (excluded): standing corpus, tonight's batch, state ----
    val work = java.nio.file.Files.createTempDirectory("incr_rehearsal").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val historyDir = s"$work/history_text"     // exists; must never be read
    val batchDir = s"$work/batch"
    val stateDir = s"$work/state"
    val history = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 10 =!= 0)
    history.repartition(64).write.parquet(historyDir)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    // Tonight's landing: fresh docs + exact re-crawls of history (new ids,
    // identical text) + drifted re-releases (near-dups of history).
    val fresh = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val recrawl = history.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
    val drift = history.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
        concat(col("text"), lit(" re release v2")).as("text"))
    fresh.unionByName(recrawl).unionByName(drift)
      .repartition(64).write.parquet(batchDir)
    // Persisted state, as the nightly job maintains it.
    val historyOnDisk = spark.read.parquet(historyDir)
    Dedup.fingerprints(historyOnDisk, "text")
      .write.parquet(s"$stateDir/fp")
    Dedup.writeNearDupState(historyOnDisk, "doc_id", "text", s"$stateDir/neardup",
      shingleK = 3, numHashes = 16, bands = 4)
    Dedup.shingleHashSets(bench, "doc_id", "text", 3)
      .select(explode(col("sh")).as("h")).distinct()
      .write.parquet(s"$stateDir/bench_shingles")
    val nHistory = historyOnDisk.count()

    // ---- measured phase: batch + state ONLY ----
    // Two independent history-scan audits (ADVICE r13: the old audit read
    // `inputFiles` AFTER localCheckpoint had truncated lineage to a
    // LogicalRDD, so the checkpointed frames were vacuously clean):
    //  (a) `inputFiles` captured from each frame's PRE-checkpoint logical
    //      plan, via `audited` below;
    //  (b) a QueryExecutionListener sweeping every EXECUTED physical plan
    //      of the measured phase (checkpoint materializations, counts,
    //      the final agg) for FileSourceScan leaves under history_text —
    //      this sees the real runtime scans, AQE-final, so a history scan
    //      hidden inside any materialization is caught even if (a) missed
    //      its frame.
    val runtimeViolations = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case q: QueryStageExec => fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(fileScans) ++
          other.subqueries.flatMap(fileScans)
    }
    val qel = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        fileScans(qe.executedPlan).foreach { f =>
          f.relation.location.inputFiles.filter(_.contains("history_text"))
            .foreach(p => runtimeViolations.add(s"$fn: $p"))
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val preCkptFiles = scala.collection.mutable.ArrayBuffer[(String, Array[String])]()
    def audited(name: String, df: DataFrame): DataFrame = {
      preCkptFiles += name -> df.inputFiles // BEFORE checkpoint truncates lineage
      df.localCheckpoint()
    }
    stages.synchronized { stages.clear() }
    val sb = new StringBuilder
    sb ++= s"# CORPUSINCR_r14 — incremental corpus build vs persisted state at $dir\n\n"
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    sb ++= f"load1 at launch (background): $load1Launch%.2f; at measured-phase " +
      f"start (includes this run's own prep): $load1%.2f\n\n"
    val t0 = System.nanoTime()

    val batch = spark.read.parquet(batchDir)
    val fpState = spark.read.parquet(s"$stateDir/fp")
    val benchH = spark.read.parquet(s"$stateDir/bench_shingles")

    // 1. exact dedup against history fingerprints (Bloom-gated anti-join)
    val exactNew = audited("exactNew", Dedup.dedupAgainstHistory(
      batch, fpState, "text", expectedHistory = nHistory))
    // 2. near-dups vs the persisted band/set state; matched batch ids drop
    val ndPairs = Dedup.incrementalNearDupsFromState(exactNew,
      s"$stateDir/neardup", "doc_id", "text",
      shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val afterNd = audited("afterNd", exactNew.join(
      ndPairs.select(col("id_new").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"))
    // 3. quality gate (q242's threshold)
    val qual = audited("qual", afterNd.filter(graft.ops.CoreOps.cents(
      graft.text.TextOps.qualityScore(col("text"),
        graft.queries.TextQueries.stopwords), 6) >= 700000L))
    // 4. shingle decontamination against the persisted benchmark hashes
    val withOv = Dedup.shingleHashSets(qual, "doc_id", "text", 3)
      .select(col("id"), explode(col("sh")).as("h"))
      .join(benchH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
    val fin = audited("final", qual.join(withOv.select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti"))

    val nBatch = batch.count()
    val nExact = exactNew.count()
    val nNd = afterNd.count()
    val nQual = qual.count()
    val finAgg = fin.agg(count(lit(1)),
      sum(size(split(col("text"), " ")).cast("long"))).first()
    val (nFin, toksFin) = (finAgg.getLong(0), finAgg.getLong(1))
    val wall = (System.nanoTime() - t0) / 1e9

    // Audit (a): pre-checkpoint logical plans + the never-checkpointed frames.
    val frames: Seq[(String, Array[String])] = preCkptFiles.toSeq ++ Seq(
      "batch" -> batch.inputFiles, "ndPairs" -> ndPairs.inputFiles,
      "withOv" -> withOv.inputFiles)
    val violations = frames.flatMap { case (n, fs) =>
      fs.filter(_.contains("history_text")).map(p => s"$n: $p")
    }
    require(violations.isEmpty,
      s"history text in a measured logical plan:\n${violations.mkString("\n")}")
    require(frames.count(_._2.nonEmpty) >= 6,
      "audit (a) went vacuous: expected file-backed pre-checkpoint plans, got " +
        frames.map { case (n, fs) => s"$n=${fs.length}" }.mkString(", "))
    // Audit (b): drain the async listener bus, then check the runtime scans.
    Thread.sleep(3000)
    val rv = { import scala.jdk.CollectionConverters._; runtimeViolations.asScala.toSeq.sorted }
    require(rv.isEmpty,
      s"history text scanned at RUNTIME in the measured phase:\n${rv.mkString("\n")}")
    spark.listenerManager.unregister(qel)

    sb ++= "## Funnel: batch -> exact-new -> neardup-new -> quality -> decontam\n\n"
    sb ++= "| n_history (state only) | n_batch | n_exact_new | n_nd_new | n_quality | n_final | toks_final |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    sb ++= s"| $nHistory | $nBatch | $nExact | $nNd | $nQual | $nFin | $toksFin |\n\n"
    require(nBatch >= nExact && nExact >= nNd && nNd >= nQual && nQual >= nFin,
      s"funnel not monotone: $nBatch -> $nExact -> $nNd -> $nQual -> $nFin")
    sb ++= f"Wall (measured phase, cold): $wall%.1f s.\n\n"
    sb ++= "**History-scan audit: PASS (two independent checks)** — (a) " +
      "`inputFiles` captured from every measured frame's PRE-checkpoint " +
      "logical plan (r13's audit read them post-checkpoint, when lineage " +
      "truncation had emptied them) contains no path under the standing " +
      "corpus's text directory; (b) a QueryExecutionListener swept every " +
      "EXECUTED physical plan of the measured phase (AQE-final, subqueries " +
      "included) and found no FileSourceScan under history_text. The only " +
      "file scans are tonight's batch and the four state tables " +
      "(fingerprints, bands, shingle sets, benchmark shingles).\n\n"

    val snap = stages.synchronized { stages.toVector }
    sb ++= f"## Exchange volumes (measured phase)\n\nTotal: input " +
      f"${snap.map(_.inMB).sum}%.1f MB, shuffle write ${snap.map(_.swMB).sum}%.1f MB, " +
      f"shuffle read ${snap.map(_.srMB).sum}%.1f MB across ${snap.size} stages.\n\n"
    sb ++= "Top 10 stages by shuffle write:\n\n"
    sb ++= "| stage | tasks | dur ms | input MB | shuf write MB | shuf read MB | write rec |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    snap.sortBy(-_.swMB).take(10).foreach { s =>
      sb ++= f"| ${s.id} | ${s.tasks} | ${s.durMs} | ${s.inMB}%.1f | " +
        f"${s.swMB}%.1f | ${s.srMB}%.1f | ${s.swRec} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("CORPUSINCR_r14.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
