package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.dedup.Dedup

/** Rehearsal of the STREAMING incremental corpus-build mode (VERDICT r13
  * item 4): the operational 100 TB ingest is not a nightly batch but a
  * continuous crawl — micro-batches arriving through Structured Streaming,
  * each deduplicated and decontaminated against PERSISTED state only, with
  * accepted documents' fingerprints fed back into the state so later
  * micro-batches dedup against everything accepted before them.
  *
  * Composition per micro-batch (foreachBatch over a file-source stream,
  * maxFilesPerTrigger = 1 → one trigger per landing file):
  *   1. exact dedup against the fingerprint state (q109's Bloom-gated
  *      anti-join — the state now includes fingerprints of docs ACCEPTED by
  *      earlier triggers, the cross-batch dedup q244 models with
  *      dropDuplicates state);
  *   2. near-dup drop vs the persisted band/set state (q140's
  *      incrementalNearDupsFromState; near-dup state is kept STATIC within
  *      the stream — production re-bands accepted docs nightly, and the
  *      split-invariance proof below depends on per-doc decisions);
  *   3. quality gate (q242's threshold);
  *   4. shingle decontamination against the persisted benchmark hashes;
  *   5. survivors appended to the corpus sink, their fingerprints appended
  *      to the fingerprint state.
  *
  * Proofs emitted (same discipline as the batch-mode CORPUSINCR artifact):
  *  - two-layer history-scan audit: `inputFiles` from every per-trigger
  *    frame's PRE-checkpoint logical plan, plus a QueryExecutionListener
  *    over every executed physical plan of the measured phase;
  *  - stage-level exchange accounting: the top exchanges must be sized by
  *    the trigger's batch/candidates, never by corpus state;
  *  - a split-invariance check: the corpus sink's distinct fingerprint set
  *    must equal the one-shot batch funnel's over the same landing data
  *    (exact-stage feedback only ever removes fingerprints already in the
  *    set; stages 2–4 are per-doc deterministic vs static state).
  * Writes STREAMINCR_r14.md in cwd. Not part of the driver contract.
  */
object StreamingIncrRehearsal {
  def main(args: Array[String]): Unit = {
    val load1Launch = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val dir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val nLandingFiles = 8
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

    // ---- prep (excluded): standing corpus, landing files, state ----
    val work = java.nio.file.Files.createTempDirectory("stream_incr").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val historyDir = s"$work/history_text"     // exists; must never be read
    val landingDir = s"$work/landing"
    val stateDir = s"$work/state"
    val corpusDir = s"$work/corpus"
    val history = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 10 =!= 0)
    history.repartition(64).write.parquet(historyDir)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    // The crawl: fresh docs + exact re-crawls of history (new ids, identical
    // text) + drifted re-releases (near-dups of history) + exact re-crawls
    // WITHIN the stream (new ids, text identical to a fresh doc — these are
    // the cross-trigger dups only the fingerprint feedback can catch).
    val fresh = docs.filter(col("doc_id") % 97 =!= 0 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val recrawl = history.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("lang"), col("text"))
    val drift = history.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 3000000L).as("doc_id"), col("lang"),
        concat(col("text"), lit(" re release v2")).as("text"))
    val streamDup = fresh.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 4000000L).as("doc_id"), col("lang"), col("text"))
    // Landing files keyed by doc_id so triggers interleave the four kinds;
    // a streamDup's doc_id ≡ original + 4e6 keeps the pair in DIFFERENT
    // landing files for most residues (4e6 % 8 = 0 would collide — shift by
    // the doc_id itself, i.e. partition on a rehash).
    fresh.unionByName(recrawl).unionByName(drift).unionByName(streamDup)
      .repartition(nLandingFiles, xxhash64(col("doc_id")))
      .write.parquet(landingDir)
    val historyOnDisk = spark.read.parquet(historyDir)
    Dedup.fingerprints(historyOnDisk, "text")
      .write.parquet(s"$stateDir/fp")
    Dedup.writeNearDupState(historyOnDisk, "doc_id", "text", s"$stateDir/neardup",
      shingleK = 3, numHashes = 16, bands = 4)
    Dedup.shingleHashSets(bench, "doc_id", "text", 3)
      .select(explode(col("sh")).as("h")).distinct()
      .write.parquet(s"$stateDir/bench_shingles")
    val nHistory = historyOnDisk.count()

    // ---- measured phase: the stream, batch files + state ONLY ----
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

    val sb = new StringBuilder
    sb ++= s"# STREAMINCR_r14 — streaming incremental corpus build vs persisted state at $dir\n\n"
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    sb ++= f"load1 at launch (background): $load1Launch%.2f; at measured-phase " +
      f"start (includes this run's own prep): $load1%.2f\n\n"

    val docsSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType)))
    case class Trig(batchId: Long, nIn: Long, nExact: Long, nCand: Long,
                    nNd: Long, nQual: Long, nFin: Long)
    val trigs = scala.collection.mutable.ArrayBuffer[Trig]()
    val preCkptFiles = scala.collection.mutable.ArrayBuffer[(String, Array[String])]()
    var nAccepted = 0L
    val benchH = spark.read.parquet(s"$stateDir/bench_shingles").localCheckpoint()

    stages.synchronized { stages.clear() }
    val t0 = System.nanoTime()
    val stream = graft.streaming.SocialStream
      .readParquetStream(spark, landingDir, docsSchema, maxFilesPerTrigger = 1)
    val q = stream.writeStream.foreachBatch { (bdf: DataFrame, bid: Long) =>
      def audited(name: String, df: DataFrame): DataFrame = {
        preCkptFiles.synchronized {
          preCkptFiles += s"b$bid/$name" -> df.inputFiles
        }
        df.localCheckpoint()
      }
      // 1. exact dedup vs fingerprint state = history ∪ accepted-so-far.
      val fpState = spark.read.parquet(s"$stateDir/fp")
      val exactNew = audited("exactNew", Dedup.dedupAgainstHistory(
        bdf, fpState, "text", expectedHistory = nHistory + nAccepted))
      // 2. near-dups vs the persisted (static) band/set state.
      val ndPairs = audited("ndPairs", Dedup.incrementalNearDupsFromState(
        exactNew, s"$stateDir/neardup", "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4, threshold = 0.5))
      val afterNd = audited("afterNd", exactNew.join(
        ndPairs.select(col("id_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti"))
      // 3. quality gate.
      val qual = audited("qual", afterNd.filter(graft.ops.CoreOps.cents(
        graft.text.TextOps.qualityScore(col("text"),
          graft.queries.TextQueries.stopwords), 6) >= 700000L))
      // 4. shingle decontamination vs the persisted benchmark hashes.
      val withOv = Dedup.shingleHashSets(qual, "doc_id", "text", 3)
        .select(col("id"), explode(col("sh")).as("h"))
        .join(benchH, "h")
        .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
        .filter(col("n_overlap") >= 2)
      val fin = audited("fin", qual.join(withOv.select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti"))
      // 5. sink + fingerprint feedback: later triggers dedup against these.
      fin.write.mode("append").parquet(corpusDir)
      Dedup.fingerprints(fin, "text").write.mode("append").parquet(s"$stateDir/fp")
      val t = Trig(bid, bdf.count(), exactNew.count(), ndPairs.count(),
        afterNd.count(), qual.count(), fin.count())
      nAccepted += t.nFin
      trigs.synchronized { trigs += t }
      ()
    }.start()
    q.processAllAvailable()
    val progress = q.recentProgress.toSeq
    q.stop()
    val wall = (System.nanoTime() - t0) / 1e9
    val snap = stages.synchronized { stages.toVector }

    // Audit (a): pre-checkpoint logical plans per trigger.
    val frames = preCkptFiles.synchronized { preCkptFiles.toVector }
    val violations = frames.flatMap { case (n, fs) =>
      fs.filter(_.contains("history_text")).map(p => s"$n: $p")
    }
    require(violations.isEmpty,
      s"history text in a measured logical plan:\n${violations.mkString("\n")}")
    // Per trigger, exactly two frames are file-backed pre-checkpoint:
    // exactNew (landing files + fp state) and ndPairs (band/set state);
    // afterNd/qual/fin derive from already-checkpointed parents, so their
    // empty inputFiles are structural, not vacuous — audit (b) is the
    // scan-complete layer for those.
    require(frames.count(_._2.nonEmpty) >= trigs.size * 2,
      "audit (a) went vacuous: expected file-backed pre-checkpoint plans, got " +
        frames.count(_._2.nonEmpty) + " non-empty of " + frames.size)
    // Audit (b): drain the async listener bus, then check the runtime scans.
    Thread.sleep(3000)
    val rv = { import scala.jdk.CollectionConverters._; runtimeViolations.asScala.toSeq.sorted }
    require(rv.isEmpty,
      s"history text scanned at RUNTIME in the measured phase:\n${rv.mkString("\n")}")
    spark.listenerManager.unregister(qel)

    // Split-invariance: the stream's accepted fingerprint SET must equal the
    // one-shot batch funnel's (computed AFTER the measured snapshot, against
    // the INITIAL state — the fp feedback only removes already-present fps).
    val landing = spark.read.parquet(landingDir)
    val fpInit = Dedup.fingerprints(historyOnDisk, "text")
    val refExact = Dedup.dedupAgainstHistory(landing, fpInit, "text", nHistory)
      .localCheckpoint()
    val refNd = Dedup.incrementalNearDupsFromState(refExact, s"$stateDir/neardup",
      "doc_id", "text", 3, 16, 4, 0.5)
    val refAfterNd = refExact.join(refNd.select(col("id_new").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val refQual = refAfterNd.filter(graft.ops.CoreOps.cents(
      graft.text.TextOps.qualityScore(col("text"),
        graft.queries.TextQueries.stopwords), 6) >= 700000L)
    val refOv = Dedup.shingleHashSets(refQual, "doc_id", "text", 3)
      .select(col("id"), explode(col("sh")).as("h"))
      .join(benchH, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= 2)
    val refFin = refQual.join(refOv.select(col("id").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val refFp = Dedup.fingerprints(refFin, "text")
    val gotFp = Dedup.fingerprints(spark.read.parquet(corpusDir), "text")
    val onlyRef = refFp.exceptAll(gotFp).count()
    val onlyGot = gotFp.exceptAll(refFp).count()
    require(onlyRef == 0 && onlyGot == 0,
      s"stream corpus diverged from the one-shot funnel: $onlyRef fp only in " +
        s"reference, $onlyGot only in stream")
    val nRefDocs = refFin.count()
    val nGotDocs = spark.read.parquet(corpusDir).count()

    val ts = trigs.synchronized { trigs.sortBy(_.batchId).toVector }
    sb ++= s"## Per-trigger funnel (in -> exact-new -> [candidates] -> nd-new -> quality -> final)\n\n"
    sb ++= "| trigger | n_in | n_exact_new | nd_candidates | n_nd_new | n_quality | n_final | fp state rows at entry |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    var fpRows = nHistory
    ts.foreach { t =>
      sb ++= s"| ${t.batchId} | ${t.nIn} | ${t.nExact} | ${t.nCand} | ${t.nNd} | ${t.nQual} | ${t.nFin} | $fpRows |\n"
      fpRows += t.nFin
    }
    val totIn = ts.map(_.nIn).sum
    val totFin = ts.map(_.nFin).sum
    sb ++= s"\nTotals: $totIn in -> $totFin accepted over ${ts.size} triggers " +
      s"(${progress.count(_.numInputRows > 0)} non-empty progress events); " +
      f"measured wall $wall%.1f s (includes per-trigger state append + sink).\n\n"
    ts.foreach { t =>
      require(t.nIn >= t.nExact && t.nExact >= t.nNd && t.nNd >= t.nQual &&
        t.nQual >= t.nFin, s"funnel not monotone in trigger ${t.batchId}: $t")
    }
    sb ++= s"**Split-invariance: PASS** — the streamed corpus's distinct " +
      s"fingerprint set equals the one-shot batch funnel's over the same " +
      s"landing data ($nGotDocs streamed docs vs $nRefDocs one-shot docs; " +
      s"fingerprint sets identical both directions; the doc-count gap is " +
      s"the cross-trigger exact-dup copies the fingerprint feedback removed " +
      s"— the one-shot run keeps every copy, the stream keeps only copies " +
      s"landing in the same trigger).\n\n"
    sb ++= "**History-scan audit: PASS (two independent checks)** — (a) " +
      "`inputFiles` captured from every per-trigger frame's PRE-checkpoint " +
      "logical plan contains no path under the standing corpus's text " +
      "directory; (b) a QueryExecutionListener swept every EXECUTED " +
      "physical plan of the measured phase (AQE-final, subqueries included) " +
      "and found no FileSourceScan under history_text. The only file scans " +
      "are the landing files, the state tables (fingerprints incl. feedback " +
      "appends, bands, shingle sets, benchmark shingles), and the corpus " +
      "sink's own commits.\n\n"

    sb ++= f"## Exchange volumes (measured phase, all ${ts.size} triggers)\n\n" +
      f"Total: input ${snap.map(_.inMB).sum}%.1f MB, shuffle write " +
      f"${snap.map(_.swMB).sum}%.1f MB, shuffle read ${snap.map(_.srMB).sum}%.1f MB " +
      f"across ${snap.size} stages.\n\n"
    sb ++= "Top 10 stages by shuffle write:\n\n"
    sb ++= "| stage | tasks | dur ms | input MB | shuf write MB | shuf read MB | write rec |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    snap.sortBy(-_.swMB).take(10).foreach { s =>
      sb ++= f"| ${s.id} | ${s.tasks} | ${s.durMs} | ${s.inMB}%.1f | " +
        f"${s.swMB}%.1f | ${s.srMB}%.1f | ${s.swRec} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAMINCR_r14.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
