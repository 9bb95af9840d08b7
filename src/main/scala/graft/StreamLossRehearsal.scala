package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.SocialStream
import graft.streaming.SocialStream.Engagement

/** Executor/driver-loss rehearsal for STREAMING state (VERDICT r16 item 6).
  * FIXPOINT_LOSS_r16 rehearsed the batch checkpoint contract; this main
  * rehearses the HDFS-backed state-store commit contract the streaming
  * family (q66-q68, q72, q244…) relies on, with the same CAS-asserted
  * injection standard — a rehearsal whose bomb never fired cannot pass.
  *
  *   A. CRASH BETWEEN STATE COMMIT AND BATCH COMMIT: the micro-batch's
  *      stateful tasks finish (each task commits its state-store delta for
  *      version v+1) and THEN the sink throws — the batch dies with state
  *      committed ahead of the offsets/commit logs, the exact window a
  *      lost driver/executor hits. On restart the query must replay the
  *      batch against the last COMMITTED store version and converge to
  *      the undisturbed baseline's final per-key state (update-mode
  *      emissions are at-least-once across the crash; the STATE is what
  *      must be exactly-once).
  *   B. TASK DEATH INSIDE THE STATEFUL STAGE: a planted bomb throws once
  *      from a task evaluating latestWinsState output mid-batch — after
  *      the store opened for writes, before that task's commit. The store
  *      must abort the attempt's delta; the retried task recommits; final
  *      state identical.
  *   C. HARD STOP + LATE DATA: stop the query after 3 of 5 files, write
  *      the remaining files, restart from the checkpoint — the state
  *      (key timestamps/scores) must reload from the store, not be
  *      rebuilt from reprocessed input (the already-drained files are
  *      never re-read).
  *   D. Phase-A crash on the WITHIN-WATERMARK DEDUP stream: replayed
  *      batches re-emit (at-least-once) but the dedup STATE must not
  *      double-admit — the distinct id set equals the baseline's.
  *
  * Prints one PASS/FAIL line per phase; committed output in
  * STREAM_LOSS_r17.md.
  */
object StreamLossRehearsal {

  /** Throws exactly once after arm() — JVM-static so local-mode "executor"
    * tasks share it with the driver (the FixpointLossRehearsal pattern). */
  object Bomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def touch(): Unit =
      if (armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted stateful-task death (rehearsal)")
      }
  }

  /** Sink-side bomb for phase A/D: fires once, at the given batch id. */
  object SinkBomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def maybeThrow(batchId: Long, at: Long): Unit =
      if (batchId == at && armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted post-state-commit sink crash (rehearsal)")
      }
  }

  private val engSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("ts", TimestampType),
    StructField("score", IntegerType)))

  /** Newest-wins reduction — the operator's own total order (ts, score). */
  private def finalState(rows: Seq[(String, java.sql.Timestamp, Int)])
      : Map[String, (java.sql.Timestamp, Int)] =
    rows.groupBy(_._1).map { case (id, rs) =>
      id -> rs.map(r => (r._2, r._3)).maxBy(identity)
    }

  def main(args: Array[String]): Unit = {
    // task maxFailures 3: phase B's death must retry
    val spark = GraftSession(cpus = 8, taskMaxFailures = 3)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val root = Files.createTempDirectory("stream_loss_")
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable =>
        println(s"REHEARSAL $name threw: ${e.getMessage}"); false }
      if (!pass) failures += 1
      println(s"REHEARSAL $name ${if (pass) "PASS" else "FAIL"}")
    }

    // ---- fixture: 5 parquet files, 200 keys, heavy cross-file updates so
    // latest-wins state actually changes across micro-batches (seeded)
    val rng = new scala.util.Random(20260817L)
    val t0 = 1700000000000L
    val waves: Seq[Seq[(String, java.sql.Timestamp, Int)]] =
      (0 until 5).map { w =>
        (0 until 400).map { _ =>
          val id = "k" + rng.nextInt(200)
          val ts = new java.sql.Timestamp(
            t0 + w * 3600000L + rng.nextInt(3600000))
          (id, ts, rng.nextInt(1000))
        }
      }
    val allRows = waves.flatten
    val truth = finalState(allRows)
    def writeWave(dir: Path, w: Int): Unit =
      waves(w).toDF("id", "ts", "score").coalesce(1)
        .write.mode("append").parquet(dir.toString)

    // Emissions buffer shared with the foreachBatch closure (driver-side).
    val emitted =
      new scala.collection.mutable.ArrayBuffer[(Long, Seq[(String, java.sql.Timestamp, Int)])]
    def collectBatch(b: DataFrame, id: Long): Unit = {
      // the collect is the action: the stateful stage runs (and its store
      // deltas COMMIT, per task) before control returns here
      val rows = b.select("id", "ts", "score")
        .as[(String, java.sql.Timestamp, Int)].collect().toSeq
      emitted.synchronized { emitted += ((id, rows)); () }
    }

    def latestWins(src: Path, bombed: Boolean): DataFrame = {
      val s = SocialStream.readParquetStream(spark, src.toString, engSchema,
        maxFilesPerTrigger = 1).as[Engagement]
      val out = SocialStream.latestWinsState(s)
      (if (bombed) out.map { e => Bomb.touch(); e } else out).toDF()
    }

    def runToEnd(df: DataFrame, ckpt: Path, crashAt: Long = -1L): Boolean = {
      val q = df.writeStream
        .option("checkpointLocation", ckpt.toString)
        .outputMode("update")
        .foreachBatch { (b: DataFrame, id: Long) =>
          collectBatch(b, id)
          SinkBomb.maybeThrow(id, crashAt)
        }
        .start()
      try { q.processAllAvailable(); q.stop(); true }
      catch { case _: Throwable => try q.stop() catch { case _: Throwable => () }; false }
    }

    // ---- baseline: undisturbed run
    val srcBase = Files.createDirectory(root.resolve("src_base"))
    (0 until 5).foreach(writeWave(srcBase, _))
    emitted.clear()
    require(runToEnd(latestWins(srcBase, bombed = false),
      Files.createDirectory(root.resolve("ckpt_base"))))
    val baseEmit = emitted.toSeq
    val baseFinal = finalState(baseEmit.flatMap(_._2))
    println(s"REHEARSAL baseline batches=${baseEmit.size} " +
      s"emissions=${baseEmit.map(_._2.size).sum} keys=${baseFinal.size}")
    check("0_baseline_matches_batch_truth")(baseFinal == truth)

    // ---- A: sink crash AFTER the stateful stage committed its store
    // deltas for batch 2, BEFORE the commit-log entry; restart replays
    val srcA = Files.createDirectory(root.resolve("src_a"))
    (0 until 5).foreach(writeWave(srcA, _))
    val ckptA = Files.createDirectory(root.resolve("ckpt_a"))
    emitted.clear()
    SinkBomb.armed.set(true); SinkBomb.fired.set(false)
    val firstRun = runToEnd(latestWins(srcA, bombed = false), ckptA, crashAt = 2L)
    check("A1_sink_crash_fired")(SinkBomb.fired.get && !firstRun)
    // restart from the same checkpoint: batch 2 must REPLAY (same id seen
    // again) against the batch-1 store version, then the tail drains
    require(runToEnd(latestWins(srcA, bombed = false), ckptA))
    val aEmit = emitted.toSeq
    // batch ids run 0..4 for the 5 files plus possible trailing no-data
    // watermark batches — assert the crashed batch's ID was delivered
    // TWICE and the tail still drained past it
    check("A2_batch_replayed_not_skipped")(
      aEmit.count(_._1 == 2L) == 2 && aEmit.map(_._1).max >= 4L)
    check("A3_state_converges_to_baseline")(
      finalState(aEmit.flatMap(_._2)) == baseFinal)

    // ---- B: planted task death INSIDE the stateful stage (post-open,
    // pre-commit for that attempt); maxFailures=3 absorbs the retry and
    // the aborted attempt's store delta must not corrupt the final state
    val srcB = Files.createDirectory(root.resolve("src_b"))
    (0 until 5).foreach(writeWave(srcB, _))
    emitted.clear()
    Bomb.armed.set(true); Bomb.fired.set(false)
    val bOk = runToEnd(latestWins(srcB, bombed = true),
      Files.createDirectory(root.resolve("ckpt_b")))
    check("B_stateful_task_death_retry")(
      Bomb.fired.get && bOk && finalState(emitted.toSeq.flatMap(_._2)) == baseFinal)

    // ---- C: hard stop after 3 files; late files arrive; restart reloads
    // state from the store (the drained files are never re-listed)
    val srcC = Files.createDirectory(root.resolve("src_c"))
    (0 until 3).foreach(writeWave(srcC, _))
    val ckptC = Files.createDirectory(root.resolve("ckpt_c"))
    emitted.clear()
    require(runToEnd(latestWins(srcC, bombed = false), ckptC))
    val batchesBefore = emitted.size
    (3 until 5).foreach(writeWave(srcC, _))
    require(runToEnd(latestWins(srcC, bombed = false), ckptC))
    val cEmit = emitted.toSeq
    val (cPre, cPost) = cEmit.splitAt(batchesBefore)
    val storedBest = finalState(cPre.flatMap(_._2))
    val tupleOrd = implicitly[Ordering[(java.sql.Timestamp, Int)]]
    check("C_restart_reloads_state") {
      finalState(cEmit.flatMap(_._2)) == baseFinal &&
        cPost.flatMap(_._2).forall { case (k, ts, sc) =>
          // only the LATE files were processed: a re-listed wave-0..2 file
          // would emit pre-cutoff timestamps
          ts.getTime >= t0 + 3 * 3600000L &&
            // and the store carried each key's best across the stop: had
            // state been lost, a late arrival BELOW the stored best would
            // have been crowned new best and emitted — never allowed here
            storedBest.get(k).forall(b => tupleOrd.gt((ts, sc), b))
        }
    }

    // ---- D: phase-A crash on the dedup stream — replay may re-emit, but
    // the dedup STATE must not double-admit or drop ids
    val srcD = Files.createDirectory(root.resolve("src_d"))
    (0 until 5).foreach(writeWave(srcD, _))
    val ckptD = Files.createDirectory(root.resolve("ckpt_d"))
    def dedupStream(): DataFrame =
      SocialStream.dedupWithinWatermark(
        SocialStream.readParquetStream(spark, srcD.toString, engSchema,
          maxFilesPerTrigger = 1),
        "ts", Seq("id"), "2 days")
    emitted.clear()
    SinkBomb.armed.set(true); SinkBomb.fired.set(false)
    val dFirst = runToEnd(dedupStream(), ckptD, crashAt = 2L)
    require(!dFirst && SinkBomb.fired.get, "phase D bomb did not fire")
    require(runToEnd(dedupStream(), ckptD))
    val dIds = emitted.toSeq.flatMap(_._2).map(_._1)
    check("D_dedup_state_exactly_once") {
      // every key admitted at least once (nothing lost in the crash
      // window), and the only over-emission is the replayed batch itself:
      // a key may arrive twice ACROSS the crash, never within a live batch
      dIds.toSet == truth.keySet &&
        emitted.toSeq.forall { case (_, rows) =>
          rows.map(_._1).distinct.size == rows.size
        }
    }

    println(s"REHEARSAL ${if (failures == 0) "ALL PASS" else s"$failures FAILED"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
