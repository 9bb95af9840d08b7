package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SocialStream
import graft.streaming.SocialStream.Engagement

/** Task death and query crashes against the streaming state-store commit
  * contract (offset and commit logs plus a versioned state store, the
  * exactly-once model of the Structured Streaming paper) that the stream
  * family rides. Runs in the `faults` group (`local[4, 3]`), and every
  * test fails if its injection never fired.
  *
  *   A. The sink throws after batch 2's stateful tasks committed their
  *      store deltas, before the commit log: on restart the batch replays
  *      against the last committed store version and the final per-key
  *      state converges (emissions are at-least-once, state exactly-once).
  *   B. A planted bomb kills one task inside the stateful stage, after its
  *      store opened for writes; the retried task recommits.
  *   C. Stop after 3 of 5 files, land the rest, restart: state reloads from
  *      the store and the drained files are never re-read.
  *   D. Phase A's crash on the within-watermark dedup stream: replay may
  *      re-emit, but the dedup state neither drops nor double-admits ids.
  */
class StreamFaultSpec extends AnyFunSuite with BeforeAndAfterAll {
  import StreamFaultSpec._

  private val spark = FaultSpark.spark
  import spark.implicits._

  override def beforeAll(): Unit = FaultSpark.requireFaultsGroup()

  private lazy val root = Files.createTempDirectory("stream_fault_")

  // 5 parquet files of 400 rows over 200 keys: heavy cross-file updates, so
  // latest-wins state changes in every micro-batch.
  private val t0 = 1700000000000L
  private lazy val waves: Seq[Seq[Row3]] = {
    val rng = new scala.util.Random(20260817L)
    (0 until 5).map { w =>
      (0 until 400).map { _ =>
        val id = "k" + rng.nextInt(200)
        val ts = new Timestamp(t0 + w * 3600000L + rng.nextInt(3600000))
        (id, ts, rng.nextInt(1000))
      }
    }
  }
  private lazy val truth = finalState(waves.flatten)

  /** A fresh per-phase dir under the suite's root. */
  private def dir(name: String): Path = Files.createDirectory(root.resolve(name))
  private def writeWaves(src: Path, ws: Range): Unit = ws.foreach { w =>
    waves(w).toDF("id", "ts", "score").coalesce(1)
      .write.mode("append").parquet(src.toString)
  }

  private def latestWins(src: Path, bombed: Boolean = false): DataFrame = {
    val s = SocialStream.readParquetStream(spark, src.toString, engSchema,
      maxFilesPerTrigger = 1).as[Engagement]
    val out = SocialStream.latestWinsState(s)
    (if (bombed) out.map { e => Bomb.touch(); e } else out).toDF()
  }

  /** Drains `df` from its checkpoint to the end of its source, appending
    * each batch's (id, rows) to `out`; false if the query died. */
  private def runToEnd(df: DataFrame, ckpt: Path, out: ArrayBuffer[(Long, Seq[Row3])],
      crashAt: Long = -1L): Boolean = {
    val q = df.writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("update")
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the collect is the action: the stateful stage runs, and each
        // task commits its store delta, before control returns here
        val rows = b.select("id", "ts", "score").as[Row3].collect().toSeq
        out.synchronized { out += ((id, rows)); () }
        SinkBomb.maybeThrow(id, crashAt)
      }
      .start()
    try { q.processAllAvailable(); q.stop(); true }
    catch { case _: Throwable => try q.stop() catch { case _: Throwable => () }; false }
  }

  private lazy val baseFinal: Map[String, (Timestamp, Int)] = {
    val src = dir("src_base")
    writeWaves(src, 0 until 5)
    val out = ArrayBuffer.empty[(Long, Seq[Row3])]
    assert(runToEnd(latestWins(src), dir("ckpt_base"), out))
    finalState(out.toSeq.flatMap(_._2))
  }

  test("0_baseline_matches_batch_truth") {
    assert(baseFinal == truth)
  }

  test("A_sink_crash_replays_and_converges") {
    val src = dir("src_a")
    writeWaves(src, 0 until 5)
    val ckpt = dir("ckpt_a")
    val out = ArrayBuffer.empty[(Long, Seq[Row3])]
    SinkBomb.arm()
    val firstRun = runToEnd(latestWins(src), ckpt, out, crashAt = 2L)
    assert(SinkBomb.fired.get && !firstRun, "A1: the planted sink crash never fired")
    // the restart replays batch 2 (its id is delivered twice) against the
    // batch-1 store version, then drains the tail past it
    assert(runToEnd(latestWins(src), ckpt, out))
    assert(out.count(_._1 == 2L) == 2 && out.map(_._1).max >= 4L,
      s"A2: batch ids ${out.map(_._1)}: batch 2 was not replayed exactly once")
    assert(finalState(out.toSeq.flatMap(_._2)) == baseFinal,
      "A3: the state did not converge to the baseline")
  }

  test("B_stateful_task_death_retry") {
    val src = dir("src_b")
    writeWaves(src, 0 until 5)
    val out = ArrayBuffer.empty[(Long, Seq[Row3])]
    Bomb.arm()
    val ok = runToEnd(latestWins(src, bombed = true), dir("ckpt_b"), out)
    assert(Bomb.fired.get, "the planted task death never fired")
    assert(ok)
    assert(finalState(out.toSeq.flatMap(_._2)) == baseFinal)
  }

  test("C_restart_reloads_state") {
    val src = dir("src_c")
    writeWaves(src, 0 until 3)
    val ckpt = dir("ckpt_c")
    val out = ArrayBuffer.empty[(Long, Seq[Row3])]
    assert(runToEnd(latestWins(src), ckpt, out))
    val batchesBefore = out.size
    writeWaves(src, 3 until 5)
    assert(runToEnd(latestWins(src), ckpt, out))
    val (pre, post) = out.toSeq.splitAt(batchesBefore)
    val storedBest = finalState(pre.flatMap(_._2))
    val tupleOrd = implicitly[Ordering[(Timestamp, Int)]]
    assert(post.nonEmpty)
    assert(finalState(out.toSeq.flatMap(_._2)) == baseFinal)
    post.flatMap(_._2).foreach { case (k, ts, sc) =>
      // only the late files were processed: a re-read wave 0-2 file would
      // emit a timestamp before the cutoff
      assert(ts.getTime >= t0 + 3 * 3600000L, s"$k re-emitted from a drained file")
      // and the store carried each key's best across the stop: with the
      // state lost, a late row below the stored best would be emitted
      assert(storedBest.get(k).forall(b => tupleOrd.gt((ts, sc), b)),
        s"$k emitted below its stored best")
    }
  }

  test("D_dedup_state_exactly_once") {
    val src = dir("src_d")
    writeWaves(src, 0 until 5)
    val ckpt = dir("ckpt_d")
    def dedupStream(): DataFrame =
      SocialStream.dedupWithinWatermark(
        SocialStream.readParquetStream(spark, src.toString, engSchema,
          maxFilesPerTrigger = 1),
        "ts", Seq("id"), "2 days")
    val out = ArrayBuffer.empty[(Long, Seq[Row3])]
    SinkBomb.arm()
    assert(!runToEnd(dedupStream(), ckpt, out, crashAt = 2L) && SinkBomb.fired.get,
      "the planted sink crash never fired")
    assert(runToEnd(dedupStream(), ckpt, out))
    // every key admitted (nothing lost in the crash window), and a key may
    // arrive twice only across the crash, never within one batch
    assert(out.flatMap(_._2).map(_._1).toSet == truth.keySet)
    out.foreach { case (id, rows) =>
      assert(rows.map(_._1).distinct.size == rows.size, s"batch $id admitted a key twice")
    }
  }
}

object StreamFaultSpec {
  type Row3 = (String, Timestamp, Int)

  val engSchema = StructType(Seq(
    StructField("id", StringType),
    StructField("ts", TimestampType),
    StructField("score", IntegerType)))

  /** Newest-wins reduction: the operator's own total order (ts, score). */
  def finalState(rows: Seq[Row3]): Map[String, (Timestamp, Int)] =
    rows.groupBy(_._1).map { case (id, rs) => id -> rs.map(r => (r._2, r._3)).max }

  /** Throws exactly once after arm(), from the task that evaluates the next
    * stateful row. JVM-static, so local-mode tasks share it with the driver. */
  object Bomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def arm(): Unit = { fired.set(false); armed.set(true) }
    def touch(): Unit =
      if (armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted stateful-task death")
      }
  }

  /** Sink-side bomb: throws once, at the given batch id. */
  object SinkBomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def arm(): Unit = { fired.set(false); armed.set(true) }
    def maybeThrow(batchId: Long, at: Long): Unit =
      if (batchId == at && armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted post-state-commit sink crash")
      }
  }
}
