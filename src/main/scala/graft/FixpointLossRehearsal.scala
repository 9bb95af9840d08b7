package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.EntityResolution

/** Executor-loss rehearsal for the reliable-checkpoint fixpoint contract
  * (VERDICT r15 item 5). SCALE.md §3 promises: kernels taking a
  * `checkpointDir` (prefixFilterPairs, containmentPairs, bucketedPairSides,
  * graph/BPE fixpoints) survive task death because their materialization
  * points live in reliable storage, not executor-local blocks. The specs
  * pin API compatibility; this main rehearses the actual failure modes a
  * 1000-executor run hits, on a session with task retries enabled
  * (`local[8, 3]` — maxFailures 3; the suite's shared session runs
  * maxFailures 1 and would die on the first planted failure):
  *
  *   A. TASK DEATH + RETRY: a planted bomb throws exactly once inside a
  *      row evaluated during the kernel's input materialization (the
  *      checkpoint-write job itself). Spark retries the attempt; output
  *      must be identical to the undisturbed baseline — this is where a
  *      nondeterministic upstream (the r15 salting ADVICE) would corrupt.
  *   B. LINEAGE DESTROYED: the kernel checkpoints eagerly at call time;
  *      the SOURCE parquet is then deleted before the result is collected.
  *      Every downstream stage must come from checkpoint files alone —
  *      exactly what a lost executor's recompute relies on (with
  *      localCheckpoint the recompute would need the dead executor's
  *      blocks; with the reliable dir it re-reads the checkpoint).
  *   C. KILL MID-FIXPOINT: a SparkListener kills one running task attempt
  *      partway through an 8-iteration labelPropagation (after the Nth
  *      stage — inside the iteration chain, past the input checkpoint).
  *      The resubmitted task recomputes from the latest per-iteration
  *      checkpoint; the converged labels must be identical.
  *
  * Prints one PASS/FAIL line per phase; committed output in
  * FIXPOINT_LOSS_r16.md.
  */
object FixpointLossRehearsal {

  /** Throws exactly once after arm(), from whichever task evaluates the
    * next row — a stand-in for a task dying mid-write. JVM-static so the
    * state is shared with local-mode "executors". */
  object Bomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def touch(x: Long): Long = {
      if (armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted task death (rehearsal)")
      }
      x
    }
  }

  private def deleteRec(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      // Files.list holds a directory handle until closed — the recursive
      // walk would otherwise leak one fd per directory (ADVICE r16)
      val s = Files.list(p)
      try s.forEach(c => deleteRec(c)) finally s.close()
    }
    Files.deleteIfExists(p): Unit
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession(cpus = 8, taskMaxFailures = 3)
    spark.sparkContext.setLogLevel("ERROR") // planted failures log loudly at WARN
    import spark.implicits._

    val ckptRoot = Files.createTempDirectory("fixpoint_ckpt_").toString
    val srcRoot = Files.createTempDirectory("fixpoint_src_")
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val pass = try ok catch { case e: Throwable =>
        println(s"REHEARSAL $name threw: ${e.getMessage}"); false }
      if (!pass) failures += 1
      println(s"REHEARSAL $name ${if (pass) "PASS" else "FAIL"}")
    }

    // ---- fixture: 3000 element-set docs (seeded), written to parquet so
    // the lineage root is a deletable file scan
    val rng = new scala.util.Random(20260816L)
    val randomDocs = (1L to 3000L).map { id =>
      val n = 3 + rng.nextInt(15)
      (id, Seq.fill(n)("e" + rng.nextInt(400)).distinct)
    }
    // planted near-dups so the symmetric (prefix) join has real pairs to
    // lose: every 5th doc gets a twin differing by one appended element
    val docs = randomDocs ++ randomDocs.collect {
      case (id, ts) if id % 5 == 0 => (id + 10000L, ts :+ s"x$id")
    }
    val docsPath = srcRoot.resolve("docs")
    docs.toDF("id", "ts").write.parquet(docsPath.toString)
    def readDocs(): DataFrame = spark.read.parquet(docsPath.toString)

    def containment(df: DataFrame): Set[(Long, Long)] =
      EntityResolution.containmentPairs(df, "id", col("ts"), 8, 10,
          checkpointDir = Some(ckptRoot))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def prefixJoin(df: DataFrame): Set[(Long, Long)] =
      EntityResolution.prefixFilterPairs(df, "id", col("ts"), 6, 10,
          checkpointDir = Some(ckptRoot))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val baseC = containment(readDocs())
    val baseP = prefixJoin(readDocs())
    println(s"REHEARSAL baseline containment=${baseC.size} prefix=${baseP.size} pairs")

    // ---- A: planted task death during the kernel's checkpoint
    // materialization; maxFailures=3 absorbs the retry
    val bombU = udf((x: Long) => Bomb.touch(x))
    Bomb.armed.set(true); Bomb.fired.set(false)
    val gotAC = containment(readDocs().withColumn("id", bombU(col("id"))))
    check("A1_containment_task_death_retry")(Bomb.fired.get && gotAC == baseC)
    Bomb.armed.set(true); Bomb.fired.set(false)
    val gotAP = prefixJoin(readDocs().withColumn("id", bombU(col("id"))))
    check("A2_prefix_task_death_retry")(Bomb.fired.get && gotAP == baseP)

    // ---- B: destroy the lineage root after the eager reliable
    // checkpoint; the collect must be served from checkpoint files alone
    val planned = EntityResolution.containmentPairs(readDocs(), "id",
      col("ts"), 8, 10, checkpointDir = Some(ckptRoot)) // ckpts materialize HERE
    deleteRec(docsPath)
    check("B_lineage_destroyed_after_ckpt") {
      planned.select("id_a", "id_b").as[(Long, Long)].collect().toSet == baseC
    }

    // ---- C: kill one RUNNING task attempt mid-way through an iterative
    // graph fixpoint (past the input checkpoint, inside the iteration
    // chain). Killed tasks are resubmitted without counting as failures;
    // the recompute starts from the latest per-iteration checkpoint.
    val erng = new scala.util.Random(7L)
    val edges = (1 to 20000).map { _ =>
      (erng.nextInt(4000).toLong, erng.nextInt(4000).toLong)
    }.toDF("src", "dst").localCheckpoint()
    def labels(): Seq[(Long, Long)] =
      graft.graph.GraphAlgos.labelPropagation(edges, "src", "dst", iters = 8,
          checkpointDir = Some(ckptRoot))
        .as[(Long, Long)].collect().sorted.toSeq
    val baseL = labels()
    val stages = new AtomicInteger(0)
    val killedOnce = new AtomicBoolean(false)
    val killer = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskStart(
          t: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        if (stages.get() >= 12 && killedOnce.compareAndSet(false, true)) {
          spark.sparkContext.killTaskAttempt(t.taskInfo.taskId, true,
            "planted mid-fixpoint kill (rehearsal)"): Unit
        }
    }
    spark.sparkContext.addSparkListener(killer)
    val gotL = try labels()
    finally spark.sparkContext.removeSparkListener(killer)
    check("C_graph_fixpoint_task_killed")(killedOnce.get && gotL == baseL)

    println(s"REHEARSAL ${if (failures == 0) "ALL PASS" else s"$failures FAILED"}")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
