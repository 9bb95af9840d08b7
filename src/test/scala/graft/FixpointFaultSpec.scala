package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileUtil
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphAlgos
import graft.ops.EntityResolution

/** Task death and lineage loss against the reliable-checkpoint contract
  * (SCALE.md §3): kernels that take a `checkpointDir` (containmentPairs,
  * prefixFilterPairs, the graph fixpoints) survive a lost task because
  * their materialization points live in reliable storage, not in
  * executor-local blocks. Runs in the `faults` group (`local[4, 3]`), and
  * every test fails if its injection never fired.
  *
  *   A. A planted bomb throws once inside the kernel's input
  *      materialization (the checkpoint-write job itself); the retried
  *      attempt must give the undisturbed baseline's pairs.
  *   B. The kernel checkpoints eagerly at call time; its source parquet is
  *      then deleted, so the collect must be served from checkpoint files.
  *   C. A listener kills one running task inside an 8-iteration
  *      labelPropagation, past the input checkpoint; the resubmitted task
  *      recomputes from the latest per-iteration checkpoint.
  */
class FixpointFaultSpec extends AnyFunSuite with BeforeAndAfterAll {
  import FixpointFaultSpec._

  private val spark = FaultSpark.spark
  import spark.implicits._

  override def beforeAll(): Unit = FaultSpark.requireFaultsGroup()

  // One reliable checkpoint root for the JVM: Checkpoints.ensureDir is set-once.
  private lazy val ckptRoot = TestSpark.tempDir("fixpoint_ckpt_")
  private lazy val srcRoot = TestSpark.tempDir("fixpoint_src_")

  // 3,000 seeded element-set docs, plus a twin of every 5th doc differing by
  // one appended element, so the symmetric (prefix) join has pairs to lose.
  private lazy val docs: Seq[(Long, Seq[String])] = {
    val rng = new scala.util.Random(20260816L)
    val randomDocs = (1L to 3000L).map { id =>
      val n = 3 + rng.nextInt(15)
      (id, Seq.fill(n)("e" + rng.nextInt(400)).distinct)
    }
    randomDocs ++ randomDocs.collect {
      case (id, ts) if id % 5 == 0 => (id + 10000L, ts :+ s"x$id")
    }
  }

  /** The docs written to their own parquet dir, so the lineage root is a
    * deletable file scan. */
  private def writeDocs(name: String): Path = {
    val p = srcRoot.resolve(name)
    docs.toDF("id", "ts").write.parquet(p.toString)
    p
  }
  private lazy val docsPath = writeDocs("docs")
  private def readDocs(p: Path = docsPath): DataFrame = spark.read.parquet(p.toString)

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
  private def containment(df: DataFrame): DataFrame =
    EntityResolution.containmentPairs(df, "id", col("ts"), 8, 10,
      checkpointDir = Some(ckptRoot.toString))
  private def prefixJoin(df: DataFrame): DataFrame =
    EntityResolution.prefixFilterPairs(df, "id", col("ts"), 6, 10,
      checkpointDir = Some(ckptRoot.toString))

  private lazy val baseC = pairs(containment(readDocs()))
  private lazy val baseP = pairs(prefixJoin(readDocs()))

  private def bombed(): DataFrame = {
    val bombU = udf((x: Long) => Bomb.touch(x))
    readDocs().withColumn("id", bombU(col("id")))
  }

  test("A1_containment_task_death_retry") {
    assert(baseC.size == 619)
    Bomb.arm()
    val got = pairs(containment(bombed()))
    assert(Bomb.fired.get, "the planted task death never fired")
    assert(got == baseC)
  }

  test("A2_prefix_task_death_retry") {
    assert(baseP.size == 600)
    Bomb.arm()
    val got = pairs(prefixJoin(bombed()))
    assert(Bomb.fired.get, "the planted task death never fired")
    assert(got == baseP)
  }

  test("B_lineage_destroyed_after_ckpt") {
    val own = writeDocs("docs_b")
    val planned = containment(readDocs(own)) // the checkpoints materialize here
    assert(FileUtil.fullyDelete(own.toFile) && !Files.exists(own))
    assert(pairs(planned) == baseC)
  }

  test("C_graph_fixpoint_task_killed") {
    val erng = new scala.util.Random(7L)
    val edges = (1 to 20000).map { _ =>
      (erng.nextInt(4000).toLong, erng.nextInt(4000).toLong)
    }.toDF("src", "dst").localCheckpoint()
    def labels(): Seq[(Long, Long)] =
      GraphAlgos.labelPropagation(edges, "src", "dst", iters = 8,
          checkpointDir = Some(ckptRoot.toString))
        .as[(Long, Long)].collect().sorted.toSeq
    val baseL = labels()

    // Kill one running attempt once 12 stages of the run have started, and
    // record how many of the run's reliable checkpoints already existed then:
    // two or more means the input's checkpoint was written before the kill.
    val before = rddCheckpointDirs(ckptRoot)
    val stages = new AtomicInteger(0)
    val killedOnce = new AtomicBoolean(false)
    val ckptsAtKill = new AtomicInteger(-1)
    val killer = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        if (stages.get() >= 12 && killedOnce.compareAndSet(false, true)) {
          ckptsAtKill.set((rddCheckpointDirs(ckptRoot) -- before).size)
          spark.sparkContext.killTaskAttempt(t.taskInfo.taskId, true,
            "planted mid-fixpoint kill"): Unit
        }
    }
    spark.sparkContext.addSparkListener(killer)
    val got = try labels() finally spark.sparkContext.removeSparkListener(killer)
    assert(killedOnce.get, "the planted kill never fired")
    assert(ckptsAtKill.get >= 2,
      s"the kill landed with ${ckptsAtKill.get} of this run's checkpoints written, " +
        "not past the input checkpoint")
    assert(got == baseL)
  }
}

object FixpointFaultSpec {

  /** Throws exactly once after arm(), from whichever task evaluates the
    * next row: a stand-in for a task dying mid-write. JVM-static so the
    * state is shared with local-mode "executors". */
  object Bomb {
    val armed = new AtomicBoolean(false)
    val fired = new AtomicBoolean(false)
    def arm(): Unit = { fired.set(false); armed.set(true) }
    def touch(x: Long): Long = {
      if (armed.compareAndSet(true, false)) {
        fired.set(true)
        throw new RuntimeException("planted task death")
      }
      x
    }
  }

  /** The `rdd-N` dirs Spark has written under the reliable checkpoint
    * root (`<root>/<application uuid>/rdd-N`). */
  def rddCheckpointDirs(root: Path): Set[Path] = {
    val s = Files.walk(root, 2)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("rdd-")).toSet
    finally s.close()
  }
}
