package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.ops.Checkpoints

/** Scheme-aware checkpoint-root compatibility (ADVICE r9/r10: the old
  * normalizer stripped scheme+authority, so a cross-FILESYSTEM redirect
  * passed the set-once guard silently). `ensureDir` itself mutates global
  * SparkContext state, so the comparison is specced directly. Then the
  * fixpoint loop every iterative graph operator runs its passes through,
  * and the eager executor-local fill that SocialPipeline.writeSinks uses,
  * which sizes its output by the bytes it filled.
  */
class CheckpointsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private val spark = TestSpark.spark
  private val conf = spark.sparkContext.hadoopConfiguration

  test("same root accepted: qualified existing vs scheme-less request") {
    // getCheckpointDir returns file:/… with a UUID child; callers pass
    // the bare local root
    assert(Checkpoints.compatible("file:/tmp/ck/uuid-1234", "/tmp/ck", conf))
    assert(Checkpoints.compatible("file:/tmp/ck", "/tmp/ck", conf))
    // path spelling noise (doubled/trailing slashes) is normalized
    assert(Checkpoints.compatible("file:/tmp//ck/", "/tmp/ck", conf))
  }

  test("cross-scheme redirect rejected even with identical paths") {
    assert(!Checkpoints.compatible("hdfs:/ckpt", "file:/ckpt", conf))
    assert(!Checkpoints.compatible("file:/ckpt", "hdfs:/ckpt", conf))
  }

  test("cross-authority (different namenode/bucket) rejected") {
    assert(!Checkpoints.compatible(
      "hdfs://nn-a/ckpt/uuid", "hdfs://nn-b/ckpt", conf))
    assert(Checkpoints.compatible(
      "hdfs://nn-a/ckpt/uuid", "hdfs://nn-a/ckpt", conf))
  }

  test("sibling root still rejected (prefix is path-segment-aware)") {
    assert(!Checkpoints.compatible("file:/tmp/ck2", "/tmp/ck", conf))
    assert(!Checkpoints.compatible("file:/tmp/ckpt-other", "/tmp/ckpt", conf))
  }

  // ------------------------------------------------------------ fixpoint

  /** Counts up by one per pass from x = 0..4; settles once max(x) reaches
    * `target`. Returns the fixpoint's output and the passes it ran. */
  private def countUp(target: Long, maxPasses: Int, dir: Option[String] = None,
      mustSettle: Boolean = true): (DataFrame, Int) = {
    var passes = 0
    val out = Checkpoints.fixpoint("countUp", spark.range(5).toDF("x"), maxPasses,
        dir, mustSettle) { s =>
      passes += 1
      s.select((col("x") + 1).as("x"))
    } { (_, next) => next.agg(max(col("x"))).head().getLong(0) >= target }
    (out, passes)
  }

  private def maxX(df: DataFrame): Long = df.agg(max(col("x"))).head().getLong(0)

  test("fixpoint stops at the first pass whose test holds") {
    val (out, passes) = countUp(target = 7L, maxPasses = 10)
    assert(passes == 3)
    assert(maxX(out) == 7L)
  }

  test("fixpoint at the cap: throws naming the operator and the cap, or returns the last pass") {
    val e = intercept[IllegalStateException](countUp(target = 100L, maxPasses = 4))
    assert(e.getMessage == "countUp: not settled after 4 passes")
    val (out, passes) = countUp(target = 100L, maxPasses = 4, mustSettle = false)
    assert(passes == 4)
    assert(maxX(out) == 8L)
  }

  test("fixpoint cuts lineage every pass: the result is a LogicalRDD") {
    val (out, _) = countUp(target = 6L, maxPasses = 10)
    assert(out.queryExecution.logical.isInstanceOf[LogicalRDD])
  }

  test("fixpoint writes reliable checkpoints only under Some(dir)") {
    // set-once root: reuse one an earlier suite pinned (GraphAlgosSpec)
    val dir = spark.sparkContext.getCheckpointDir match {
      case Some(existing) => new java.net.URI(existing).getPath
      case None => TestSpark.tempDir("graft_ckpt_").toString
    }
    def written() = FixpointFaultSpec.rddCheckpointDirs(java.nio.file.Paths.get(dir))
    val before = written()
    val (local, _) = countUp(target = 7L, maxPasses = 10)
    assert(maxX(local) == 7L)
    assert(written() == before)
    val (reliable, passes) = countUp(target = 7L, maxPasses = 10, dir = Some(dir))
    assert(maxX(reliable) == 7L)
    assert(reliable.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert((written() -- before).size == passes)
  }

  test("eager local materialize fills in one job; a released frame fails instead of recomputing") {
    val evals = udf((x: Long) => { CheckpointsSpec.evals.incrementAndGet(); x }).asNondeterministic()
    val src = spark.range(0, 1000, 1, 4).select(evals(col("id")).as("x"))
    CheckpointsSpec.evals.set(0L)
    val (filled, jobs) = SinkProbes.jobCount(spark)(Checkpoints.materialize(src, None, eager = true))
    assert(jobs == 1 && CheckpointsSpec.evals.get == 1000L)
    // the cut, under at most the coalesce that sizes it
    assert(PartialFunction.cond(filled.queryExecution.logical) {
      case _: LogicalRDD | Repartition(1, false, _: LogicalRDD) => true
    })
    assert(filled.agg(sum("x")).head().getLong(0) == 499500L)
    assert(CheckpointsSpec.evals.get == 1000L) // read from the blocks
    // a released frame stands in for a lost executor: its blocks are gone
    Checkpoints.release(filled)
    eventually(timeout(10.seconds)) {
      val e = intercept[Exception](filled.count())
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(e).exists(_.contains("Checkpoint block")), e)
    }
    assert(CheckpointsSpec.evals.get == 1000L) // never recomputed from lineage
  }

  test("an eager fill smaller than the advisory size is one partition: dropDuplicates plans no shuffle") {
    val filled = Checkpoints.materialize(
      spark.range(0, 1000, 1, 4).select((col("id") % 10).as("x")), None, eager = true)
    try {
      assert(filled.rdd.getNumPartitions == 1)
      val distinct = filled.dropDuplicates()
      assert(distinct.count() == 10)
      val shuffles = collect(distinct.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty, distinct.queryExecution.executedPlan)
    } finally Checkpoints.release(filled)
  }

  test("an eager fill larger than the advisory size is returned as filled") {
    // a row of one non-null long is 16 bytes (a null-bit word and the
    // field): 1000 rows are 16,000 bytes over 8 filled partitions
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "4096")
    try {
      val filled = Checkpoints.materialize(spark.range(0, 1000, 1, 8).toDF("x"), None, eager = true)
      try {
        val leaf = filled.queryExecution.logical
        assert(PartialFunction.cond(leaf) { case r: LogicalRDD => r.rdd.getNumPartitions == 8 }, leaf)
        assert(filled.collect().map(_.getLong(0)).toSeq.sorted == (0L until 1000L))
      } finally Checkpoints.release(filled)
    } finally spark.conf.unset(key)
  }
}

object CheckpointsSpec {
  /** Rows evaluated by the counting UDF; JVM-static, so local-mode tasks
    * all add to it. */
  val evals = new AtomicLong
}
