package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.BloomJoin

/** Bloom semi-join reduction: exactness (false positives removed by the
  * join, no false negatives), the fpp bound doing real reduction, and the
  * pre-filter sitting on the fact side BELOW the join in the plan.
  */
class BloomJoinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def onDisk(df: org.apache.spark.sql.DataFrame) = {
    val dir = TestSpark.tempDir("graft_bloom_").toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("reducedJoin returns exactly the plain inner join") {
    val fact = onDisk((1L to 2000L).map(i => (i, i % 50, s"p$i"))
      .toDF("row_id", "key", "payload"))
    val dim = onDisk(Seq((3L, "a"), (17L, "b"), (42L, "c")).toDF("k", "name"))
    val got = BloomJoin.reducedJoin(fact, "key", dim, "k", expectedItems = 10L)
      .select("row_id", "key", "name")
    val want = fact.join(dim, col("key") === col("k")).select("row_id", "key", "name")
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 2000 / 50 * 3)
  }

  test("sketch passes all members and rejects non-members within the fpp bound") {
    val dim = onDisk((0L until 1000L).toDF("k"))
    val sketch = BloomJoin.buildSketch(dim, "k", expectedItems = 1000L, fpp = 0.03)
    val members = onDisk((0L until 1000L).toDF("key"))
    assert(members.filter(BloomJoin.mightContain(members, col("key"), sketch))
      .count() == 1000L) // no false negatives, ever
    val probes = onDisk((1000000L until 1010000L).toDF("key"))
    val fp = probes.filter(BloomJoin.mightContain(probes, col("key"), sketch)).count()
    assert(fp < 10000 * 0.03 * 3, s"false-positive count $fp exceeds 3x fpp budget")
  }

  test("empty dim: sketch rejects everything, join is empty (no NPE)") {
    val fact = onDisk((1L to 100L).map(i => (i, i % 5)).toDF("row_id", "key"))
    val dim = onDisk(Seq((1L, "x")).toDF("k", "name")).filter(col("k") < 0)
    val out = BloomJoin.reducedJoin(fact, "key", dim, "k", expectedItems = 10L)
    assert(out.count() == 0)
    val sketch = BloomJoin.buildSketch(dim, "k", expectedItems = 10L)
    assert(fact.filter(BloomJoin.mightContain(fact, col("key"), sketch)).count() == 0)
  }

  test("string keys: membership semantics and null-key rows dropped") {
    val dim = onDisk(Seq("alice", "bob").toDF("name"))
    val sketch = BloomJoin.buildSketch(dim, "name", expectedItems = 10L)
    val probe = onDisk(Seq(Some("alice"), Some("carol"), None).toDF("name"))
    val kept = probe.filter(BloomJoin.mightContain(probe, col("name"), sketch))
      .as[String].collect()
    assert(kept.toSeq == Seq("alice"))
  }

  test("pre-filter lands on the fact side, below the join") {
    val fact = onDisk((1L to 500L).map(i => (i, i % 20)).toDF("row_id", "key"))
    val dim = onDisk(Seq((1L, "x"), (2L, "y")).toDF("k", "name"))
    val q = BloomJoin.reducedJoin(fact, "key", dim, "k", expectedItems = 10L)
    q.collect()
    // Final-plan string (AQE wraps stages in QueryStageExec whose wrapped
    // plan is not in `children`, so node-collects stop at stage borders).
    val s = q.queryExecution.executedPlan.toString
    val plan = { val cut = s.indexOf("== Initial Plan =="); if (cut >= 0) s.substring(0, cut) else s }
    assert(plan.contains("Join"), "no join in plan")
    // A Filter testing the FACT key column can only sit below the join.
    // (Catalyst additionally infers the predicate onto the dim side through
    // the join equality — harmless, the sketch is tiny.)
    assert(plan.contains("bloom_might_contain(key#"),
      s"no bloom pre-filter on the fact key:\n$plan")
  }

  test("same-named key columns on both sides resolve (qualified join refs)") {
    val fact = onDisk((1L to 100L).map(i => (i, i % 5)).toDF("row_id", "id"))
    val dim = onDisk(Seq((1L, "x"), (2L, "y")).toDF("id", "name"))
    val out = BloomJoin.reducedJoin(fact, "id", dim, "id", expectedItems = 10L)
    assert(out.count() == 40)
  }
}
