package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Incremental

/** High-watermark batch incrementality: exactly-once per partition across
  * runs, no advance on failure, no work on no-news.
  */
class IncrementalSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def land(dir: String, days: Seq[String]): Unit =
    days.foreach { d =>
      Seq((d, s"row-$d")).toDF("dataload", "payload")
        .write.mode("append").parquet(s"$dir/dataload=$d")
    }

  test("second run processes only partitions above the watermark") {
    val landing = TestSpark.tempDir("inc_landing_").toString
    val state = TestSpark.tempDir("inc_state_").toString
    // hive-style partition dirs surface dataload as a column on read
    Seq(("2023-03-01", 1L), ("2023-03-02", 2L)).toDF("dataload", "v")
      .write.partitionBy("dataload").mode("append").parquet(landing)

    var seen = Seq.empty[String]
    def run(): DataFrame = Incremental.processNew(spark, landing, "dataload", state) { d =>
      seen = seen ++ d.select("dataload").as[String].collect()
    }
    assert(run().count() == 2)
    assert(seen.sorted == Seq("2023-03-01", "2023-03-02"))
    assert(Incremental.readWatermark(state).contains("2023-03-02"))

    Seq(("2023-03-03", 3L)).toDF("dataload", "v")
      .write.partitionBy("dataload").mode("append").parquet(landing)
    seen = Seq.empty
    assert(run().count() == 1)
    assert(seen == Seq("2023-03-03"))
    assert(Incremental.readWatermark(state).contains("2023-03-03"))

    // nothing new: process must not run, watermark unchanged
    seen = Seq.empty
    assert(run().count() == 0)
    assert(seen.isEmpty)
    assert(Incremental.readWatermark(state).contains("2023-03-03"))
  }

  test("a failed process does not advance the watermark; retry reprocesses") {
    val landing = TestSpark.tempDir("inc_landing2_").toString
    val state = TestSpark.tempDir("inc_state2_").toString
    Seq(("2023-04-01", 1L)).toDF("dataload", "v")
      .write.partitionBy("dataload").mode("append").parquet(landing)

    intercept[RuntimeException] {
      Incremental.processNew(spark, landing, "dataload", state) { _ =>
        throw new RuntimeException("sink down")
      }
    }
    assert(Incremental.readWatermark(state).isEmpty)

    var n = 0L
    Incremental.processNew(spark, landing, "dataload", state) { d => n = d.count() }
    assert(n == 1L)
    assert(Incremental.readWatermark(state).contains("2023-04-01"))
  }

  test("numeric partition ids advance the watermark numerically, not lexically") {
    val landing = TestSpark.tempDir("inc_landing3_").toString
    val state = TestSpark.tempDir("inc_state3_").toString
    Seq((2L, "a"), (10L, "b")).toDF("batch_id", "v")
      .write.partitionBy("batch_id").mode("append").parquet(landing)
    var n = -1L
    Incremental.processNew(spark, landing, "batch_id", state) { d => n = d.count() }
    assert(n == 2L)
    assert(Incremental.readWatermark(state).contains("10")) // not "2"
    // nothing new: batch 10 must NOT be re-selected ("10" < "2" lexically)
    var ran = false
    val delta = Incremental.processNew(spark, landing, "batch_id", state) { _ => ran = true }
    assert(delta.count() == 0 && !ran)
  }

  test("deltaJoin: old∪delta view equals the full-recompute join, no dup terms") {
    val factOld = Seq((1L, "A"), (2L, "B")).toDF("oid", "fk")
    val factDelta = Seq((3L, "A"), (4L, "C")).toDF("oid", "fk")
    val dimOld = Seq(("A", "a")).toDF("dk", "attr")
    val dimDelta = Seq(("B", "b"), ("C", "c")).toDF("dk", "attr")
    val oldView = factOld.join(dimOld, factOld("fk") === dimOld("dk"))
    val refreshed = oldView.unionByName(
        Incremental.deltaJoin(factOld, factDelta, dimOld, dimDelta,
          "fk", "dk", expectedDimDelta = 100L))
      .select("oid", "attr").as[(Long, String)].collect().toSet
    val full = factOld.unionByName(factDelta)
      .join(dimOld.unionByName(dimDelta), $"fk" === $"dk")
      .select("oid", "attr").as[(Long, String)].collect().toSet
    assert(refreshed == full)
    assert(refreshed == Set((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")))
  }
}
