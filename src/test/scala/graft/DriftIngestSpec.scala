package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DriftIngest

class DriftIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    TestSpark.tempDir(prefix).toString

  private val wide = StructType(Seq(
    StructField("id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType))) // lang added after the first crawl

  test("readQuarantined: old-schema rows parse with nulls, corrupt rows land in _corrupt_record") {
    val dir = tmp("drift_json_")
    // v1 writer (no lang), v2 writer (lang), one truncated object.
    Files.write(java.nio.file.Paths.get(dir, "v1.json"),
      """{"id": 1, "text": "hello"}
        |{"id": 2, "text": "world"}
        |""".stripMargin.getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(dir, "v2.json"),
      """{"id": 3, "text": "bonjour", "lang": "fr"}
        |{"id": 4, "text": "truncated...
        |""".stripMargin.getBytes("UTF-8"))
    val parsed = DriftIngest.readQuarantined(spark, dir, wide)
    val rows = parsed
      .select(col("id"), col("lang"), col("_corrupt_record").isNotNull.as("bad"))
      .as[(Option[Long], Option[String], Boolean)].collect()
    assert(rows.count(_._3) == 1)                       // exactly one quarantined
    assert(rows.filter(!_._3).map(_._1.get).toSet == Set(1L, 2L, 3L))
    assert(rows.exists(r => r._1.contains(3L) && r._2.contains("fr")))
    assert(rows.filter(r => !r._3 && r._1.exists(_ < 3L)).forall(_._2.isEmpty))
  }

  test("readQuarantined refuses a schema that already has _corrupt_record") {
    intercept[IllegalArgumentException] {
      DriftIngest.readQuarantined(spark, "/nonexistent",
        wide.add("_corrupt_record", StringType))
    }
  }

  test("quarantineSummary: one aggregate buckets clean rows by column, bad rows separately") {
    val dir = tmp("drift_sum_")
    Files.write(java.nio.file.Paths.get(dir, "mixed.json"),
      """{"id": 1, "text": "a", "lang": "en"}
        |{"id": 2, "text": "b", "lang": "en"}
        |{"id": 3, "text": "c"}
        |not json at all
        |{"id": 5, "text":
        |""".stripMargin.getBytes("UTF-8"))
    val parsed = DriftIngest.readQuarantined(spark, dir, wide)
    val sum = DriftIngest.quarantineSummary(parsed, "lang")
      .as[(String, Long)].collect().toMap
    assert(sum == Map(
      "en" -> 2L,
      "__null__" -> 1L,
      DriftIngest.QuarantinedBucket -> 2L))
  }

  test("readEvolved: mergeSchema unions per-file schemas, absent columns are null") {
    val dir = tmp("drift_parquet_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "text")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", "fr")).toDF("id", "text", "lang")
      .write.mode("append").parquet(dir)
    val df = DriftIngest.readEvolved(spark, dir)
    assert(df.columns.toSet == Set("id", "text", "lang"))
    val byId = df.select("id", "lang").as[(Long, Option[String])]
      .collect().toMap
    assert(byId == Map(1L -> None, 2L -> None, 3L -> Some("fr")))
  }
  test("readQuarantinedStream: corrupt lines quarantine without killing the stream") {
    val dir = tmp("drift_stream_")
    Files.write(java.nio.file.Paths.get(dir, "a.json"),
      """{"id": 1, "text": "ok", "lang": "en"}
        |{"id": 2, "text": "truncat
        |{"id": 3, "text": "ok too", "lang": "en"}
        |""".stripMargin.getBytes("UTF-8"))
    val parsed = DriftIngest.readQuarantinedStream(spark, dir, wide)
    val summary = DriftIngest.quarantineSummary(parsed, "lang")
    val q = summary.writeStream.format("memory").queryName("drift_stream_sink")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("drift_stream_sink")
        .as[(String, Long)].collect().toMap
      assert(rows == Map("en" -> 2L, DriftIngest.QuarantinedBucket -> 1L))
    } finally q.stop()
  }
}
