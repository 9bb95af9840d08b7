package graft.queries

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.ops.CoreOps

/** S1/S2 via the DataSource V2 scrape source (`sources/ScrapeSource`):
  * the reference scraper's "newest first, stop at the limit, since the
  * checkpoint" read (`twitter/lambda_function.py:27-29`,
  * `reddit/lambda_function_aggregate.py:38`) as a SCAN-level plan, gated
  * against a DuckDB oracle over the same underlying table.
  */
object SourceQueries {

  private val DropRows = 400L

  /** Materialize events as a scrape-drop directory: rows get a unique
    * scrape sequence `ts_u` (the rank over (ts, event_id), a unique order —
    * both sides of the gate compute it identically; `rangeRank`, not a
    * one-partition window), chunked into time-disjoint
    * drops of [[DropRows]] rows. Spark writes one file per drop
    * (repartition by drop id + partitionBy); the driver then renames each
    * part file to the `drop-<maxTs>.json` layout. maxTs per drop is known
    * analytically (k·DropRows bounded by n), so the rename step does no
    * data IO — O(drops) metadata ops, exactly what a scraper's landing
    * step would have produced directly.
    */
  private def buildDrops(s: SparkSession, dir: String): String =
    FixtureCache.dir("q71_drops", dir) { out => buildDropsInto(s, dir, out) }

  private def buildDropsInto(s: SparkSession, dir: String, out: String): Unit = {
    val staged = Files.createTempDirectory("graft_scrape_staged_").toString
    org.apache.spark.GraftSparkAccess.deleteAtExit(staged)
    val events = Tables.load(s, dir, "events").select(
        col("event_id"),
        col("event_type"),
        round(col("value") * 100, 0).cast("long").as("value_cents"),
        col("ts"))
    val flat = CoreOps.rangeRank(events, Nil, Seq(col("ts"), col("event_id")), "ts_u")
      .drop("ts")
      .withColumn("drop_id", ((col("ts_u") - 1) / DropRows).cast("long"))
    val n = flat.count()
    val nDrops = ((n + DropRows - 1) / DropRows).toInt
    flat.repartition(nDrops, col("drop_id"))
      .write.mode("overwrite").partitionBy("drop_id").json(staged)
    (0 until nDrops).foreach { k =>
      val part = Option(new File(s"$staged/drop_id=$k").listFiles())
        .getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      require(part.length == 1, s"expected one part file for drop $k, got ${part.length}")
      val maxTs = math.min((k + 1) * DropRows, n)
      Files.move(part.head.toPath, Paths.get(out, s"drop-$maxTs.json"),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private val dropSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("value_cents", LongType),
    StructField("ts_u", LongType)))

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Newest 500 since a checkpoint 60% into the history: the V2 scan
    // plans only the files the bound + top-N allow (asserted in
    // ScrapeSourceSpec / PlanAuditSpec; here the gate checks values).
    "q71_scrape_source" -> ((s, dir) => {
      val drops = buildDrops(s, dir)
      val total = Tables.load(s, dir, "events").count()
      val checkpoint = (total * 6) / 10
      s.read.format("graft-scrape").schema(dropSchema)
        .option("tsField", "ts_u").load(drops)
        .filter(col("ts_u") >= checkpoint)
        .orderBy(col("ts_u").desc).limit(500)
        .select(col("event_id"), col("event_type"), col("value_cents"), col("ts_u"))
        .orderBy(col("ts_u"))
    }),

    // Manifest-based data skipping: events range-clustered into 16 files
    // on event_id, a min/max manifest built once, then a 10%-selective
    // range query planned off the manifest — reads ~2 of 16 files
    // (asserted in DataSkippingSpec; the gate checks values). Oracle is
    // the unpruned filter: skipping must be invisible to results.
    // Bloom-index data skipping — the POINT-LOOKUP complement of q99:
    // the layout clusters on user_id, so every file's event_id min/max
    // spans ~the whole range and q99's manifest can prune NOTHING; the
    // per-file bloom on event_id still prunes a 5-key lookup to the
    // handful of files that hold those ids (DataSkippingSpec asserts the
    // file count; this gate proves result-invariance — blooms have no
    // false negatives, so pruned == full scan).
    "q172_bloom_skip" -> ((s, dir) => {
      import graft.sources.{DataSkipping, Layout}
      val clustered = FixtureCache.dir("q172_userclustered", dir) { out =>
        Layout.writeClustered(
          Tables.load(s, dir, "events").select(
            col("event_id"), col("user_id"), col("event_type"),
            round(col("value") * 100, 0).cast("long").as("value_cents")),
          out, Seq("user_id"), files = 16)
      }
      val bm = DataSkipping.buildBloomManifest(s, clustered, "event_id",
        expectedPerFile = 8192, fpp = 0.01)
      DataSkipping.bloomPrunedRead(s, clustered, bm, "event_id",
          Seq(777L, 1234L, 4242L, 6789L, 9001L))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value_cents"))
        .orderBy(col("event_id"))
    }),

    "q99_manifest_skip" -> ((s, dir) => {
      import graft.sources.{DataSkipping, Layout}
      val clustered = FixtureCache.dir("q99_clustered", dir) { out =>
        Layout.writeClustered(
          Tables.load(s, dir, "events").select(
            col("event_id"), col("event_type"),
            round(col("value") * 100, 0).cast("long").as("value_cents")),
          out, Seq("event_id"), files = 16)
      }
      val manifest = DataSkipping.buildManifest(s, clustered, "event_id")
      DataSkipping.prunedRead(s, clustered, manifest, "event_id",
          lo = 3000L, hi = 3999L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy(col("event_type"))
    }))

  val oracles: Map[String, String] = Map(
    "q71_scrape_source" ->
      s"""WITH seq AS (
         |  SELECT event_id, event_type,
         |    CAST(round(value * 100) AS BIGINT) AS value_cents,
         |    CAST(row_number() OVER (ORDER BY CAST(ts AS TIMESTAMP), event_id) AS BIGINT) AS ts_u
         |  FROM events),
         |topk AS (
         |  SELECT * FROM seq
         |  WHERE ts_u >= (SELECT (count(*) * 6) // 10 FROM events)
         |  ORDER BY ts_u DESC LIMIT 500)
         |SELECT event_id, event_type, value_cents, ts_u FROM topk
         |ORDER BY ts_u""".stripMargin,

    // Skipping must be invisible to results: the plain IN-list lookup.
    "q172_bloom_skip" ->
      """SELECT event_id, user_id, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE event_id IN (777, 1234, 4242, 6789, 9001)
        |ORDER BY event_id""".stripMargin,

    "q99_manifest_skip" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events WHERE event_id >= 3000 AND event_id <= 3999
        |GROUP BY event_type ORDER BY event_type""".stripMargin)
}
