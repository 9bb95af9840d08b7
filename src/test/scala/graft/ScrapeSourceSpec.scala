package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** graft-scrape DSv2: schema inference, file-level pruning for limit /
  * top-N-on-ts / since-filters, column pruning — all asserted on the
  * EXECUTED plan's scan (partitions actually planned, schema actually
  * read), not just on results.
  */
class ScrapeSourceSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** 5 drops × 4 rows, ts 1..20, drop k holds ts 4k+1..4k+4 (disjoint,
    * newest file = drop-20.json).
    */
  private lazy val dir: String = {
    val d = TestSpark.tempDir("scrape_drops_")
    (0 until 5).foreach { k =>
      val rows = (4 * k + 1 to 4 * k + 4).map(t =>
        s"""{"ts_u":$t,"event_id":${100 + t},"kind":"k${t % 3}","score":${t * 1.5}}""")
      Files.write(d.resolve(s"drop-${4 * k + 4}.json"),
        rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
    }
    d.toString
  }

  private val schema = StructType(Seq(
    StructField("ts_u", LongType), StructField("event_id", LongType),
    StructField("kind", StringType), StructField("score", DoubleType)))

  private def read(): DataFrame =
    spark.read.format("graft-scrape").schema(schema).option("tsField", "ts_u").load(dir)

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("full read: all drops, inferSchema agrees with explicit schema") {
    val df = read()
    assert(df.count() == 20)
    assert(scanOf(df).inputRDD.getNumPartitions == 5)
    val inferred = spark.read.format("graft-scrape").option("tsField", "ts_u").load(dir)
    assert(inferred.schema.fields.map(f => f.name -> f.dataType).toMap ==
      Map("ts_u" -> LongType, "event_id" -> LongType,
        "kind" -> StringType, "score" -> DoubleType))
    assert(inferred.count() == 20)
  }

  test("limit pushdown reads only as many files as the limit") {
    val df = read().limit(3)
    assert(df.collect().length == 3)
    // Row-count-blind bound: 3 newest files certainly hold ≥ 3 rows.
    assert(scanOf(df).scan.description().contains("files=3/5"),
      scanOf(df).scan.description())
  }

  test("top-N by ts desc prunes to the newest files") {
    val df = read().orderBy(desc("ts_u")).limit(2)
    assert(df.select("ts_u").as[Long].collect().toSeq == Seq(20L, 19L))
    val d = scanOf(df).scan.description()
    assert(d.contains("files=2/5") && d.contains("limit=2"), d)
  }

  test("top-N spanning a file boundary is exact (partial pushdown)") {
    val df = read().orderBy(desc("ts_u")).limit(6)
    // Rows 20..15 live in two files; the blind bound plans ≤ 6 files and
    // Spark's retained sort+limit makes the result exact regardless.
    assert(df.select("ts_u").as[Long].collect().toSeq == (20L to 15L by -1))
  }

  test("top-N by ts asc: NULLS LAST prunes to the oldest files; default NULLS FIRST falls back to full scan") {
    // asc_nulls_last: a null-ts row can never be in the top-N, pruning safe
    val pruned = read().orderBy(asc_nulls_last("ts_u")).limit(3)
    assert(pruned.select("ts_u").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    assert(scanOf(pruned).scan.description().contains("limit=3"),
      scanOf(pruned).scan.description())
    // plain asc = NULLS FIRST: a null-ts row in a pruned file would be
    // silently lost, so the scan must refuse and read everything — the
    // result stays exact either way
    val full = read().orderBy(asc("ts_u")).limit(3)
    assert(full.select("ts_u").as[Long].collect().toSeq == Seq(1L, 2L, 3L))
    assert(scanOf(full).scan.description().contains("limit=-1"),
      scanOf(full).scan.description())
  }

  test("since-filter prunes dead files and stays exact mid-file") {
    // ts_u >= 10: drops with maxTs 12,16,20 survive (3 files); rows 10..20.
    val df = read().filter($"ts_u" >= 10L)
    assert(df.select("ts_u").as[Long].collect().sorted.toSeq == (10L to 20L))
    val scan = scanOf(df)
    assert(scan.scan.description().contains("files=3/5"), scan.scan.description())
    assert(scan.scan.description().contains("since=10"))
  }

  test("strict since-filter (ts > v) also prunes") {
    val df = read().filter($"ts_u" > 16L)
    assert(df.select("ts_u").as[Long].collect().sorted.toSeq == (17L to 20L))
    assert(scanOf(df).scan.description().contains("files=1/5"))
  }

  test("column pruning reaches the reader schema") {
    val df = read().select("kind")
    assert(scanOf(df).scan.readSchema().fieldNames.toSeq == Seq("kind"))
    assert(df.distinct().count() == 3)
  }

  test("reported statistics shrink with pruning (broadcast-ability)") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    def size(df: DataFrame): Long =
      scanOf(df).scan.asInstanceOf[SupportsReportStatistics]
        .estimateStatistics().sizeInBytes().getAsLong
    val full = size(read())
    val pruned = size(read().filter($"ts_u" >= 17L)) // newest file only
    assert(full > 0 && pruned > 0 && pruned < full / 3)
  }

  test("pruned scrape statistics drive a broadcast join against a big table") {
    // The 100 TB plan property behind SupportsReportStatistics: a
    // newest-since scrape over a deep drop history prunes to a few files,
    // reports the POST-pruning byte size, and Catalyst must therefore
    // BROADCAST the scrape side into a join with a big fact table — with
    // the threshold set between the pruned scan's size and everything
    // else, only correctly-reported statistics can produce this plan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec}
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // between the pruned scan (~1 file, ~200 B) and the UNPRUNED one
    // (5 files, ~1 KB): if either file pruning or the post-pruning
    // statistics regress, no broadcast qualifies and the test fails
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "600")
    try {
      val big = spark.range(100000L).select(($"id" % 20L + 1L).as("k"), $"id")
      val scrape = read().filter($"ts_u" >= 17L) // prunes to the newest file
      val joined = big.join(scrape, $"k" === $"ts_u")
      assert(joined.count() == 100000L / 20 * 4) // ts 17..20 × 5000 ids each
      def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p.children ++
        (p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case b: BroadcastQueryStageExec => Seq(b.plan)
          case _ => Nil
        })).flatMap(flatten)
      val nodes = flatten(joined.queryExecution.executedPlan)
      val bhj = nodes.collectFirst { case j: BroadcastHashJoinExec => j }
        .getOrElse(fail("no BroadcastHashJoin — scrape stats did not qualify it"))
      val buildSide = flatten(bhj.children(
        if (bhj.buildSide.toString == "BuildLeft") 0 else 1))
      val buildHasScrape = buildSide.exists {
        case b: BatchScanExec => b.scan.description().contains("graft-scrape")
        case e: BroadcastExchangeExec => flatten(e).exists {
          case bb: BatchScanExec => bb.scan.description().contains("graft-scrape")
          case _ => false
        }
        case _ => false
      }
      assert(buildHasScrape,
        "the broadcast (build) side is not the pruned scrape scan:\n" +
          joined.queryExecution.executedPlan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("top-N + since compose: newest-K-since-checkpoint scrape plan") {
    // Fully-absorbed since bound leaves no Filter node, so top-N pushes
    // through: alive files {12,16,20} → take newest 2.
    val df = read().filter($"ts_u" >= 9L).orderBy(desc("ts_u")).limit(2)
    assert(df.select("ts_u").as[Long].collect().toSeq == Seq(20L, 19L))
    val d = scanOf(df).scan.description()
    assert(d.contains("files=2/5") && d.contains("limit=2") && d.contains("since=9"), d)
  }

  test("since bound alone is row-exact without a Filter node") {
    val df = read().filter($"ts_u" > 10L)
    assert(df.select("ts_u").as[Long].collect().sorted.toSeq == (11L to 20L))
    // No residual: the scan absorbed the predicate entirely.
    val filters = df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }
    assert(filters.isEmpty, df.queryExecution.executedPlan.toString)
  }
}
