package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A fixed list of `SparkEntry.queries` on the vendored sf0.01 tables: an
  * untimed warm-up pass, then timed passes. One operation is one query
  * execution; each is checked against its recorded row count and hash. */
object QuerySuite {
  val names: Seq[String] = Seq(
    "q03_topk_per_group", "q44_batch_enrich", "q71_scrape_source",
    "q163_pmi_collocations", "q260_minhash_recall", "q82_cc_logn",
    "q92_triangles", "q203_clustering_coeff")

  /** Row count, sum of low hash words and xor of hashes over all rows. */
  final case class Digest(rows: Long, sum: Long, xor: Long) {
    override def toString = s"$rows\t$sum\t$xor"
  }

  /** Doubles are rounded to 6 decimals and -0.0 folded into 0.0, so the
    * digest does not depend on the order a sum was accumulated in; maps
    * become key-sorted entry arrays, since maps cannot be hashed. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0.0, lit(0.0)).otherwise(r)
    case ArrayType(et, _) if needsNorm(et) => transform(c, x => norm(x, et))
    case StructType(fs) if needsNorm(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(norm(e.getField("key"), kt).as("k"),
        norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  private def needsNorm(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needsNorm(et)
    case StructType(fs) => fs.exists(f => needsNorm(f.dataType))
    case _ => false
  }

  def digest(df: DataFrame): Digest = {
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(pos.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = pos.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def run(ctx: Ctx, tracer: Tracer): Outcome = {
    val spark = ctx.spark
    val dir = ctx.data.toString
    val expected = Files.readAllLines(ctx.data.resolveSibling("query_suite.expected.tsv")).asScala
      .filterNot(l => l.startsWith("#") || l.isBlank).map(_.split("\t")).map {
        case Array(n, r, s, x) => n -> Digest(r.toLong, s.toLong, x.toLong)
      }.toMap
    val queries = graft.SparkEntry.queries

    val attempted, failed = new java.util.concurrent.atomic.AtomicLong
    /** Runs and checks one query; returns its seconds (NaN on error). */
    def one(n: String, span: Boolean): Double = {
      attempted.incrementAndGet()
      def body = scala.util.Try(digest(queries(n)(spark, dir)))
      val (d, s) = Stats.seconds(if (span) tracer.span(s"queries.$n")(body) else body)
      if (d.toOption != expected.get(n)) {
        failed.incrementAndGet()
        System.err.println(s"query_suite: $n gave ${d.fold(e => s"error $e", _.toString)}, " +
          s"expected ${expected.get(n).fold("(not recorded)")(_.toString)}")
      }
      if (d.isSuccess) s else Double.NaN
    }
    def pass(): Map[String, Double] = names.map(n => n -> one(n, span = true)).toMap

    // Warm-up: every query once four at a time (queries are independent and
    // thread-safe), so compiling their plans overlaps; then one untimed
    // sequential pass, because the JIT is still settling after the first.
    val (_, warmS) = Stats.seconds {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try names.map(n => pool.submit(() => one(n, span = false))).foreach(_.get())
      finally pool.shutdown()
      names.foreach(one(_, span = false))
    }
    val passes = Seq.newBuilder[Map[String, Double]]
    ctx.repeat(3)(_ => passes += pass())
    val perQuery = names.map(n => n -> Stats.median(passes.result().map(_(n)).filterNot(_.isNaN))).toMap
    val ops = names.map(perQuery).map(_ * 1000)
    println(s"query_suite: ${passes.result().size} timed passes; per-pass totals (s): " +
      passes.result().map(p => f"${p.values.sum}%.3f").mkString(" "))
    val e2e = Map(
      "setup_s" -> (ctx.sessionStartS + warmS),
      "work_s" -> ops.sum / 1000,
      "op_p50_ms" -> Stats.median(ops), "op_p90_ms" -> Stats.percentile(ops, 90),
      "op_geomean_ms" -> Stats.geomean(ops))

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val l = new LayerListeners(spark)
        l.install()
        l.reset()
        val traced = (0 until 2).map(_ => tracer.span("pass")(pass()))
        val engine = Layers.engine(l, tracer, _.startsWith("queries."), traced.size) ++ Layers.codegen()
        val tracedTotal = Stats.median(traced.map(_.values.sum))
        names.flatMap { n =>
          Seq(s"queries.${n}_s" -> Stats.median(traced.map(_(n))),
            s"queries.$n.stages" -> l.total(_ == s"queries.$n")("stages") / traced.size)
        }.toMap ++ engine + ("trace.overhead_s" -> (tracedTotal - e2e("work_s")))
      }
    Outcome(attempted.get, failed.get, e2e, layers, Map("passes_timed" -> passes.result().size.toDouble,
      "session_s" -> ctx.sessionStartS, "warmup_s" -> warmS))
  }
}
