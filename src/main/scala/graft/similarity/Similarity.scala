package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Every top-k here is ONE filter-and-verify operator: a candidate
  * generator (all pairs, sign buckets, IVF cells, PQ codes, IVF+PQ
  * postings) feeding one shared verify-and-rank tail — exact cosine
  * ranked by (sim desc, corpus_id asc), or integer ADC sums ranked by the
  * k-bounded partial top-k. Where the query side could be broadcast, the
  * operator chooses itself: a limit-bounded probe of the query set takes
  * the broadcast path up to `maxQueryBatch` rows and the shuffle path
  * above it, and both paths return the same rows.
  *
  * Vector math runs in per-partition JVM kernels (`mapPartitions`), not
  * column higher-order functions: HOFs evaluate interpreted outside
  * whole-stage codegen at roughly two orders of magnitude the cost per
  * element, which at 100 TB is the whole budget. The expression forms
  * ([[dot]]/[[cosine]]/[[signBucket]]) are kept for composability and
  * produce bit-identical doubles (same fold order) — the kernels are the
  * hot path, the expressions the spec.
  */
object Similarity {

  /** Dot product of two equal-length numeric arrays as double, folded in
    * index order (deterministic, same order any ANSI engine folds a list).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val nn = norm(a) * norm(b)
    when(nn === 0.0, lit(0.0)).otherwise(dot(a, b) / nn)
  }

  /** The p-th pseudo-random ±1 hyperplane for `dim`-dim vectors: element i
    * is signum(sin((i+1)·(p+1))) — fixed across engines and runs.
    */
  def planesArr(planes: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(planes, dim)((p, i) =>
      math.signum(math.sin((i + 1).toDouble * (p + 1))))

  /** Sign-LSH bucket id as a column expression (spec form; see kernels). */
  def signBucket(v: Column, planes: Int, dim: Int): Column =
    (0 until planes).map { p =>
      val plane = array(planesArr(planes, dim)(p).map(lit): _*)
      val proj = aggregate(
        zip_with(v, plane, (x, pl) => x.cast("double") * pl),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }.reduce[Column]((a, b) => a.bitwiseOR(b))

  // ------------------------------------------------------------- kernels

  /** Per-partition kernel: (idCol, vecCol) → (bucket, id, v, nrm), with the
    * sign-LSH bucket and L2 norm computed in one pass. `planes = 0` skips
    * the bucket (emits 0). Input is repartitioned to default parallelism —
    * small parquet inputs arrive as a single split, and the exchange is an
    * optimizer barrier against projection re-inlining.
    */
  def bucketNorm(df: DataFrame, idCol: String, vecCol: String,
                 planes: Int, dim: Int, extra: Seq[String] = Nil): DataFrame = {
    // Adaptive barrier width (r17): the per-row kernel cost here is a few
    // dim-length float loops (~µs), so the width that matters is bytes
    // per task, not cores — ceil(stats/4 MiB) reaches the full shuffle
    // width on real corpora while a KB-scale serving batch runs in one
    // task instead of paying 32 per-task fixed costs per exchange.
    val in0 = df.select(col(idCol).as("id") +: col(vecCol).as("v") +:
        extra.map(col): _*)
    val in = in0.repartition(graft.ops.CoreOps.adaptiveWidth(in0))
    val idType = df.schema(idCol).dataType
    val outSchema = StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("id", idType),
      StructField("v", ArrayType(FloatType)),
      StructField("nrm", DoubleType, nullable = false)) ++
      extra.map(c => df.schema(c)))
    val pl = planesArr(planes, dim)
    implicit val enc = Encoders.row(outSchema)
    in.mapPartitions { it =>
      it.map { r =>
        val v = r.getSeq[Float](1)
        var bucket = 0L
        var p = 0
        while (p < planes) {
          var proj = 0.0
          var i = 0
          val n = math.min(v.length, dim)
          while (i < n) { proj += v(i).toDouble * pl(p)(i); i += 1 }
          if (proj > 0) bucket |= (1L << p)
          p += 1
        }
        var sq = 0.0
        var i = 0
        while (i < v.length) { sq += v(i).toDouble * v(i).toDouble; i += 1 }
        Row.fromSeq(Seq(bucket, r.get(0), v, math.sqrt(sq)) ++
          (2 until r.length).map(r.get))
      }
    }(enc)
  }

  /** Per-partition kernel: append cosine(aVec, bVec) (from pre-computed
    * norms, zero-norm → 0.0) as `outName` to every row.
    */
  def appendCosine(df: DataFrame, aVec: String, bVec: String,
                   aNorm: String, bNorm: String, outName: String): DataFrame = {
    val schema = StructType(df.schema.fields :+
      StructField(outName, DoubleType, nullable = false))
    val (ia, ib) = (df.schema.fieldIndex(aVec), df.schema.fieldIndex(bVec))
    val (ina, inb) = (df.schema.fieldIndex(aNorm), df.schema.fieldIndex(bNorm))
    implicit val enc = Encoders.row(schema)
    df.mapPartitions { it =>
      it.map { r =>
        val a = r.getSeq[Float](ia)
        val b = r.getSeq[Float](ib)
        val nn = r.getDouble(ina) * r.getDouble(inb)
        val sim =
          if (nn == 0.0) 0.0
          else {
            var d = 0.0
            var i = 0
            val n = math.min(a.length, b.length)
            while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
            d / nn
          }
        Row.fromSeq(r.toSeq :+ sim)
      }
    }(enc)
  }

  // ------------------------------------------------ filter-and-verify top-k

  /** Driver-side switch point between the two query-side paths of the
    * ANN operators: a query set of at most this many rows is broadcast
    * (for the PQ family: collected into per-query tables, then broadcast);
    * a larger one takes the shuffle path, where the operator neither
    * collects nor broadcasts the query side. The probe that decides is
    * limit-bounded, so an oversized set never reaches the driver; 0 always
    * takes the shuffle path, with no probe.
    */
  val DefaultMaxQueryBatch: Int = 250000

  /** Whether `queries` takes the broadcast path (a limit-bounded count). */
  private def fitsBroadcast(queries: DataFrame, maxQueryBatch: Int): Boolean =
    maxQueryBatch > 0 && queries.limit(maxQueryBatch + 1).count() <= maxQueryBatch

  /** One side of a cosine join: [[bucketNorm]]'s (bucket, id, v, nrm)
    * renamed to (corpus_id, cv, cnorm) or (query_id, qv, qnorm) for
    * `side` = "corpus" or "query", plus `label` as c_label or q_label.
    * `bucket` is kept only when there are planes to bucket by.
    */
  private def cosSide(df: DataFrame, idCol: String, vecCol: String,
                      planes: Int, dim: Int, side: String,
                      label: Option[String] = None): DataFrame = {
    val p = side.take(1)
    bucketNorm(df, idCol, vecCol, planes, dim, label.toSeq).select(
      (if (planes > 0) Seq(col("bucket")) else Nil) ++
        Seq(col("id").as(s"${side}_id"), col("v").as(s"${p}v"),
          col("nrm").as(s"${p}norm")) ++
        label.map(l => col(l).as(s"${p}_label")): _*)
  }

  /** Verify: drop self pairs from joined (corpus, query) candidate rows
    * and append each remaining pair's exact cosine as `sim`.
    */
  private def verify(cands: DataFrame): DataFrame =
    appendCosine(cands.filter(col("corpus_id") =!= col("query_id")),
      "cv", "qv", "cnorm", "qnorm", "sim")

  /** A query's verified candidates in rank order: sim desc, corpus_id asc. */
  private def byScore: WindowSpec = Window.partitionBy(col("query_id"))
    .orderBy(col("sim").desc, col("corpus_id").asc)

  /** Rank: each query's first `k` verified candidates in [[byScore]]
    * order (partial top-k map-side).
    */
  private def rankTopK(scored: DataFrame, k: Int,
                       out: Seq[Column] = Seq("query_id", "rank", "corpus_id", "sim")
                         .map(col)): DataFrame =
    scored.withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
      .select(out: _*)

  /** All-pairs candidates, verified: every corpus vector against every
    * query vector, minus self pairs and, with `label`, same-label pairs.
    * A query set within `maxQueryBatch` is broadcast (one
    * broadcast-nested-loop, corpus linear across executors); a larger one
    * is tiled against the corpus by a cartesian product, so no executor
    * ever holds the whole query set.
    */
  private def allPairs(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, dim: Int, maxQueryBatch: Int,
                       label: Option[String] = None): DataFrame = {
    val c = cosSide(corpus, idCol, vecCol, 0, dim, "corpus", label)
    val q = cosSide(queries, idCol, vecCol, 0, dim, "query", label)
    val keep = label.fold(lit(true))(_ => col("c_label") =!= col("q_label"))
    verify(c.join(
      if (fitsBroadcast(queries, maxQueryBatch)) broadcast(q)
      else q.hint("shuffle_replicate_nl"),
      keep))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors — all-pairs candidates, verified and ranked. At 1000
    * executors this scales linearly in corpus size.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     dim: Int = 64,
                     maxQueryBatch: Int = DefaultMaxQueryBatch): DataFrame =
    rankTopK(allPairs(corpus, queries, idCol, vecCol, dim, maxQueryBatch), k)

  /** Hard-negative mining for contrastive training: for each query vector,
    * the k most-similar corpus vectors with a DIFFERENT label (and a
    * different id) — "looks like the positive but isn't" is exactly what a
    * retrieval model needs in its denominator. The all-pairs operator of
    * [[bruteForceTopK]] with the label predicate in the join; the label
    * rides the [[bucketNorm]] kernel as a pass-through column, so no
    * second join against the corpus to recover it.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String, k: Int,
                    dim: Int = 64): DataFrame =
    rankTopK(allPairs(corpus, queries, idCol, vecCol, dim,
        DefaultMaxQueryBatch, Some(labelCol)), k,
      Seq(col("query_id"), col("rank"), col("corpus_id"),
        col("c_label").as("neg_label"), col("sim")))

  /** Label-coherence audit over an embedding corpus — the mislabel /
    * outlier sweep before contrastive training: per label, every
    * member's cosine to the label CENTROID, rolled up as min/max and an
    * outlier count under `lowTau`. Exact and engine-portable: vectors
    * and centroids live in integer millis (round(x·1000)), the centroid
    * is the per-dimension integer mean (truncating division — bounded
    * regardless of label size, so the norm arithmetic can never
    * overflow), and the only doubles are the final sqrt/divide, computed
    * from identical integers on any engine. Scale shape: one
    * partial-aggregable (label, dim) sum + a broadcast-sized centroid
    * table joined back — no pairwise anything.
    */
  def labelCoherence(df: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, lowTau: Double = 0.1): DataFrame = {
    val milli = transform(col(vecCol), x =>
      round(x.cast("double") * 1000).cast("long"))
    val docs = df.select(col(idCol).as("id"), col(labelCol).as("label"),
      milli.as("du"))
    val cent = docs.select(col("label"), posexplode(col("du")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("su"), count(lit(1)).as("n"))
      // Truncating integer division on BOTH engines (Spark `div` ≡
      // DuckDB integer `//`, both toward zero — verified on negatives,
      // which per-dimension sums do hit).
      .withColumn("cu", expr("su div n"))
      .groupBy(col("label"))
      .agg(array_sort(collect_list(struct(col("pos"), col("cu")))).as("pc"))
      .select(col("label"), transform(col("pc"), s => s.getField("cu")).as("cu"))
    val joined = docs.join(broadcast(cent), Seq("label"))
    val dot = aggregate(zip_with(col("du"), col("cu"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val nd = aggregate(zip_with(col("du"), col("du"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val nc = aggregate(zip_with(col("cu"), col("cu"), (a, b) => a * b),
      lit(0L), (acc, v) => acc + v)
    val cos = when(nd === 0L || nc === 0L, lit(0.0))
      .otherwise(dot.cast("double") /
        (sqrt(nd.cast("double")) * sqrt(nc.cast("double"))))
    joined.withColumn("cos", cos)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("cos") < lowTau, 1L).otherwise(0L)).as("n_low"),
        min(col("cos")).as("min_cos"),
        max(col("cos")).as("max_cos"))
  }

  /** Sign-bucket candidates, verified (multi-probe, Lv et al. 2007,
    * deterministic probe order): each query probes its own bucket PLUS
    * the buckets at Hamming distance 1 on planes 0..nProbe−2, numbered by
    * probe index `rn` (1 = its own bucket). Recall is bought per query
    * rather than with more tables or planes, so the corpus is hashed
    * ONCE; candidate sets nest in nProbe by construction, which is what
    * makes [[multiProbeRecallCurve]] structurally monotone.
    */
  private def bucketCandidates(corpus: DataFrame, queries: DataFrame,
                               idCol: String, vecCol: String, planes: Int,
                               nProbe: Int, dim: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= planes + 1,
      s"nProbe must be in [1, planes + 1 = ${planes + 1}]")
    val c = cosSide(corpus, idCol, vecCol, planes, dim, "corpus")
    val probes = (0 until nProbe).map { i =>
      if (i == 0) col("bucket")
      else col("bucket").bitwiseXOR(lit(1L << (i - 1)))
    }
    val q = cosSide(queries, idCol, vecCol, planes, dim, "query")
      .select(col("query_id"), col("qv"), col("qnorm"),
        posexplode(array(probes: _*)).as(Seq("pos", "bucket")))
      .withColumn("rn", col("pos") + 1)
    verify(c.join(q, Seq("bucket")))
  }

  /** Recall@k of multi-probe sign-LSH against the brute-force ground
    * truth, per probe count — the probes-vs-recall tuning curve (the
    * sign-LSH twin of [[ivfRecallCurve]]).
    */
  def multiProbeRecallCurve(corpus: DataFrame, queries: DataFrame,
                            idCol: String, vecCol: String, k: Int,
                            nProbes: Seq[Int], planes: Int = 6,
                            dim: Int = 64): DataFrame =
    recallCurve(corpus, queries, idCol, vecCol, k, nProbes, dim)(
      bucketCandidates(corpus, queries, idCol, vecCol, planes, _, dim))

  /** LSH-bucketed approximate top-k: queries only score corpus vectors in
    * their own sign-bucket. Trades recall for a |corpus|/2^planes candidate
    * set — the 100 TB path (bucket join = hash shuffle, no broadcast of the
    * corpus, no cross join).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              planes: Int = 6, dim: Int = 64): DataFrame =
    rankTopK(bucketCandidates(corpus, queries, idCol, vecCol, planes, 1, dim), k)

  /** True IVF ANN: one deterministic k-means-lite pass.
    *
    *  1. coarse cells = sign-LSH buckets over log2(nCells) planes;
    *  2. centroid per cell = exact mean via integer micro-unit sums
    *     (order-invariant under any partitioning — the float work happens
    *     once, after the associative long sums);
    *  3. every corpus vector reassigned to its nearest centroid by cosine
    *     (tie → lower cell id);
    *  4. queries probe their `nProbe` nearest centroids and run exact
    *     cosine top-k over just those cells' vectors.
    *
    * All joins are hash joins on the small centroid/cell key; the corpus is
    * never broadcast and never compared all-pairs — the 100 TB path probes
    * |corpus|·nProbe/nCells candidates per query.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nCells: Int = 16, nProbe: Int = 4, dim: Int = 64,
              refinePasses: Int = 1): DataFrame = {
    val (assigned, centroidsN) =
      kmeansAssign(corpus, idCol, vecCol, nCells, dim, refinePasses)
    rankTopK(ivfCandidates(assigned, centroidsN, queries, idCol, vecCol, nProbe, dim), k)
  }

  /** Deterministic k-means-lite clustering of an embedding corpus — steps
    * 1-3 of [[ivfTopK]], exposed for cluster-blocked operators (SemDeDup,
    * per-cluster curriculum stats): coarse sign-LSH seeds → exact
    * integer-micro centroid means → `refinePasses` Lloyd reassignments.
    * Returns `(assigned, centroids)`: assigned = (cell, corpus_id,
    * cv2 = the original vector, cnorm2); centroids = (cell, cv, cnrm).
    */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   nCells: Int = 16, dim: Int = 64,
                   refinePasses: Int = 1): (DataFrame, DataFrame) = {
    require(nCells > 0 && (nCells & (nCells - 1)) == 0, "nCells must be a power of 2")
    val planes = java.lang.Integer.numberOfTrailingZeros(nCells)
    val spark = corpus.sparkSession

    // Materialized ONCE (r17): base feeds the seed-centroid aggregate plus
    // one full scan per assign pass (1 + refinePasses of them) — without
    // the checkpoint each scan re-ran the parquet read + exchange +
    // bucket/norm kernel (measured 5 recomputations in q143's plan; at
    // cluster scale each is a full corpus pass).
    val base = bucketNorm(corpus, idCol, vecCol, planes, dim)
      .localCheckpoint() // bucket,id,v,nrm

    // Exact centroid mean over (cellCol, vecCol): per-dim long micro-sums
    // (order-invariant at any partitioning), one double division, then the
    // model-sized array is materialized — centroids are a bounded artifact
    // (≤ nCells entries, like a broadcast variable), not data, and
    // computing them lazily would re-run the corpus aggregation per use.
    // Norms use the same index-order fold as the kernels.
    def centroidArray(df: DataFrame, cellCol: String, vecCol2: String): Array[(Long, Array[Float], Double)] = {
      val sumCols = (0 until dim).map(i =>
        sum(round(element_at(col(vecCol2), i + 1).cast("double") * lit(1e6), 0).cast("long")).as(s"s$i"))
      val sums = df.groupBy(col(cellCol)).agg(count(lit(1)).as("cnt"), sumCols: _*)
      val cents = sums.select(col(cellCol).cast("long").as("cell"),
        array((0 until dim).map(i =>
          (col(s"s$i").cast("double") / lit(1e6) / col("cnt")).cast("float")): _*).as("cv"))
      cents.collect().map { r =>
        val cv = r.getSeq[Float](1).toArray
        var sq = 0.0
        var i = 0
        while (i < cv.length) { sq += cv(i).toDouble * cv(i).toDouble; i += 1 }
        (r.getLong(0), cv, math.sqrt(sq))
      }
    }

    def centroidTable(cents: Array[(Long, Array[Float], Double)]): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(cents.map { case (cell, cv, cnrm) =>
          Row(cell, cv.toSeq, cnrm)
        }: _*),
        StructType(Seq(
          StructField("cell", LongType, nullable = false),
          StructField("cv", ArrayType(FloatType)),
          StructField("cnrm", DoubleType, nullable = false))))

    // Nearest centroid per corpus vector — a per-row argmax kernel over the
    // broadcast centroid array: zero row amplification (the previous
    // formulation joined corpus × centroids before aggregating, i.e.
    // materialized nCells rows per vector; at nCells ≈ √n that CPU/memory
    // blow-up dominates). Same float arithmetic as appendCosine (index-order
    // dot, nrm·cnrm), same tie-break (max sim, then lower cell id).
    val assignSchema = StructType(Seq(
      StructField("cell", LongType, nullable = false),
      StructField("corpus_id", corpus.schema(idCol).dataType),
      StructField("cv2", ArrayType(FloatType)),
      StructField("cnorm2", DoubleType, nullable = false)))
    def assign(cents: Array[(Long, Array[Float], Double)]): DataFrame = {
      val bc = spark.sparkContext.broadcast(cents)
      implicit val enc = Encoders.row(assignSchema)
      base.select(col("id"), col("v"), col("nrm")).mapPartitions { it =>
        val cs = bc.value
        it.map { r =>
          val v = r.getSeq[Float](1)
          val nrm = r.getDouble(2)
          var bestCell = 0L
          var bestSim = Double.NegativeInfinity
          var c = 0
          while (c < cs.length) {
            val (cell, cv, cnrm) = cs(c)
            val nn = nrm * cnrm
            val sim =
              if (nn == 0.0) 0.0
              else {
                var d = 0.0
                var i = 0
                val n = math.min(v.length, cv.length)
                while (i < n) { d += v(i).toDouble * cv(i).toDouble; i += 1 }
                d / nn
              }
            if (sim > bestSim || (sim == bestSim && cell < bestCell)) {
              bestSim = sim
              bestCell = cell
            }
            c += 1
          }
          Row(bestCell, r.get(0), v, nrm)
        }
      }(enc)
    }

    // k-means-lite: coarse LSH seeds, then `refinePasses` Lloyd iterations
    // (centroids from the current assignment, reassign). Each centroid
    // array is collected eagerly, so iterations never re-trigger earlier
    // passes.
    var cents = centroidArray(base, "bucket", "v")
    var assigned = assign(cents)
    for (_ <- 1 to refinePasses) {
      cents = centroidArray(assigned, "cell", "cv2")
      assigned = assign(cents)
    }
    (assigned, centroidTable(cents))
  }

  /** IVF cell candidates over a prebuilt clustering from [[kmeansAssign]],
    * verified: each query probes its `nProbe` nearest centroids (csim
    * desc, cell asc — probe index `rn`) and meets the corpus vectors
    * assigned to those cells through a hash join on the cell key.
    */
  private def ivfCandidates(assigned: DataFrame, centroidsN: DataFrame,
                            queries: DataFrame, idCol: String, vecCol: String,
                            nProbe: Int, dim: Int): DataFrame = {
    val queryX = appendCosine(
      cosSide(queries, idCol, vecCol, 0, dim, "query")
        .join(broadcast(centroidsN), lit(true)),
      "qv", "cv", "qnorm", "cnrm", "csim")
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell").asc)
    val probes = queryX.withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbe)
      .select(col("cell"), col("query_id"), col("qv"), col("qnorm"), col("rn"))
    verify(assigned.select(col("cell"), col("corpus_id"), col("cv2").as("cv"),
        col("cnorm2").as("cnorm"))
      .join(probes, Seq("cell")))
  }

  /** nProbe/recall tuning curve for the IVF index — the harness a real
    * ANN deployment reads before picking its probe budget: for each
    * `nProbes` value, total recall@k hits against the brute-force ground
    * truth, summed over the query set. The clustering is computed ONCE
    * (pinned) and feeds every probe level. `monotone_ok` is a structural
    * guarantee, not luck: probing p+1 cells scans a strict superset of p
    * cells' candidates, and any candidate outscoring an exact-top-k
    * member would itself be exact-top-k (same tiebreak order) — so hits
    * can never decrease in nProbe, and the gate pins exactly that.
    */
  def ivfRecallCurve(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nProbes: Seq[Int], nCells: Int = 16, dim: Int = 64,
                     refinePasses: Int = 1): DataFrame =
    recallCurve(corpus, queries, idCol, vecCol, k, nProbes, dim) { maxP =>
      val (assigned, centroidsN) =
        kmeansAssign(corpus, idCol, vecCol, nCells, dim, refinePasses)
      ivfCandidates(assigned.localCheckpoint(), centroidsN, queries, idCol,
        vecCol, maxP, dim)
    }

  /** Shared tail of the recall curves: recall@k hits per probe level out
    * of ONE candidate pass at max(nProbes) (r17), instead of one
    * generate/verify/rank subplan per level. `candidates(p)` returns
    * verified pairs carrying their probe index `rn`; the candidate sets
    * nest in rn (each pair matches exactly one probe), so level p's top-k
    * rank is the running count of rn ≤ p candidates along [[byScore]] —
    * row-for-row the per-level `row_number` ≤ k, same tiebreak. Every
    * level's rank shares one window sort and one exchange, and all hit
    * counts come out of one conditional aggregate against the
    * brute-force ground truth.
    */
  private def recallCurve(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          nProbes: Seq[Int], dim: Int)(
                          candidates: Int => DataFrame): DataFrame = {
    require(nProbes.nonEmpty && nProbes == nProbes.sorted && nProbes.distinct == nProbes,
      "nProbes must be distinct and ascending")
    val scored = candidates(nProbes.max)
    val exact = bruteForceTopK(corpus, queries, idCol, vecCol, k, dim)
      .select(col("query_id"), col("corpus_id"))
      .withColumn("hit", lit(1L))
    val running = byScore.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = nProbes.foldLeft(scored) { (df, p) =>
      df.withColumn(s"__rk_$p",
        sum(when(col("rn") <= p, 1L).otherwise(0L)).over(running))
    }
    val hits = nProbes.map(p =>
      sum(when(col("rn") <= p && col(s"__rk_$p") <= k &&
        col("hit").isNotNull, 1L).otherwise(0L)).as(s"__h_$p"))
    val perProbe = ranked
      .join(broadcast(exact), Seq("query_id", "corpus_id"), "left")
      .agg(hits.head, hits.tail: _*)
      .select(explode(array(nProbes.map(p =>
        struct(lit(p).as("n_probe"),
          coalesce(col(s"__h_$p"), lit(0L)).as("n_hits"))): _*)).as("x"))
      .select(col("x.n_probe").as("n_probe"), col("x.n_hits").as("n_hits"))
    // 1-row-per-level frame: the unpartitioned window is over |nProbes| rows.
    val w = Window.orderBy(col("n_probe"))
      .rowsBetween(Window.unboundedPreceding, -1)
    perProbe.withColumn("monotone_ok",
      coalesce(col("n_hits") >= max(col("n_hits")).over(w), lit(true)))
  }

  /** Int8 SCALAR QUANTIZATION of an embedding corpus — the 4×
    * compression that makes a 100 TB vector store hold in a 25 TB one:
    * per-dimension min/max over the corpus (one aggregate pass, a
    * 2·dim-double bounded artifact like a centroid table), then each
    * value maps to `round((v − mn) · levels / (mx − mn))` ∈ [0, levels].
    * Constant dims (mx = mn) code to 0.
    *
    * Returns per-vector integrity stats rather than the raw codes (exact
    * integers, so a SQL oracle can replay the whole transform):
    * `(id, code_sum, code_min, code_max, cos_ok)` where `cos_ok` checks
    * the reconstruction `mn + c·(mx−mn)/levels` stays within `minCosine`
    * of the original — the quantization-error guarantee a retrieval
    * pipeline actually cares about. Codes + reconstruction + cosine run
    * in ONE kernel pass per row (no per-dim column explosion).
    */
  def scalarQuantize(df: DataFrame, idCol: String, vecCol: String,
                     dim: Int = 64, levels: Int = 255,
                     minCosine: Double = 0.995): DataFrame = {
    val minExprs = (0 until dim).map(i =>
      min(element_at(col(vecCol), i + 1).cast("double")).as(s"mn$i"))
    val maxExprs = (0 until dim).map(i =>
      max(element_at(col(vecCol), i + 1).cast("double")).as(s"mx$i"))
    val statsRow = df.agg(minExprs.head, (minExprs.tail ++ maxExprs): _*).head()
    // Empty corpus → null stats; treat every dim as flat at 0 (all rows —
    // there are none — would code to 0) instead of NPEing in getDouble.
    def statAt(i: Int): Double =
      if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
    val mns = Array.tabulate(dim)(i => statAt(i))
    val mxs = Array.tabulate(dim)(i => statAt(dim + i))
    val bc = df.sparkSession.sparkContext.broadcast((mns, mxs))
    val schema = StructType(Seq(
      StructField("id", df.schema(idCol).dataType),
      StructField("code_sum", LongType, nullable = false),
      StructField("code_min", LongType, nullable = false),
      StructField("code_max", LongType, nullable = false),
      StructField("cos_ok", BooleanType, nullable = false)))
    implicit val enc = Encoders.row(schema)
    df.select(col(idCol), col(vecCol)).mapPartitions { it =>
      val (mn, mx) = bc.value
      it.map { row =>
        val v0 = row.getSeq[Float](1)
        // null/empty embeddings: flag rather than NPE or vacuously pass —
        // (0,0,0,false) marks a vector the quantizer never touched.
        if (v0 == null || v0.isEmpty) Row(row.get(0), 0L, 0L, 0L, false)
        else {
        val v = v0
        val n = math.min(v.length, mn.length)
        var sum = 0L
        var cmin = Long.MaxValue
        var cmax = Long.MinValue
        var dotOR = 0.0
        var nO = 0.0
        var nR = 0.0
        var i = 0
        while (i < n) {
          val x = v(i).toDouble
          val flat = mx(i) == mn(i)
          val c = if (flat) 0L
            else math.round((x - mn(i)) * levels / (mx(i) - mn(i)))
          val recon = if (flat) mn(i)
            else mn(i) + c.toDouble * (mx(i) - mn(i)) / levels
          sum += c
          if (c < cmin) cmin = c
          if (c > cmax) cmax = c
          dotOR += x * recon
          nO += x * x
          nR += recon * recon
          i += 1
        }
        val cos =
          if (nO == 0.0 || nR == 0.0) if (nO == nR) 1.0 else 0.0
          else dotOR / (math.sqrt(nO) * math.sqrt(nR))
        Row(row.get(0), sum, cmin, cmax, cos >= minCosine)
        }
      }
    }(enc)
  }

  // ------------------------------------------------------ product quantization

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011): split the
    * `dim`-dim space into `m` subspaces of dim/m dims; per subspace, up to
    * 16 centroids in INTEGER MICROS, seeded by the 4-bit sign pattern of
    * the subspace's first four dims (the embeddings are zero-mean, so the
    * seeds split the mass) and finished as the per-dim truncating integer
    * mean over the cell's members. Everything integer: micros via
    * round(x·1e6) (portable HALF_UP on both engines), mean via `div`
    * (toward zero on both engines — per-dim sums DO go negative), so the
    * whole codebook — and every distance downstream — hash-gates exactly,
    * with no float fold order anywhere.
    *
    * Scale shape: one partial-aggregable (s, cell, pos) sum over the
    * exploded corpus; the codebook is a bounded artifact (m·16·(dim/m)
    * longs — a broadcast variable, not data).
    *
    * @return (s, cell, pos, cu): subspace, seed cell, GLOBAL 1-based dim,
    *         centroid micros.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              m: Int = 8, dim: Int = 64): DataFrame = {
    val vm = transform(col(vecCol), x =>
      round(x.cast("double") * 1e6).cast("long"))
    pqTrainMicros(corpus.select(col(idCol).as("id"), vm.as("vm")), m, dim)
  }

  /** [[pqTrain]] on an already-micros (id, vm: Array[Long]) frame — the
    * entry point [[ivfPqTopK]] uses to train codebooks on RESIDUALS.
    */
  private[graft] def pqTrainMicros(base: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    require(sub >= 4, "seed bits read the first 4 dims of each subspace")
    val sCol = floor(col("pos") / sub).cast("long")
    val cellExpr = (0 until 4).map { j =>
      when(element_at(col("vm"),
        (sCol * sub + j + 1).cast("int")) >= 0L, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    base.select(col("id"), col("vm"), posexplode(col("vm")))
      .select(sCol.as("s"), cellExpr.as("cell"),
        (col("pos") + 1).cast("long").as("pos"), col("col").as("x"))
      .groupBy(col("s"), col("cell"), col("pos"))
      .agg(count(lit(1)).as("cnt"), sum(col("x")).as("su"))
      .withColumn("cu", expr("su div cnt"))
      .select(col("s"), col("cell"), col("pos"), col("cu"))
  }

  /** PQ asymmetric-distance top-k (ADC): corpus vectors live as m 4-bit
    * codes (nearest codebook centroid per subspace by integer squared L2,
    * tie → lower cell); each query precomputes its m×16 distance table
    * and approximate distance = Σ_s table[s][code_s]. Integer end to end,
    * so ranks and distances gate exactly.
    *
    * Scale shape: the codebook is a broadcast artifact; the query side
    * follows [[adcTopK]] (broadcast tables up to `maxQueryBatch` queries,
    * a cross join of codes and executor-built tables above it). The
    * corpus is never broadcast, and its vectors cross the wire as m
    * nibbles, not dim floats — the memory form that makes billion-vector
    * serving fit.
    *
    * @return (query_id, rank, corpus_id, adist) — adist in squared micros.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int = 8, dim: Int = 64,
             maxQueryBatch: Int = DefaultMaxQueryBatch): DataFrame = {
    val sub = dim / m
    val cb = collectCodebook(pqTrain(corpus, idCol, vecCol, m, dim), m, sub)
    // one cell holds the whole corpus: every query probes it
    val rows = corpus.select(col(idCol).cast("long").as("id"),
      lit(0L).as("cell"), microsVec(vecCol).as("vm"))
    adcTopK(rows.repartition(graft.ops.CoreOps.adaptiveWidth(rows)), queries,
      idCol, vecCol, cb, sub, k, maxQueryBatch,
      q => Seq(0 -> adcTable(q, cb, sub)),
      (codes, tables) => adcVerify(codes.drop("cell")
        .crossJoin(tables.drop("cell").hint("shuffle_replicate_nl"))))
  }

  private type Codebook = Array[Array[Array[Long]]]

  private def microsVec(vecCol: String): Column =
    transform(col(vecCol), x => round(x.cast("double") * 1e6).cast("long"))

  /** Collect a trained (s, cell, pos, cu) codebook frame into the
    * [s][cell] = centroid-micros array form (null = empty seed cell) —
    * a bounded artifact: m·16·sub longs.
    */
  private def collectCodebook(trained: DataFrame, m: Int, sub: Int): Codebook = {
    val cb = Array.fill(m, 16)(null: Array[Long])
    trained.collect().foreach { r =>
      val (s, cell, pos) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getLong(2).toInt)
      if (cb(s)(cell) == null) cb(s)(cell) = new Array[Long](sub)
      cb(s)(cell)((pos - 1) % sub) = r.getLong(3)
    }
    cb
  }

  /** Squared L2 between a(off until off + n) and b(0 until n). */
  private def sqDist(a: Array[Long], off: Int, b: Array[Long], n: Int): Long = {
    var d = 0L
    var j = 0
    while (j < n) { val x = a(off + j) - b(j); d += x * x; j += 1 }
    d
  }

  /** Flat m·16 ADC table of a vector (a query, or an IVF+PQ residual):
    * entry s·16+c is the squared L2 between its subspace-s slice and
    * centroid c (Long.MaxValue for an empty cell).
    */
  private def adcTable(v: Array[Long], cb: Codebook, sub: Int): Array[Long] = {
    val t = Array.fill(cb.length * 16)(Long.MaxValue)
    var s = 0
    while (s < cb.length) {
      var c = 0
      while (c < 16) {
        if (cb(s)(c) != null) t(s * 16 + c) = sqDist(v, s * sub, cb(s)(c), sub)
        c += 1
      }
      s += 1
    }
    t
  }

  /** A vector's PQ code: per subspace, the argmin of its [[adcTable]]
    * row (tie → lower cell).
    */
  private def encode(v: Array[Long], cb: Codebook, sub: Int): Array[Int] = {
    val t = adcTable(v, cb, sub)
    Array.tabulate(cb.length) { s =>
      var best = -1
      var bestD = Long.MaxValue
      var c = 0
      while (c < 16) {
        val d = t(s * 16 + c)
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** The asymmetric distance: Σ_s t(s·16 + code(s)). */
  private def adcSum(t: Array[Long], code: Array[Int]): Long = {
    var ad = 0L
    var s = 0
    while (s < code.length) { ad += t(s * 16 + code(s)); s += 1 }
    ad
  }

  private val pairSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("corpus_id", LongType, nullable = false),
    StructField("adist", LongType, nullable = false)))

  private val postingSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("corpus_id", LongType, nullable = false),
    StructField("code", ArrayType(IntegerType, containsNull = false))))

  private val probeSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("query_id", LongType, nullable = false),
    StructField("qt", ArrayType(LongType, containsNull = false))))

  /** Filter-and-verify over PQ codes. `rows` is the corpus as (id, cell,
    * vm): vm in micros (the cell residual for IVF+PQ) and cell its coarse
    * cell (0 for plain PQ); `probe(qv)` gives a query's probed cells,
    * each with its ADC table.
    *
    * Within `maxQueryBatch` queries, the tables are built on the driver
    * from a limit-bounded collect and broadcast, and ONE kernel pass
    * encodes each corpus row and scores it against its cell's probers —
    * the 16-way argmins run in registers and no code crosses the wire.
    * Above it, the tables are built on the executors ([[probeFrame]]),
    * the corpus is encoded as [[postings]], and `meet` pairs the two into
    * verified (query_id, corpus_id, adist) rows. Either way the ranking
    * is the k-bounded partial top-k, so each map task ships ≤ k
    * candidates per query.
    */
  private def adcTopK(rows: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, cb: Codebook, sub: Int, k: Int,
                      maxQueryBatch: Int,
                      probe: Array[Long] => Seq[(Int, Array[Long])],
                      meet: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val pairs = boundedQueryBatch(queries, idCol, vecCol, maxQueryBatch) match {
      case Some(qs) =>
        val probers = qs.toSeq
          .flatMap { case (qid, qv) => probe(qv).map { case (c, t) => (c.toLong, (qid, t)) } }
          .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).toArray }
        val bc = rows.sparkSession.sparkContext.broadcast((cb, probers))
        implicit val enc = Encoders.row(pairSchema)
        rows.mapPartitions { it =>
          val (cbv, c2q) = bc.value
          it.flatMap { r =>
            val id = r.getLong(0)
            val ps = c2q.getOrElse(r.getLong(1), Array.empty[(Long, Array[Long])])
            if (ps.isEmpty) Iterator.empty
            else {
              val code = encode(r.getSeq[Long](2).toArray, cbv, sub)
              ps.iterator.filter(_._1 != id).map { case (qid, t) =>
                Row(qid, id, adcSum(t, code))
              }
            }
          }
        }(enc)
      case None =>
        meet(postings(rows, cb, sub), probeFrame(queries, idCol, vecCol, probe))
    }
    pairsTopK(pairs, k)
  }

  /** The query set as (id, micros) when it holds at most `maxQueryBatch`
    * rows (the broadcast path); None above it, or when the bound is 0 or
    * less (the shuffle path). The collect is limit-bounded, so an
    * oversized set never reaches the driver.
    */
  private def boundedQueryBatch(queries: DataFrame, idCol: String,
                                vecCol: String,
                                maxQueryBatch: Int): Option[Array[(Long, Array[Long])]] =
    if (maxQueryBatch <= 0) None
    else {
      val rows = queries
        .select(col(idCol).cast("long").as("id"), microsVec(vecCol).as("vm"))
        .limit(maxQueryBatch + 1).collect()
      if (rows.length > maxQueryBatch) None
      else Some(rows.map(r => (r.getLong(0), r.getSeq[Long](1).toArray)))
    }

  /** Encode (id, cell, vm) rows as postings (cell, corpus_id, code) in one
    * kernel pass — log2(nCells) bits + m nibbles per vector, the serving
    * footprint.
    */
  private def postings(rows: DataFrame, cb: Codebook, sub: Int): DataFrame = {
    val bcb = rows.sparkSession.sparkContext.broadcast(cb)
    implicit val enc = Encoders.row(postingSchema)
    rows.mapPartitions { it =>
      val cbv = bcb.value
      it.map { r =>
        Row(r.getLong(1), r.getLong(0),
          encode(r.getSeq[Long](2).toArray, cbv, sub).toSeq)
      }
    }(enc)
  }

  /** Probe tables built on the executors: one (cell, query_id, qt) row per
    * probed cell of each query — the operator never collects the query set.
    */
  private def probeFrame(queries: DataFrame, idCol: String, vecCol: String,
                         probe: Array[Long] => Seq[(Int, Array[Long])]): DataFrame = {
    implicit val enc = Encoders.row(probeSchema)
    queries.select(col(idCol).cast("long").as("id"), microsVec(vecCol).as("vm"))
      .mapPartitions { it =>
        it.flatMap { r =>
          val qid = r.getLong(0)
          probe(r.getSeq[Long](1).toArray).iterator
            .map { case (c, t) => Row(c.toLong, qid, t.toSeq) }
        }
      }(enc)
  }

  /** ADC verify over candidate rows carrying (corpus_id, code, query_id,
    * qt) by name: drops self pairs, emits (query_id, corpus_id, adist).
    */
  private def adcVerify(cands: DataFrame): DataFrame = {
    val Seq(ic, icode, iq, iqt) =
      Seq("corpus_id", "code", "query_id", "qt").map(cands.schema.fieldIndex)
    implicit val enc = Encoders.row(pairSchema)
    cands.mapPartitions { it =>
      it.flatMap { r =>
        val (cid, qid) = (r.getLong(ic), r.getLong(iq))
        if (qid == cid) Iterator.empty
        else Iterator(Row(qid, cid,
          adcSum(r.getSeq[Long](iqt).toArray, r.getSeq[Int](icode).toArray)))
      }
    }(enc)
  }

  /** Postings meet their probers through the coarse-cell equi-join — the
    * shuffle key of a cell-partitioned serving layout — and are verified.
    */
  private def cellSearch(posts: DataFrame, probes: DataFrame): DataFrame =
    adcVerify(posts.join(probes, "cell"))

  /** Shared (query_id, corpus_id, adist) → ranked top-k tail. */
  private def pairsTopK(pairs: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKAgg
    pairs.groupBy(col("query_id"))
      .agg(TopKAgg.topK(k, -col("adist"), col("corpus_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("corpus_id"), (-col("col.v")).as("adist"))
  }

  /** IVF+PQ — the canonical billion-vector index (FAISS IVFPQ; Jégou et
    * al. 2011 §V): a coarse quantizer partitions the corpus into cells,
    * each vector stores only the PQ code of its RESIDUAL against its
    * cell centroid, and a query probes its `nProbe` nearest cells,
    * building one ADC table per probed cell from the query's
    * cell-relative residual. Everything after the micros conversion is
    * integer — coarse seeds from leading-dim signs, centroids as
    * truncating means, assignment/encode by integer L2 argmin, ADC sums
    * — so the whole index, probes included, hash-gates exactly.
    *
    * Scale shape: centroids and codebooks are bounded collected
    * artifacts (nCells·dim + m·16·dim/m longs — broadcast-variable
    * class); assignment+residual is ONE kernel pass over the corpus, and
    * the query side follows [[adcTopK]] (broadcast per-cell probers up to
    * `maxQueryBatch` queries, the [[cellSearch]] equi-join above it);
    * per-query work is nProbe cells' candidates, not the corpus;
    * per-vector storage is log2(nCells) bits + m nibbles.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nCells: Int = 16, nProbe: Int = 4,
                m: Int = 8, dim: Int = 64,
                maxQueryBatch: Int = DefaultMaxQueryBatch): DataFrame = {
    val sub = dim / m
    val (cc, resid, cb) = buildIvfPqIndex(corpus, idCol, vecCol, nCells, m, dim)
    adcTopK(resid, queries, idCol, vecCol, cb, sub, k, maxQueryBatch,
      probeTables(_, cc, cb, nProbe, sub), cellSearch)
  }

  /** Persist a frozen IVF+PQ index as parquet state tables — the
    * nightly-embedding-ingest shape at 100 TB: train once on the standing
    * corpus, then every new batch assigns/encodes against the FROZEN
    * centroids+codebooks ([[ivfPqAssignToState]]) and searches run over
    * the persisted postings ([[ivfPqSearchState]]) without ever
    * re-scanning, let alone re-training on, the historical vectors.
    * (FAISS calls the same split "train once, add forever"; re-training
    * per batch would re-read the whole corpus nightly.)
    *
    * Layout under `stateDir`:
    *  - `centroids`: (cell, cv) — the ≤ nCells coarse centroids (micros);
    *  - `codebooks`: (s, cell, cu) — the m×16 PQ sub-centroids trained on
    *    the corpus residuals;
    *  - `postings`: (cell, corpus_id, code) — every corpus vector as its
    *    coarse cell + m 4-bit residual codes (log2(nCells) bits + m
    *    nibbles per vector, the serving footprint).
    */
  def writeIvfPqState(corpus: DataFrame, idCol: String, vecCol: String,
                      stateDir: String, nCells: Int = 16, m: Int = 8,
                      dim: Int = 64): Unit = {
    val spark = corpus.sparkSession
    val (cc, resid, cb) = buildIvfPqIndex(corpus, idCol, vecCol, nCells, m, dim)
    spark.createDataFrame(
      java.util.Arrays.asList(cc.zipWithIndex.collect {
        case (cv, cell) if cv != null => Row(cell.toLong, cv.toSeq)
      }: _*),
      StructType(Seq(
        StructField("cell", LongType, nullable = false),
        StructField("cv", ArrayType(LongType, containsNull = false)))))
      .repartition(1).write.mode("overwrite").parquet(stateDir + "/centroids")
    spark.createDataFrame(
      java.util.Arrays.asList((for {
        s <- cb.indices; c <- 0 until 16 if cb(s)(c) != null
      } yield Row(s.toLong, c.toLong, cb(s)(c).toSeq)): _*),
      StructType(Seq(
        StructField("s", LongType, nullable = false),
        StructField("cell", LongType, nullable = false),
        StructField("cu", ArrayType(LongType, containsNull = false)))))
      .repartition(1).write.mode("overwrite").parquet(stateDir + "/codebooks")
    postings(resid, cb, dim / m).write.mode("overwrite").parquet(stateDir + "/postings")
  }

  /** Read the frozen index model back: (centroids by cell, codebook
    * [s][cell], sub) — bounded artifacts (nCells·dim + m·16·sub longs,
    * the broadcast-variable class), collected once per caller.
    *
    * Geometry (nCells, m, dim, sub) is DERIVED from the persisted rows,
    * never trusted from the caller, and checked against the caller's
    * declared `m` and `dim`: a parameter smaller than what the state was
    * written with used to surface as a raw ArrayIndexOutOfBounds deep in
    * the kernel. Empty/missing state fails fast with a named message
    * instead of a kernel NoSuchElementException.
    */
  private def readIvfPqModel(spark: SparkSession, stateDir: String, m: Int,
                             dim: Int): (Array[Array[Long]], Codebook, Int) = {
    val centRows = spark.read.parquet(stateDir + "/centroids").collect()
    require(centRows.nonEmpty,
      s"ivfpq state at $stateDir/centroids is empty — index was never " +
        "written or the dir is wrong")
    val nCells = centRows.iterator.map(_.getLong(0).toInt).max + 1
    val cc = Array.fill(nCells)(null: Array[Long])
    centRows.foreach { r => cc(r.getLong(0).toInt) = r.getSeq[Long](1).toArray }
    val dimS = centRows.head.getSeq[Long](1).length
    val cbRows = spark.read.parquet(stateDir + "/codebooks").collect()
    require(cbRows.nonEmpty,
      s"ivfpq state at $stateDir/codebooks is empty — index was never " +
        "written or the dir is wrong")
    val mS = cbRows.iterator.map(_.getLong(0).toInt).max + 1
    val cb = Array.fill(mS, 16)(null: Array[Long])
    cbRows.foreach { r =>
      cb(r.getLong(0).toInt)(r.getLong(1).toInt) = r.getSeq[Long](2).toArray
    }
    val sub = cbRows.head.getSeq[Long](2).length
    require(mS * sub == dimS,
      s"ivfpq state at $stateDir inconsistent: m=$mS subspaces of width " +
        s"$sub != centroid dim $dimS")
    require(dimS == dim && mS == m,
      s"caller declared dim=$dim m=$m but state at $stateDir was written " +
        s"with dim=$dimS m=$mS")
    (cc, cb, sub)
  }

  /** Assign + encode ONLY the new batch against the frozen state: one
    * assignment pass over the batch (nearest frozen centroid → residual)
    * and one encode pass, with the model broadcast. Returns new
    * postings rows (cell, corpus_id, code) — append them to
    * `stateDir/postings` (or pass straight to [[ivfPqSearchState]]); the
    * historical vectors are never touched. The cell count comes from the
    * persisted centroids; `m` and `dim` must match the ones the state was
    * written with.
    */
  def ivfPqAssignToState(batch: DataFrame, stateDir: String, idCol: String,
                         vecCol: String, m: Int = 8, dim: Int = 64): DataFrame = {
    val (cc, cb, sub) = readIvfPqModel(batch.sparkSession, stateDir, m, dim)
    postings(residuals(batch.select(col(idCol).cast("long").as("id"),
      microsVec(vecCol).as("vm")), cc), cb, sub)
  }

  /** ADC top-k over the PERSISTED postings plus optionally a
    * just-ingested batch's postings — the serving read of the
    * incremental index. Probe tables are built on the executors from the
    * frozen model, and candidates meet probers through [[cellSearch]],
    * the shuffle path of [[ivfPqTopK]] — but the corpus side is the m-
    * nibble postings scan, so the plan provably reads batch vectors +
    * state tables and nothing else (plan-asserted in PlanAuditSpec). The
    * cell count comes from the persisted centroids.
    */
  def ivfPqSearchState(queries: DataFrame, stateDir: String,
                       extraPostings: Option[DataFrame], idCol: String,
                       vecCol: String, k: Int, nProbe: Int = 4, m: Int = 8,
                       dim: Int = 64): DataFrame = {
    val spark = queries.sparkSession
    val (cc, cb, sub) = readIvfPqModel(spark, stateDir, m, dim)
    val posts = extraPostings.foldLeft(
      spark.read.parquet(stateDir + "/postings"))(_ unionByName _)
    pairsTopK(cellSearch(posts, probeFrame(queries, idCol, vecCol,
      probeTables(_, cc, cb, nProbe, sub))), k)
  }

  /** Shared IVF+PQ index build: coarse centroids (seeded by leading-dim
    * signs, one truncating-mean Lloyd step), cell-relative residuals
    * (localCheckpointed — codebook agg and encode both read them), and
    * PQ codebooks trained on the residuals. Centroids and codebooks are
    * bounded collected artifacts (nCells·dim + m·16·sub longs).
    *
    * @return (centroids by cell (null = empty), resid frame
    *         (id, cell, vm=residual micros), codebook [s][cell])
    */
  private def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                              nCells: Int, m: Int, dim: Int):
      (Array[Array[Long]], DataFrame, Codebook) = {
    require(nCells > 1 && (nCells & (nCells - 1)) == 0, "nCells must be a power of 2")
    val cplanes = java.lang.Integer.numberOfTrailingZeros(nCells)
    require(cplanes <= dim, "more coarse planes than dims")
    val base = corpus.select(col(idCol).cast("long").as("id"), microsVec(vecCol).as("vm"))
    // coarse seeds: leading-dim signs; centroids: truncating micro means
    val seedCell = (0 until cplanes).map { j =>
      when(element_at(col("vm"), j + 1) >= 0L, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val cc = Array.fill(nCells)(null: Array[Long])
    base.select(seedCell.as("cell"), posexplode(col("vm")))
      .groupBy(col("cell"), col("pos"))
      .agg(count(lit(1)).as("cnt"), sum(col("col")).as("su"))
      .withColumn("cu", expr("su div cnt"))
      .collect().foreach { r =>
        val cell = r.getLong(0).toInt
        if (cc(cell) == null) cc(cell) = new Array[Long](dim)
        cc(cell)(r.getInt(1)) = r.getAs[Long]("cu")
      }
    // one Lloyd step: reassign to nearest centroid, keep residuals
    val resid = residuals(base, cc).localCheckpoint() // codebook agg + encode both read it
    val cb = collectCodebook(
      pqTrainMicros(resid.select(col("id"), col("vm")), m, dim), m, dim / m)
    (cc, resid, cb)
  }

  private val residSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cell", LongType, nullable = false),
    StructField("vm", ArrayType(LongType))))

  /** Assign each (id, vm) row to its [[nearestCell]] and keep the
    * cell-relative residual: (id, cell, vm = residual micros), one kernel
    * pass with the centroids broadcast.
    */
  private def residuals(base: DataFrame, cc: Array[Array[Long]]): DataFrame = {
    val bcc = base.sparkSession.sparkContext.broadcast(cc)
    implicit val enc = Encoders.row(residSchema)
    base.mapPartitions { it =>
      val cents = bcc.value
      it.map { r =>
        val v = r.getSeq[Long](1).toArray
        val cell = nearestCell(v, cents)
        Row(r.getLong(0), cell.toLong,
          Array.tabulate(v.length)(i => v(i) - cents(cell)(i)).toSeq)
      }
    }(enc)
  }

  /** The nearest non-empty coarse cell by integer L2 (tie → lower cell). */
  private def nearestCell(v: Array[Long], cc: Array[Array[Long]]): Int = {
    var best = -1
    var bestD = Long.MaxValue
    var c = 0
    while (c < cc.length) {
      if (cc(c) != null) {
        val d = sqDist(v, 0, cc(c), v.length)
        if (d < bestD) { bestD = d; best = c }
      }
      c += 1
    }
    best
  }

  /** A query's nProbe nearest non-empty cells (tie -> lower cell), each
    * with the ADC table of the query's CELL-RELATIVE residual. Shared by
    * both query-side paths of [[ivfPqTopK]] and by [[ivfPqSearchState]].
    */
  private def probeTables(qv: Array[Long], cc: Array[Array[Long]], cb: Codebook,
                          nProbe: Int, sub: Int): Seq[(Int, Array[Long])] = {
    require(nProbe >= 1 && nProbe <= cc.length, "nProbe in [1, nCells]")
    cc.indices.filter(cc(_) != null)
      .map(c => (sqDist(qv, 0, cc(c), qv.length), c))
      .sorted.take(nProbe)
      .map { case (_, c) =>
        (c, adcTable(Array.tabulate(qv.length)(i => qv(i) - cc(c)(i)), cb, sub))
      }
  }

  /** Johnson–Lindenstrauss random projection to `outDims` dimensions with
    * the deterministic ±1 planes of [[planesArr]] (Achlioptas 2003: a
    * Rademacher projection matrix preserves pairwise distances within
    * 1 ± ε at outDims = O(log n / ε²)) — the dimensionality-reduction
    * front-end that makes downstream ANN exchange `outDims` longs per
    * vector instead of `dim` floats. Output components are
    * floor(1e6·Σᵢ vᵢ·±1) longs, so reduced-space L2 is pure integer
    * arithmetic any engine replays bit-for-bit.
    *
    * One mapPartitions kernel pass (outDims·dim multiply-adds per row, no
    * per-component column explosion), carrying `extra` columns through.
    */
  def jlProject(df: DataFrame, idCol: String, vecCol: String,
                outDims: Int, dim: Int = 64,
                extra: Seq[String] = Nil): DataFrame = {
    require(outDims >= 1, "outDims must be positive")
    val in = df.select(col(idCol).as("id") +: col(vecCol).as("v") +:
      extra.map(col): _*)
    val idType = df.schema(idCol).dataType
    val outSchema = StructType(Seq(
      StructField("id", idType),
      StructField("rv", ArrayType(LongType, containsNull = false))) ++
      extra.map(c => df.schema(c)))
    val pl = planesArr(outDims, dim)
    implicit val enc = Encoders.row(outSchema)
    in.mapPartitions { it =>
      it.map { r =>
        val v = r.getSeq[Float](1)
        val rv = new Array[Long](outDims)
        var p = 0
        while (p < outDims) {
          var s = 0.0
          var i = 0
          val n = math.min(v.length, dim)
          while (i < n) { s += v(i).toDouble * pl(p)(i); i += 1 }
          rv(p) = math.floor(s * 1000000.0).toLong
          p += 1
        }
        Row.fromSeq(Seq(r.get(0), rv.toSeq) ++ (2 until r.length).map(r.get))
      }
    }(enc)
  }

  /** k-Center greedy coreset selection (farthest-first traversal; Sener &
    * Savarese, "Active Learning for CNNs: A Core-Set Approach", ICLR
    * 2018): pick `k` vectors such that every corpus vector is close to
    * some pick — each step adds the vector FARTHEST from the current
    * picks (max over corpus of min distance to chosen). The dataset-
    * distillation / diverse-subset primitive, dual to MMR (coverage, not
    * query relevance).
    *
    * Fully distributed: every step is ONE corpus scan with the ≤ k chosen
    * vectors broadcast in the closure + a TakeOrdered(1) — the corpus is
    * never collected and never pairwise-joined, so the cost is O(k·n·dim)
    * scan work, the standard cluster form. Distances are integer L2 over
    * floor-micro components (any engine replays them bit-for-bit); ties
    * break to the smaller id. Seeded at the corpus's smallest id.
    *
    * Returns (step, id, dmin) — dmin the pick's distance to the
    * previously chosen set (0 for the seed).
    */
  def kCenterGreedy(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, dim: Int = 64): DataFrame = {
    require(k >= 1, "k must be positive")
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = corpus
      .select(col(idCol).cast("long").as("id"), microsVec(vecCol).as("vm"))
      .as[(Long, Array[Long])]
    val seed = m.orderBy(col("id")).limit(1).collect().head
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Long])](seed)
    val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]((1, seed._1, 0L))
    for (step <- 2 to k) {
      val cb = spark.sparkContext.broadcast(chosen.toArray)
      // Exclude already-chosen ids: when every remaining point duplicates a
      // chosen one (max dmin = 0) the scan must still pick a FRESH id, the
      // same NOT IN semantics the oracle uses.
      val chosenIds = chosen.map(_._1).toSet
      val far = m.filter(r => !chosenIds.contains(r._1)).map { case (id, vm) =>
        var best = Long.MaxValue
        val cs = cb.value
        var c = 0
        while (c < cs.length) {
          var d = 0L
          var i = 0
          val cv = cs(c)._2
          val n = math.min(vm.length, cv.length)
          while (i < n) { val x = vm(i) - cv(i); d += x * x; i += 1 }
          if (d < best) best = d
          c += 1
        }
        (id, vm, best)
      }.toDF("id", "vm", "dmin")
        .orderBy(col("dmin").desc, col("id"))
        .limit(1).as[(Long, Array[Long], Long)].collect().head
      chosen += ((far._1, far._2))
      picks += ((step, far._1, far._3))
      cb.destroy()
    }
    picks.toSeq.toDF("step", "id", "dmin")
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): pick `k` results greedily from the `topN` most-relevant
    * candidates, each step maximizing
    * `relW·rel − divW·max(sim to already-chosen)` — the standard
    * relevance/diversity trade-off behind RAG context selection and
    * diversified search (relW/divW is λ/(1−λ) scaled to integers).
    *
    * Scale shape: relevance is ONE distributed kernel pass over the corpus
    * (query vector broadcast in the closure) + a TakeOrdered top-`topN` —
    * the corpus is never collected or pairwise-joined. Only the `topN`
    * candidates (a bounded serving artifact, `require`d ≤ 4096 like the
    * other broadcast-path guards) reach the driver, where the O(topN²)
    * pairwise similarities and the O(k·topN) greedy loop run on ≤ 4096
    * rows. All scores are floor(cosine·1e6) longs with the same fold order
    * as a list_reduce, so any ANSI engine replays every pick bit-for-bit;
    * ties break to the smaller id via the `score·1e6 − id` composite key.
    *
    * Returns (step, id, rel) for steps 1..k in pick order.
    */
  def mmrRerank(corpus: DataFrame, queryVec: Array[Float], idCol: String,
                vecCol: String, topN: Int, k: Int,
                relW: Long, divW: Long): DataFrame = {
    require(topN >= k && k >= 1, "need topN >= k >= 1")
    require(topN <= 4096, "topN is a driver-held candidate batch; keep it bounded")
    val spark = corpus.sparkSession
    import spark.implicits._

    def cosMicros(a: Seq[Float], b: Seq[Float]): Long = {
      // Three separate index-order folds + one divide, exactly the SQL
      // cosine's shape — never a fused/reordered accumulation.
      var d = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i).toDouble * b(i).toDouble; i += 1 }
      var na = 0.0; i = 0
      while (i < a.length) { na += a(i).toDouble * a(i).toDouble; i += 1 }
      var nb = 0.0; i = 0
      while (i < b.length) { nb += b(i).toDouble * b(i).toDouble; i += 1 }
      val nn = math.sqrt(na) * math.sqrt(nb)
      val c = if (nn == 0.0) 0.0 else d / nn
      math.floor(c * 1000000.0).toLong
    }

    val q = spark.sparkContext.broadcast(queryVec)
    val cand = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, cosMicros(v, q.value.toSeq)) }
      .toDF("id", "v", "rel")
      .orderBy(col("rel").desc, col("id"))
      .limit(topN)
      .as[(Long, Seq[Float], Long)].collect()

    val ids = cand.map(_._1)
    val rels = cand.map(_._3)
    val vecs = cand.map(_._2)
    val nC = cand.length
    val sims = Array.tabulate(nC, nC)((i, j) =>
      if (i == j) Long.MinValue else cosMicros(vecs(i), vecs(j)))

    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val picks = (1 to math.min(k, nC)).map { step =>
      val best =
        if (chosen.isEmpty) {
          // step 1: pure relevance, ties to the smaller id
          (0 until nC).maxBy(i => (rels(i), -ids(i)))
        } else {
          (0 until nC).filterNot(chosen.contains).maxBy { i =>
            val maxSim = chosen.map(j => sims(i)(j)).max
            (relW * rels(i) - divW * maxSim) * 1000000L - ids(i)
          }
        }
      chosen += best
      (step, ids(best), rels(best))
    }
    picks.toDF("step", "id", "rel")
  }
}

