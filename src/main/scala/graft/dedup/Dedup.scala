package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.MinhashKernels

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup. Every variant is a
  * shuffle-on-candidate-key plan — never an all-pairs cross join — so the
  * cost at 100 TB is O(n) map work plus one hash exchange per banding pass.
  *
  * All hashes are mod-prime polynomial folds kept under 2^61 at every step:
  * deterministic, seedable, and expressible in any ANSI engine (no int64
  * wraparound, which engines like DuckDB reject), so every operator here is
  * oracle-checkable end to end.
  *
  * Every operator hashes with the native codegen'd expressions:
  * [[charHash]] and the `graft.expressions` kernels (`shingle_hashes`,
  * `minhash_band_keys*`, `simhash_sig`), which fold each token with
  * `CharHash.hash`. The HOF column forms — [[charHashHof]] and the
  * [[shingleHashes]], [[minhashSignature]], [[bandHash]], [[tokenHashes]]
  * and [[simhash]] built on it — are the executable spec those are pinned
  * to; no operator runs them.
  */
object Dedup {

  /** Modulus for all rolling hashes (fits squared-ish intermediates in i64). */
  val P = 1000000007L
  /** Affine rehash constants for the i-th hash function. */
  def hashA(i: Int): Long = ((i + 1) * 2654435761L) % P
  def hashB(i: Int): Long = ((i + 1) * 1013904223L) % P

  /** WIDE-simhash second-seed constants: the murmur3 finalizer multipliers,
    * mod P. Deliberately NOT `hashA(1)`/`hashB(1)` — the (i+1)·const family
    * gives a1 = 2·a0 mod P, making seed 1's hash hs2 = (2·hs) mod P, a
    * near-shift of seed 0's whose BITS mirror the lower signature's (upper
    * wide bands would partially repeat lower ones; ADVICE r16). Any affine
    * rehash of the same char fold is a bijection of hs — what the wide
    * bands need is bit-level DEcorrelation, which an unrelated multiplier
    * delivers (multiply-mod hashing scrambles all bits) and a ×2 multiplier
    * maximally does not (pure 1-bit shift for hs < P/2).
    */
  val wideA1 = 0x85EBCA6BL % P // 2246822507 mod P = 246822493
  val wideB1 = 0xC2B2AE35L % P // 3266489909 mod P = 266489888

  /** Exact dedup: keep the minimum-id row per identical key column (hash
    * groupBy — partial aggregation map-side, one shuffle).
    */
  def exactDedup(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(min(col(idCol)).as(idCol))

  /** Word k-shingles of a text column (distinct, as array). */
  def shingles(text: Column, k: Int): Column = {
    val toks = split(text, " ")
    val n = size(toks)
    array_distinct(
      transform(sequence(lit(0), greatest(n - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  /** Portable 30-bit rolling hash of a string: fold (acc*31 + code) mod P
    * over the character stream, reproducible across engines and runs. The
    * one Column form production code hashes with: it builds the native
    * [[graft.expressions.CharHash]] directly (codegen'd, no function
    * registration needed).
    */
  def charHash(s: Column): Column =
    org.apache.spark.sql.GraftFunctions.column(graft.expressions.CharHash(
      org.apache.spark.sql.GraftFunctions.expression(s)))

  /** The HOF reference fold of [[charHash]] — the executable spec the
    * native expression and the HOF forms below are pinned to. Equal to
    * [[charHash]] on BMP text: this folds per-character `ascii()` code
    * points, the native form folds UTF-16 units.
    */
  def charHashHof(s: Column): Column =
    aggregate(split(s, ""), lit(0L),
      (acc, ch) => (acc * lit(31L) + coalesce(ascii(ch).cast(LongType), lit(0L))) % lit(P))

  /** i-th seeded hash: affine rehash (A_i * h + B_i) mod P. */
  def seeded(h: Column, i: Int): Column = (lit(hashA(i)) * h + lit(hashB(i))) % lit(P)

  /** Distinct k-shingle hashes built by combining per-token hashes —
    * O(chars) char work per doc instead of O(k·chars): each token is
    * char-hashed once, then a shingle hash is a k-step fold over the token
    * hashes. The HOF reference of the `shingle_hashes` kernel
    * ([[shingleHashSets]]).
    */
  def shingleHashes(text: Column, k: Int): Column = {
    val th = transform(split(text, " "), t => charHashHof(t))
    val n = size(th)
    array_distinct(
      transform(sequence(lit(0), greatest(n - k, lit(0))), i =>
        aggregate(slice(th, i + 1, lit(k)), lit(0L),
          (acc, h) => (acc * lit(1000003L) + h) % lit(P))))
  }

  /** MinHash signature: for each of `numHashes` seeded hash functions, the
    * minimum over the doc's shingle hashes. Returns ArrayType(Long) of length
    * `numHashes`. All expression-level — no UDF, no collect. Pass the
    * (materialized) shingle-hash column so the char-level work is done once,
    * not once per hash function.
    */
  def minhashSignature(shingleHashCol: Column, numHashes: Int): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(shingleHashCol, h => seeded(h, i)))
    }: _*)

  /** Fold a band's signature slice to one long key (fixed-width shuffle key
    * instead of an array join key).
    */
  def bandHash(sig: Column, from: Int, len: Int): Column =
    aggregate(slice(sig, lit(from + 1), lit(len)), lit(0L),
      (acc, v) => (acc * lit(1000003L) + v) % lit(P))

  /** Narrow-input widen for the hash kernels. Two regimes:
    *
    *  - **Scale path (files ≥ cores — every real corpus; at 100 TB a table
    *    is thousands of files): NO exchange.** The hash expression computes
    *    inside the scan stage and corpus TEXT never leaves it; only the
    *    compact hash outputs reach the keyed exchanges downstream. Before
    *    r13 an unconditional `repartition(defaultParallelism)` sat
    *    *upstream* of every hash kernel, round-robin shuffling the full
    *    corpus text once per kernel — the two dominant exchanges of the
    *    sf1 corpus-build rehearsal (`CORPUSBUILD_r12.md`), ~2× corpus
    *    bytes of avoidable shuffle at 100 TB.
    *  - **Local path (files < cores: single-file fixtures, spec
    *    relations): widen the (id, text) projection** so the per-doc hash
    *    loops run core-parallel instead of inside the one-split scan. At
    *    this size class the text exchange is a few MB; the r13 A/B showed
    *    hashing single-threaded cost the multi-call dedup queries
    *    1.3–1.7× at sf0.1, which the widen restores.
    *
    * The width probe is `inputFiles.length` — a logical-plan file-index
    * listing, NOT `rdd.getNumPartitions`, which forces `toRdd`/`doExecute`
    * and a Janino whole-stage compile per call (~0.1 s of driver overhead,
    * measured). File count slightly understates split count for
    * multi-row-group files; the conditional only needs "tiny local input
    * vs real corpus", where the two agree. Non-file inputs (local
    * relations in specs, checkpoints) report 0 files and take the local
    * path, correct for their size class.
    */
  private def widenNarrowInput(df: DataFrame): DataFrame = {
    // Streaming frames never probe and never widen: a repartition here
    // would add a round-robin exchange to EVERY micro-batch, and the
    // right stream width is the source's maxFilesPerTrigger / state
    // sizing (StateSizing), not this batch heuristic. The hash kernels
    // are stateless projections, so they run scan-local per batch.
    if (df.isStreaming) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    // Expected non-file-backed plans (LocalRelation fixtures, checkpointed
    // LogicalRDDs) return an EMPTY array, not an exception — so the catch
    // below should essentially never fire. It is scoped to the two
    // failure shapes a plan-introspection call can legitimately produce
    // (analysis-time rejection, an unsupported leaf); anything else —
    // OOM, a broken FileIndex, a bug — propagates loudly instead of
    // silently flipping the repartition policy (VERDICT r13 item 3).
    val nFiles = try df.inputFiles.length catch {
      case _: org.apache.spark.sql.AnalysisException => 0
      case _: UnsupportedOperationException => 0
    }
    if (nFiles < p) df.repartition(p) else df
  }

  /** Banding via the native codegen'd expression
    * ([[graft.expressions.MinhashBandKeys]]): the per-doc work happens in
    * one static JVM call inside whole-stage codegen — no encoder
    * round-trip, no optimizer barrier — and `posexplode` fans the band
    * array out to (band, bh, id) rows. Arithmetic identical to the HOF
    * [[shingleHashes]] → [[minhashSignature]] → [[bandHash]] chain (pinned
    * by MinhashExprSpec) and the oracle.
    * On the scale path the band-key array is computed IN the scan stage
    * and no exchange exists below the band join (see [[widenNarrowInput]]).
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
                   shingleK: Int, numHashes: Int, bands: Int): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    widenNarrowInput(
      df.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("text")))
      .select(col("id"), posexplode(call_function("minhash_band_keys",
        col("text"), lit(shingleK), lit(numHashes), lit(bands))))
      .select(col("pos").as("band"), col("col").as("bh"), col("id"))
  }

  /** (id, distinct shingle-hash set) per doc — the verify-side table
    * candidates are joined back to (one row per doc, no band duplication).
    * Native expression form (see [[minhashBands]] for why).
    */
  def shingleHashSets(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    widenNarrowInput(
      df.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("text")))
      .select(col("id"),
        call_function("shingle_hashes", col("text"), lit(shingleK)).as("sh"))
  }

  /** [[shingleHashSets]] materialized once (lazy local checkpoint): the
    * r18 one-kernel-pass base every multi-consumer LSH pipeline derives
    * band keys, set sizes and verify sides from, instead of re-running
    * the O(chars) shingle fold per consumer. Stores (id, hashes) only —
    * the same rows the verify joins must exchange anyway; corpus text
    * never leaves the scan stage.
    */
  private def shingleBase(df: DataFrame, idCol: String, textCol: String,
                          shingleK: Int): DataFrame =
    // the kernel emits sorted-distinct hashes (r18), so the verify
    // kernels skip their per-PAIR sorts downstream (a sort_array here
    // would be CodegenFallback and break the scan stage's codegen —
    // measured 1.3-1.9x worse on q187/q131)
    shingleHashSets(df, idCol, textCol, shingleK).localCheckpoint(eager = false)

  /** (band, bh, id) rows derived from a [[shingleBase]] — arithmetic
    * identical to [[minhashBands]] (MinhashExprSpec pins the from-hashes
    * kernel against the text form).
    */
  private def bandsFromBase(base: DataFrame, numHashes: Int, bands: Int): DataFrame =
    base.select(col("id"), posexplode(call_function(
        "minhash_band_keys_from_hashes", col("sh"), lit(numHashes), lit(bands))))
      .select(col("pos").as("band"), col("col").as("bh"), col("id"))

  /** Content-equality key for the overlap-broadcast intern table. */
  private final class LongArrayKey(val a: Array[Long]) {
    override val hashCode: Int = java.util.Arrays.hashCode(a)
    override def equals(o: Any): Boolean = o match {
      case k: LongArrayKey => java.util.Arrays.equals(a, k.a)
      case _ => false
    }
  }
  private val overlapBroadcasts =
    scala.collection.mutable.Map[LongArrayKey,
      org.apache.spark.broadcast.Broadcast[Array[Long]]]()
  private var overlapBroadcastsCtx: org.apache.spark.SparkContext = null

  /** Append an exact benchmark-overlap count per row, STATELESSLY: the
    * bench shingle set rides a broadcast (a bounded model artifact, the
    * same class as a centroid table — fingerprints only, no payload),
    * and each row's distinct k-shingles are counted against it inside
    * the scan. This is the streaming-safe decontamination form: no
    * per-doc aggregation, so it composes with other stateful operators
    * (Spark allows only restricted stateful chains per query).
    *
    * The fingerprints are sorted ONCE on the driver and probed with
    * binary search per shingle — the earlier form shipped a raw array
    * and rebuilt a hash Set per task (per micro-batch × partition in
    * streaming), driver-bounded work repeated executor-side forever.
    */
  def overlapCount(df: DataFrame, textCol: String, shingleK: Int,
                   bench: Array[Long]): DataFrame = {
    val sorted = bench.clone()
    java.util.Arrays.sort(sorted)
    // Interned per (context, content): repeated invocations in a
    // long-lived driver (per-pass bench loops, repeated streaming query
    // builds) previously broadcast a fresh copy every call and never
    // released it — an unbounded driver/executor block leak (r11
    // ADVICE). The cache is value-keyed, so equal bench sets share one
    // broadcast; distinct sets stay correct. Keyed per SparkContext so a
    // restarted session never resurrects a stale broadcast handle.
    val sc = df.sparkSession.sparkContext
    val bc = Dedup.overlapBroadcasts.synchronized {
      if (Dedup.overlapBroadcastsCtx ne sc) {
        Dedup.overlapBroadcasts.clear()
        Dedup.overlapBroadcastsCtx = sc
      }
      Dedup.overlapBroadcasts.getOrElseUpdate(
        new Dedup.LongArrayKey(sorted), sc.broadcast(sorted))
    }
    val schema = StructType(df.schema.fields :+
      StructField("n_overlap", LongType, nullable = false))
    val idx = df.schema.fieldIndex(textCol)
    implicit val enc = Encoders.row(schema)
    df.mapPartitions { it =>
      val arr = bc.value
      it.map { r =>
        val text = UTF8String.fromString(Option(r.getString(idx)).getOrElse(""))
        var n = 0L
        MinhashKernels.shingleHashes(text, shingleK).foreach(h =>
          if (java.util.Arrays.binarySearch(arr, h) >= 0) n += 1)
        Row.fromSeq(r.toSeq :+ n)
      }
    }(enc)
  }

  /** MinHash + LSH banded near-dup pairs: docs sharing a (band, bandHash)
    * bucket become candidates through the tiled self-join
    * ([[PairJoin.selfPairs]] — a hash shuffle on band keys, never n²), then
    * exact shingle-set Jaccard ≥ `threshold` verifies them.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5, bucketCap: Int = 4096): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    // ONE kernel pass (r18): the shingle-hash sets are materialized once
    // as (id, sh) and every consumer — band keys, set sizes, both verify
    // sides — derives from them; the old shape ran the O(chars) shingle
    // fold up to four times per query (3 of q131's 4 heavy stages at sf0.1).
    val base = shingleBase(df, idCol, textCol, shingleK)
    // Band rows carry the shingle-SET SIZE (r17) for the PPJoin length
    // filter: J(A,B) ≥ t forces min·10⁴ ≥ (t_bp−1)·max. Applied before the
    // candidate distinct, it prunes the length-mismatched bulk of weak-band
    // collisions (sf0.1, q31's 2-row bands: 616k raw pairs for 255 true
    // ones); the 1 bp slack keeps it strictly weaker than the exact compare.
    val banded = base
      .select(col("id"), size(col("sh")).cast("long").as("sz"),
        posexplode(call_function("minhash_band_keys_from_hashes",
          col("sh"), lit(numHashes), lit(bands))))
      .select(col("pos").as("band"), col("col").as("bh"), col("id"), col("sz"))
    val thrBp = math.round(threshold * 10000)
    val cand = PairJoin.selfPairs(banded, Seq("band", "bh"), "id", bucketCap)
      .filter(lit(10000L) * least(col("a.sz"), col("b.sz")) >=
        lit(thrBp - 1) * greatest(col("a.sz"), col("b.sz")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
    PairJoin.verify(cand, "id_a", "id_b", base, base)(
      PairJoin.jaccardAtLeast(threshold, "id_a", "id_b"))
  }

  /** Incremental NEAR-dup detection — the production shape of corpus
    * dedup: tonight's `batch` is checked against the standing corpus
    * WITHOUT re-banding it. At 100 TB the `history` side's band table
    * ((band, bh, id) rows) and shingle-set table are PERSISTED state
    * maintained by the nightly job (append the batch's rows after
    * deduping); here they are derived in-plan from `history` because the
    * sandbox has no standing store — see [[incrementalNearDupsFromState]]
    * for the persisted-state form with the identical join shape. The
    * candidate exchange is a two-sided equi-join on (band, bh) carrying
    * ids only (no text, no sets — the dominant-shuffle discipline of
    * [[minhashNearDups]]), hot history buckets tiled at `bucketCap`
    * ([[PairJoin.crossPairs]]). Batch-internal duplicates are
    * deliberately NOT reported — run [[minhashNearDups]] on the batch
    * alone for those.
    *
    * Returns (id_new ∈ batch, id_old ∈ history, jaccard ≥ threshold).
    */
  def incrementalNearDups(batch: DataFrame, history: DataFrame,
                          idCol: String, textCol: String,
                          shingleK: Int = 3, numHashes: Int = 16,
                          bands: Int = 4, threshold: Double = 0.5,
                          bucketCap: Int = 4096): DataFrame = {
    // ONE kernel pass per side (r18): each side's (id, sh) base is
    // materialized once and the band keys derive from it. The history
    // side previously ran the shingle fold THREE times (main-join bands +
    // census bands + verify sets) and the batch side twice; the r13
    // sharing alternatives that measured slower on q138 both forced an
    // EXCHANGE above the kernel (keyed repartition / round-robin widen) —
    // the lazy local checkpoint has neither an exchange nor a sort, it
    // just persists the scan stage's (id, hashes) output partitions.
    val nbase = shingleBase(batch, idCol, textCol, shingleK)
    val hbase = shingleBase(history, idCol, textCol, shingleK)
    incrementalVerify(nbase, bandsFromBase(nbase, numHashes, bands),
      bandsFromBase(hbase, numHashes, bands), hbase, threshold, bucketCap)
  }

  /** Shared candidate+verify tail of the incremental paths: batch bands
    * `nb` against history bands `hb` ([[PairJoin.crossPairs]]), verified
    * against the batch sets `ns` and history sets `hs`.
    *
    * The history SET state is Bloom-pruned before its exchange (r13): the
    * verify join needs sets for candidate `id_old`s only — a sliver of
    * the standing corpus on any healthy night — but a plain join ships
    * the WHOLE set table (∝ state ≈ 1% of corpus bytes, the dominant
    * measured exchange of the r13 incremental rehearsal). The candidate
    * table is ids-only and bounded by batch×dup-rate, so it
    * localCheckpoints cheaply; its exact count sizes the sketch, and
    * false positives are removed by the exact join that follows —
    * results identical, the sketch only moves work off the state
    * exchange (same device as [[dedupAgainstHistory]]'s Bloom gate).
    */
  private def incrementalVerify(ns: DataFrame, nb: DataFrame,
                                hb: DataFrame, hs: DataFrame,
                                threshold: Double,
                                bucketCap: Int,
                                hotPre: Option[DataFrame] = None): DataFrame = {
    val cand = PairJoin.crossPairs(nb, hb, Seq("band", "bh"), "id", bucketCap, hotPre)
      .localCheckpoint()
    val nCand = math.max(cand.count(), 1L)
    // Two prune devices, selected by candidate count (r14 — the always-on
    // Bloom added two fixed driver jobs (sketch agg + serialization) that
    // q140's sf0.1 leg paid without benefit):
    //  - healthy night (bounded candidates): broadcast the distinct
    //    id_old set and LEFT SEMI the state against it — exact (no false
    //    positives), and the "sketch" build is just the broadcast of an
    //    already-checkpointed ids-only table. 4M ids ≈ 32 MB, well inside
    //    broadcast budget.
    //  - pathological night (candidates above the cap): fixed-size Bloom
    //    sketch as before — 1 MB regardless of candidate count, false
    //    positives removed by the exact join below.
    // Either way the state table is pruned SCAN-SIDE: it never shuffles,
    // so the verify exchange stays ∝ candidates, not ∝ corpus state.
    val hsPruned =
      if (nCand <= 4000000L) {
        val candIds = cand.select(col("id_old")).distinct()
        hs.join(broadcast(candIds), hs("id") === candIds("id_old"), "left_semi")
      } else {
        val sketch = graft.ops.BloomJoin.buildSketch(cand, "id_old", nCand)
        hs.filter(graft.ops.BloomJoin.mightContain(hs, col("id"), sketch))
      }
    PairJoin.verify(cand, "id_new", "id_old", ns, hsPruned)(
      PairJoin.jaccardAtLeast(threshold, "id_new", "id_old"))
  }

  /** Materialize the standing corpus's near-dup state: the (band, bh, id)
    * band table and the (id, sh) shingle-set table, as parquet under
    * `stateDir`. This is what the nightly job maintains INSTEAD of
    * re-reading history text: after deduping a batch, append its bands
    * and sets here (mode("append")), and the next batch joins only this
    * state — history text is never re-scanned, never re-shingled, never
    * re-banded. State size is O(docs · bands) fixed-width rows plus the
    * shingle sets (≈ tokens-per-doc longs each), a small constant factor
    * of the corpus's token count and ~1% of its raw bytes.
    */
  def writeNearDupState(history: DataFrame, idCol: String, textCol: String,
                        stateDir: String, shingleK: Int = 3,
                        numHashes: Int = 16, bands: Int = 4,
                        mode: String = "overwrite",
                        bucketCap: Int = 4096): Unit = {
    minhashBands(history, idCol, textCol, shingleK, numHashes, bands)
      .write.mode(mode).parquet(stateDir + "/bands")
    shingleHashSets(history, idCol, textCol, shingleK)
      .write.mode(mode).parquet(stateDir + "/sets")
    // The hot-bucket census is a property of the STATE, so it is
    // maintained here, with the state — recomputed over the full
    // persisted band table (append mode stays consistent) and always
    // overwritten. Paying the one state-sized census exchange at
    // state-write time (once per state change) frees EVERY read — nightly
    // batch or streaming micro-batch — from re-aggregating the
    // corpus-sized band table; the read path broadcasts this table
    // instead ([[PairJoin.crossPairs]] `hotPre`). Buckets at or below
    // `bucketCap` are omitted: tiling them is a no-op.
    PairJoin.hotKeys(history.sparkSession.read.parquet(stateDir + "/bands"),
        Seq("band", "bh"), bucketCap)
      .write.mode("overwrite").parquet(stateDir + "/hot")
  }

  /** [[incrementalNearDups]] against PERSISTED state (the production
    * nightly shape): `batch` is banded fresh; the history side comes
    * entirely from `stateDir` parquet written by [[writeNearDupState]].
    * The plan provably never touches history text — its only file scans
    * besides the batch's source are the two state tables (spec-asserted).
    * Parameters must match the ones the state was written with.
    */
  def incrementalNearDupsFromState(batch: DataFrame, stateDir: String,
                                   idCol: String, textCol: String,
                                   shingleK: Int = 3, numHashes: Int = 16,
                                   bands: Int = 4, threshold: Double = 0.5,
                                   bucketCap: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    // one kernel pass over the batch (r18): bands + verify sets derive
    // from the materialized (id, sh) base
    val nbase = shingleBase(batch, idCol, textCol, shingleK)
    val nb = bandsFromBase(nbase, numHashes, bands)
    val hb = spark.read.parquet(stateDir + "/bands")
    // Explicit read schema (skips footer inference); file sources force
    // asNullable on user schemas, so the array elements still surface
    // nullable here — appendJaccard compacts that path (ADVICE r17).
    val setsSchema = StructType(Seq(
      StructField("id", batch.schema(idCol).dataType),
      StructField("sh", ArrayType(LongType, containsNull = false))))
    val hs = spark.read.schema(setsSchema).parquet(stateDir + "/sets")
    // Use the state-maintained hot-bucket census when the state has one
    // (explicit schema: an all-cold census is an empty parquet dir).
    // Pre-census state dirs fall back to the in-plan census — correct,
    // but paying a state-sized exchange per call.
    val hotPath = new org.apache.hadoop.fs.Path(stateDir + "/hot")
    val hotFs = hotPath.getFileSystem(spark.sessionState.newHadoopConf())
    val hotPre =
      if (hotFs.exists(hotPath))
        Some(spark.read.schema(StructType(Seq(
            StructField("band", IntegerType, nullable = false),
            StructField("bh", LongType, nullable = false),
            StructField("_n", LongType, nullable = false))))
          .parquet(stateDir + "/hot"))
      else None
    incrementalVerify(nbase, nb, hb, hs, threshold, bucketCap, hotPre)
  }

  /** Near-dup CLUSTERS: transitive closure of [[minhashNearDups]] pairs —
    * "A≈B and B≈C" makes {A,B,C} one cluster even when A,C were never a
    * candidate pair. Returns (node = doc id, component = min doc id of the
    * cluster, the canonical representative to keep) for every doc that
    * appears in at least one near-dup pair; docs with no near-dup are
    * implicitly their own cluster. This is the composition a real corpus
    * dedup ships: pairs alone under-delete on chains of drift. Takes no
    * `checkpointDir`: its materializations (shingle base, pair join,
    * component fixpoint) are executor-local.
    */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      threshold: Double = 0.5, bucketCap: Int = 4096): DataFrame =
    graft.graph.Components.connectedComponents(
      minhashNearDups(df, idCol, textCol, shingleK, numHashes, bands,
        threshold, bucketCap),
      "id_a", "id_b")

  /** Leakage-safe train/val/test split: every member of a near-dup
    * cluster lands in the SAME split, so the eval sets can never contain
    * a near-duplicate of a training document — the leakage mode a plain
    * per-doc hash split has by construction (each ~0.85-Jaccard copy
    * draws independently, so a 3-member family straddles train and test
    * with probability ≈ 1 − (0.8³+0.1³+0.1³) ≈ 49%). Assignment hashes
    * the cluster REPRESENTATIVE (the component id from [[nearDupClusters]];
    * docs in no cluster represent themselves), so the decision is
    * per-cluster, deterministic, and engine-portable.
    *
    * Returns (id, rep, split ∈ train|val|test). One left join + the
    * portable hash — no shuffle beyond the cluster join; compose with the
    * pair pipeline's own cost (clusters ≪ docs rows).
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, clusters: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct > 0 && trainPct + valPct < 100,
      "need positive train/val and a non-empty test remainder")
    val rep = docs.select(col(idCol))
      .join(clusters.select(col("node").as(idCol), col("component")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("rep"))
    val h = pmod(charHash(col("rep").cast("string")), lit(100L))
    rep.withColumn("split",
      when(h < trainPct, "train")
        .when(h < trainPct + valPct, "val")
        .otherwise("test"))
  }

  /** Realized-fraction gate for [[leakageSafeSplit]]: hashing the cluster
    * REPRESENTATIVE holds the 80/10/10 target only in expectation — an
    * unlucky cluster-size distribution can starve an eval set, and
    * nothing downstream would notice until a model trains on it. One row
    * per split with the realized fraction in basis points (integer, so
    * the oracle compare is exact) and a tolerance boolean; gate a
    * pipeline on `bool_and(within_tol)` before anything trains.
    */
  def splitFractions(split: DataFrame, trainPct: Int = 80, valPct: Int = 10,
                     tolBp: Long = 500L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = split.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
    // Window over () is a 3-row frame (one per split), not a data shuffle.
    val withTotal = counts.withColumn("_total",
      sum(col("n_docs")).over(Window.partitionBy()))
    val fracBp = round(col("n_docs") * lit(10000.0) / col("_total"), 0)
      .cast(LongType)
    val targetBp = when(col("split") === "train", lit(trainPct * 100L))
      .when(col("split") === "val", lit(valPct * 100L))
      .otherwise(lit((100 - trainPct - valPct) * 100L))
    withTotal.select(col("split"), col("n_docs"),
      fracBp.as("frac_bp"),
      (abs(fracBp - targetBp) <= tolBp).as("within_tol"))
  }

  /** Benchmark decontamination: flag corpus documents that share at least
    * `minOverlap` distinct k-gram shingles with ANY benchmark document —
    * the leakage check an LLM training pipeline runs against its eval
    * sets. Returns (id, n_overlap, contaminated).
    *
    * Shape at 100 TB: the benchmark shingle set is small (eval sets are
    * thousands of docs) and arrives distinct — the join is corpus-shingles
    * ⋈ broadcast-or-hash on the shingle hash; the corpus side explodes to
    * one row per distinct shingle but aggregates straight back to one row
    * per doc (partial count). Shingle hashing is the native codegen'd
    * expression; no text ever crosses the join.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, shingleK: Int = 5,
                    minOverlap: Int = 1): DataFrame = {
    val benchShingles = shingleHashSets(benchmark, idCol, textCol, shingleK)
      .select(explode(col("sh")).as("h")).distinct()
    val corpusShingles = shingleHashSets(corpus, idCol, textCol, shingleK)
      .select(col("id"), explode(col("sh")).as("h"))
    val overlaps = corpusShingles.join(benchShingles, "h")
      .groupBy(col("id")).agg(count(lit(1)).as("n_overlap"))
    corpus.select(col(idCol).as("id"))
      .join(overlaps, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Compact content fingerprints of a corpus — the only thing exact
    * incremental dedup needs to retain about history. Three independent
    * components per distinct text: byte length, `xxhash64`, and the
    * mod-prime [[charHash]] — ~2^-120 collision odds, the practical
    * equivalent of the 128-bit content address production systems keep.
    * One column-pruned scan + one distinct; the result is O(distinct
    * texts) rows of 24 bytes, not the corpus.
    */
  def fingerprints(history: DataFrame, textCol: String): DataFrame = {
    history.select(length(col(textCol)).cast(LongType).as("fp_len"),
        xxhash64(col(textCol)).as("fp_x"),
        charHash(col(textCol)).as("fp_c"))
      .distinct()
  }

  /** Incremental exact dedup: the rows of `batch` whose text does NOT
    * already appear in history — without rescanning history (pass its
    * persisted [[fingerprints]]). The 100 TB shape: a Bloom sketch of the
    * history hashes gates the batch first, so rows that are certainly new
    * (the common case for a healthy crawl) never enter the anti-join
    * exchange; only Bloom-positives (true dups + fpp false positives)
    * shuffle against the fingerprint table.
    *
    * `expectedHistory` sizes the sketch (≈1.2 MB per million history
    * texts at 3% fpp — broadcast as a literal).
    */
  def dedupAgainstHistory(batch: DataFrame, historyFp: DataFrame,
                          textCol: String,
                          expectedHistory: Long): DataFrame = {
    val b = batch
      .withColumn("fp_len", length(col(textCol)).cast(LongType))
      .withColumn("fp_x", xxhash64(col(textCol)))
      .withColumn("fp_c", charHash(col(textCol)))
    val sketch = graft.ops.BloomJoin.buildSketch(historyFp, "fp_x",
      expectedHistory)
    val gate = graft.ops.BloomJoin.mightContain(b, col("fp_x"), sketch)
    val certainlyNew = b.filter(!gate)
    val verified = b.filter(gate)
      .join(historyFp, Seq("fp_len", "fp_x", "fp_c"), "left_anti")
    certainlyNew.unionByName(verified)
      .drop("fp_len", "fp_x", "fp_c")
  }

  /** Exact Jaccard similarity of two (already distinct) arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Kernel form of [[jaccard]] for the per-pair verify stage: appends
    * |a∩b| / |a∪b| of two already-distinct array columns as `outName`.
    * array_intersect/union are interpreted per pair (no codegen); at
    * millions of candidate pairs the set arithmetic belongs in a JVM loop.
    */
  def appendJaccard(df: DataFrame, aCol: String, bCol: String,
                    outName: String): DataFrame = {
    // Codegen'd expression (r17): the old mapPartitions form paid an
    // encoder round-trip per candidate pair — every element of both
    // arrays boxed, a Row.toSeq allocation per row, and a codegen break
    // at both edges. array_jaccard keeps the arrays primitive and fuses
    // the verify into the surrounding stage (same arithmetic on the
    // distinct inputs this contract requires; MinhashExprSpec pins
    // parity against the old loop).
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    // array_jaccard rejects nullable-element arrays at analysis (its
    // kernel is null-blind; ADVICE r17). Kernel-built sets arrive as
    // containsNull=false and pass through untouched; parquet state reads
    // resurface as nullable (file sources force asNullable) and get an
    // array_compact — a no-op on the data (the writer guaranteed no
    // nulls), paid only on the candidate-bounded verify rows.
    def nn(c: String): Column = df.schema(c).dataType match {
      case ArrayType(LongType, true) => array_compact(col(c))
      case _ => col(c)
    }
    df.withColumn(outName, call_function("array_jaccard", nn(aCol), nn(bCol)))
  }

  /** Distinct-token seeded hashes — the SimHash input (materialize this as
    * its own column so the char-level fold runs once, not once per bit).
    * `seed` selects the rehash: seed 0 feeds signature bits 0..29, seed 1
    * feeds the WIDE mode's bits 30..59 (hashes live mod P ≈ 2³⁰, so one
    * seed only has 30 random bits). Seed 1 uses the dedicated
    * [[wideA1]]/[[wideB1]] constants, not the minhash affine family.
    */
  def tokenHashes(text: Column, seed: Int = 0): Column = {
    val (a, b) = if (seed == 0) (hashA(0), hashB(0)) else (wideA1, wideB1)
    transform(array_distinct(split(text, " ")),
      t => (lit(a) * charHashHof(t) + lit(b)) % lit(P))
  }

  /** SimHash: `bits`-bit signature where bit j is set when more than half of
    * the (distinct) token hashes have bit j set. Near-dups = small Hamming
    * distance between signatures. Expression-only, engine-portable.
    */
  def simhashFromHashes(hs: Column, bits: Int = 30): Column = {
    require(bits >= 1 && bits <= 30,
      s"one seeded hash only has 30 random bits (mod P); got $bits — " +
        "use simhash(text, bits) for the wide two-seed form")
    val ntok = size(hs)
    (0 until bits).map { j =>
      val ones = size(filter(hs, h => shiftright(h, j).bitwiseAND(lit(1L)) === lit(1L)))
      when(ones * 2 > ntok, lit(1L << j)).otherwise(lit(0L))
    }.reduce[Column]((x, y) => x.bitwiseOR(y))
  }

  /** SimHash of a text column (convenience; see [[simhashFromHashes]]).
    * bits ≤ 30 votes over one seeded hash; 31..60 (the WIDE mode) adds a
    * second seed for bits 30..59 — same arithmetic as the codegen'd
    * `simhash_sig` expression.
    */
  def simhash(text: Column, bits: Int = 30): Column =
    if (bits <= 30) simhashFromHashes(tokenHashes(text), bits)
    else simhashFromHashes(tokenHashes(text), 30).bitwiseOR(
      shiftleft(simhashFromHashes(tokenHashes(text, 1), bits - 30), 30))

  /** Hamming distance between two bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Occupancy-scaled simhash shape (the q36/q273 band-key sizing rule
    * applied to the simhash gate, r17): band width
    * w = clamp(10, 20, bitLen((n−1) div occupancy)), signature = bands·w
    * bits, verify threshold = (baseHamming·w) div 10 — proportional to
    * the width so "distance as a fraction of the signature" is preserved;
    * identity at w = 10.
    *
    * A fixed 30-bit/3-band shape keeps 2¹⁰ buckets per band forever, so
    * band-join candidates grow ~n²/2¹⁰ — the r16 full sf10 leg measured
    * the 30/3 q34 as the suite's heaviest query (1.9 G candidates).
    * Scaling w with log₂(n) pins per-band-bucket occupancy ≈ `occupancy`
    * (49 ≈ the sf1 occupancy of the old contract, so every gate SF
    * derives w = 10 — bit-identical to 30/3 — while 10× data derives
    * w = 14: 16× fewer accidental collisions per band). The widened
    * signature is a SUPERSET of the narrow one (bit j < 30 is seed-0 bit
    * j, bit j ≥ 30 is seed-1 bit j−30, independent of total width), which
    * is what lets the oracle compute one 60-bit signature and mask.
    *
    * The fixed 30/3/h shape stays available by passing explicit
    * (bits, bands, maxHamming) to [[simhashNearDups]] — the pigeonhole
    * mode (bands > h GUARANTEES a clean band at Hamming ≤ h) is the
    * opt-in for when that hard recall floor is load-bearing.
    */
  def simhashShape(n: Long, baseHamming: Int, bands: Int = 3,
                   occupancy: Long = 49L): (Int, Int) = {
    val k = if (n <= 1) 0L else (n - 1) / occupancy
    val w = math.max(10, math.min(20, 64 - java.lang.Long.numberOfLeadingZeros(k)))
    (bands * w, (baseHamming * w) / 10)
  }

  /** SimHash banding via the native `simhash_sig` expression: one codegen'd
    * call computes the signature; band keys are plain bit arithmetic on the
    * long — no arrays, no encoder round-trip (see [[minhashBands]]).
    * Output shape (band, bh, id, sig); the signature equals [[simhash]].
    */
  def simhashBands(df: DataFrame, idCol: String, textCol: String,
                   bits: Int, bands: Int): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1
    widenNarrowInput(
      df.select(col(idCol).as("id"), coalesce(col(textCol), lit("")).as("text")))
      .select(col("id"), call_function("simhash_sig", col("text"), lit(bits)).as("sig"))
      .select(col("id"), col("sig"),
        posexplode(array((0 until bands).map(b =>
          shiftright(col("sig"), b * bandBits).bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "bh")))
      .select(col("band"), col("bh"), col("id"), col("sig"))
  }

  /** SimHash near-dup pairs: candidates agree on one of `bands` contiguous
    * bit-bands of the signature (hash-join blocking, no n²), verified by
    * Hamming distance ≤ maxHamming.
    *
    * WIDE mode (bits up to 60, two-seed signature): wider bands collide
    * ~2^(extra band bits) less often by accident, collapsing candidate
    * volume on low-entropy corpora — at the cost of the narrow mode's
    * pigeonhole recall floor (a Hamming-h pair is GUARANTEED a clean band
    * only when bands > h measured on the SAME signature width; the wide
    * signature roughly doubles a given edit's Hamming distance, so its
    * recall is probabilistic). Measured A/B in BENCH_SF10.md §r16: use
    * wide when candidate volume dominates the wall and families are
    * tight; keep the fixed 30-bit shape when the Hamming floor is load-
    * bearing. The q34/q135 gate derives (bits, maxHamming) from corpus
    * occupancy via [[simhashShape]] (r17) — bit-identical to 30/3 at all
    * gate SFs, wide above them — with the oracle mirroring the same
    * integer rule; explicit 30/3/h remains the pigeonhole opt-in.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      bits: Int = 30, bands: Int = 3, maxHamming: Int = 6,
                      bucketCap: Int = 4096): DataFrame = {
    val banded = simhashBands(df, idCol, textCol, bits, bands)
    // The one verify that skips PairJoin.verify's join-back: the signature
    // is one long, so it rides the candidate rows and the Hamming filter
    // runs BEFORE the distinct — the dedup shuffle carries only survivors.
    PairJoin.selfPairs(banded, Seq("band", "bh"), "id", bucketCap)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sig"), col("b.sig")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** n-gram (word) Jaccard near-dup pairs with CONTENT-BOUNDED blocking:
    * candidates come from banded-minhash buckets over the token set (k = 1
    * shingles), verified by exact token-set Jaccard ≥ threshold.
    *
    * Natural-key blocking (language, source) is quadratic within a block —
    * at corpus scale a block is "all English docs", which is the whole
    * corpus. Minhash banding blocks on content instead: bucket population
    * is driven by actual similarity, and the one skew mode left (degenerate
    * near-identical content) is bounded by the tiled self-join
    * ([[PairJoin.selfPairs]]). With numHashes=16 / bands=8 (2 rows per band) a
    * true Jaccard-0.7 pair is a candidate with p = 1-(1-0.7²)⁸ ≈ 0.996.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, n: Int = 2, numHashes: Int = 16,
                        bands: Int = 8, bucketCap: Int = 4096): DataFrame =
    // n-gram hashes are k=n shingle hashes, so the generic minhash pipeline
    // computes exact n-gram-set Jaccard in its verify stage. n = 1 degrades
    // to bag-of-words Jaccard — order-insensitive, and on low-entropy
    // corpora (tiny vocab, boilerplate) the TRUE answer is quadratic in the
    // near-dup group sizes; n ≥ 2 keeps word order in the signal and the
    // output proportional to genuine near-duplication.
    minhashNearDups(df, idCol, textCol, shingleK = n,
      numHashes = numHashes, bands = bands, threshold = threshold,
      bucketCap = bucketCap)

  /** Embedding-cosine near-dup pairs via sign-LSH bucketing: docs whose
    * embeddings agree on the sign pattern across `planes` pseudo-random
    * hyperplanes land in one bucket; verify with exact cosine ≥ threshold.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, planes: Int = 8, dim: Int = 64): DataFrame = {
    // the bucket kernel feeds the bucket table and both verify sides: once
    val withB = graft.similarity.Similarity.bucketNorm(df, idCol, vecCol, planes, dim)
      .localCheckpoint(eager = false)
    val cand = PairJoin.selfPairs(withB.select("bucket", "id"), Seq("bucket"), "id")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vecs = withB.select("id", "v", "nrm")
    PairJoin.verify(cand, "id_a", "id_b", vecs, vecs)(PairJoin.cosineAtLeast(threshold))
  }

  /** Semantic (embedding-space) decontamination: flag every corpus row
    * whose embedding has cosine ≥ `threshold` against ANY benchmark
    * vector — the eval-set-leakage check that exact/Bloom decontamination
    * (q88/q243) cannot do, because a paraphrased benchmark item shares no
    * n-grams with its source. Complements [[embeddingNearDups]] (within-set)
    * with the cross-set direction.
    *
    * Candidates come from BANDED sign-LSH (OR-amplification, the minhash
    * banding trick applied to sign signatures): one `bands·bandPlanes`-plane
    * signature per row, split into `bands` sub-signatures; a (corpus,
    * benchmark) pair is a candidate if ANY band agrees exactly. With the
    * 4×4 default a cosine-0.9 pair is a candidate with p ≈ 0.95 vs ≈ 0.54
    * for the single 16-plane bucket — banding is what makes sign-LSH usable
    * as a RECALL device rather than a partitioner.
    *
    * Scale shape: a benchmark is an eval set — bounded by construction —
    * so it broadcasts, and the corpus NEVER shuffles: the band explode is
    * scan-local (×bands rows, vectors stay in place) and the verify
    * cosine runs inside the broadcast-joined scan. Returns one row per
    * corpus id: (id, n_hits, max_cosine, contaminated).
    */
  def crossSetDecontam(corpus: DataFrame, bench: DataFrame, idCol: String,
                       vecCol: String, threshold: Double, bands: Int = 4,
                       bandPlanes: Int = 4, dim: Int = 64): DataFrame = {
    import graft.similarity.Similarity.{appendCosine, bucketNorm}
    val planes = bands * bandPlanes
    require(planes < 63, s"sign-LSH signature must fit a long, got $planes planes")
    def banded(df: DataFrame): DataFrame = df
      .withColumn("band", explode(array((0 until bands).map(lit): _*)))
      .withColumn("sig",
        expr(s"shiftrightunsigned(bucket, band * $bandPlanes) % ${1L << bandPlanes}"))
    val c = banded(bucketNorm(corpus, idCol, vecCol, planes, dim))
      .select(col("band"), col("sig"), col("id"), col("v"), col("nrm"))
    val b = banded(bucketNorm(bench, idCol, vecCol, planes, dim))
      .select(col("band"), col("sig"), col("id").as("bid"),
        col("v").as("bv"), col("nrm").as("bnrm"))
    val hits = appendCosine(c.join(broadcast(b), Seq("band", "sig")),
        "v", "bv", "nrm", "bnrm", "cosine")
      .filter(col("cosine") >= threshold)
      // a pair that agrees in k bands arrives k times — same cosine bits,
      // so the distinct collapses it before the per-id rollup
      .select(col("id"), col("bid"), col("cosine")).distinct()
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cosine")).as("max_cosine"))
    corpus.select(col(idCol).as("id")).distinct()
      .join(hits, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("max_cosine"), col("n_hits").isNotNull.as("contaminated"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means-cluster the embedding corpus, compare pairs only WITHIN a
    * cluster, and drop every doc that has a lower-id neighbor at cosine ≥
    * `threshold` in its cluster. Complements [[embeddingNearDups]]: LSH
    * buckets catch sign-pattern-identical vectors; centroid clustering
    * catches the "same meaning, different surface" band SemDeDup targets.
    *
    * Returns one row per doc: (id, cell, keep).
    *
    * Scale shape: clustering is [[graft.similarity.Similarity.kmeansAssign]]
    * (integer-exact centroid means, per-row argmax kernel over the
    * broadcast centroid array); the pair stage is the tiled self-join on
    * `cell` ([[PairJoin.selfPairs]]), so work is Σ|cell|² spread over
    * bounded join groups — size nCells ≈ √n (SemDeDup's own regime) to
    * keep per-cell pair counts ~n. No all-pairs comparison anywhere; the
    * keep decision is a per-pair rule (lower id survives), not a
    * transitive closure, so no iteration.
    *
    * ORACLE VALIDITY: the shared q116 DuckDB oracle (DedupQueries
    * `kmeansCtes`) hardcodes exactly ONE Lloyd refinement pass — gate a
    * call against it only at the default `refinePasses = 1`. Other values
    * are fine for library use but need an oracle parameterized to match.
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int = 16, dim: Int = 64,
                    refinePasses: Int = 1): DataFrame = {
    // The assignment feeds four consumers (the cell table, both verify
    // sides, the final keep join) and ends in a kernel, not an exchange —
    // nothing for Spark to reuse. Pin it once so the corpus isn't
    // re-scanned and re-assigned per consumer.
    val (assigned0, _) = graft.similarity.Similarity.kmeansAssign(
      df, idCol, vecCol, nCells, dim, refinePasses)
    val assigned = assigned0.localCheckpoint()
    val cand = PairJoin.selfPairs(
        assigned.select(col("cell"), col("corpus_id").as("id")), Seq("cell"), "id")
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val vecs = assigned.select(col("corpus_id"), col("cv2").as("v"), col("cnorm2").as("nrm"))
    // each doc sits in one cell, so the dropped ids join back on id alone
    val dropped = PairJoin.verify(cand, "id_a", "id_b", vecs, vecs)(
        PairJoin.cosineAtLeast(threshold))
      .select(col("id_b").as("id")).distinct()
      .withColumn("is_dup", lit(true))
    assigned.select(col("corpus_id").as("id"), col("cell"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"), coalesce(!col("is_dup"), lit(true)).as("keep"))
  }
}
