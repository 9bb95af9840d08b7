package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one candidate → filter → verify pair join behind every near-duplicate
  * and set-similarity operator in [[Dedup]] and
  * [[graft.ops.EntityResolution]]:
  *
  *  1. a generator emits candidate pairs from rows sharing a key (band keys,
  *     sign buckets, k-means cells, block keys, prefix elements);
  *  2. [[hotKeys]] counts rows per key once; the tiler spreads the hot keys
  *     it finds ([[selfPairs]], [[crossPairs]]), `blockedFuzzyPairs` purges
  *     them;
  *  3. exact bound filters run on the candidates (length, positional);
  *  4. [[verify]] joins the surviving ids back to their sets or vectors and
  *     applies the measure and the threshold.
  *
  * Tiling: a plain join on the key lands an n-row hot bucket's n²/2 pairs on
  * one reducer — with degenerate content (boilerplate, empty docs) that is
  * the scale-killer of every LSH pipeline. Rows of a hot key hash into T
  * tiles by id, so no join group holds more than ~cap rows per side; the
  * pair set is tile-width-independent by construction.
  */
private[graft] object PairJoin {

  /** The hot-key census: keys holding more than `cap` rows, with their row
    * count `_n`. It is a partial-aggregated count — the exchange moves
    * (key, partial-count) rows, never payloads — and holds at most n/cap
    * rows, so it broadcasts: cold corpora pay one small aggregate and no
    * sort (the
    * earlier full per-bucket size table cost two sorts per side even with no
    * hot bucket: the q131/q138 regressions of VERDICT r6).
    */
  def hotKeys(keyed: DataFrame, keyCols: Seq[String], cap: Int): DataFrame =
    keyed.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > cap)

  /** Occupancy-adaptive tile count for a hot bucket of `n` rows. T =
    * ceil(n/cap) quantizes brutally just past the cap: n = 1.2·cap gets
    * T = 2 — three half-cap² groups on three tasks while every other task
    * holds cold buckets (SKEW_r14 leg B: 27× max/median task skew at cap
    * 4096 vs 1.2× at cap 512, identical pairs, 1.5× faster wall). Hot
    * buckets therefore tile at an effective width spreading them over ~half
    * the shuffle width, floored at [[minTileRows]] rows per tile and never
    * wider than `cap` (explicit small caps keep their bound).
    */
  private def adaptiveTiles(n: Column, cap: Int, spark: SparkSession): Column = {
    val minTiles = math.max(2, spark.sessionState.conf.numShufflePartitions / 2)
    val capEff = least(lit(cap.toLong),
      greatest(lit(minTileRows), ceil(n.cast("double") / minTiles)))
    ceil(n.cast("double") / capEff).cast("int")
  }
  private val minTileRows = 256L

  /** The tile stamp: each row gets its key's tile count `_nt` (1 for a cold
    * key, which pays no replication) and its own tile `_tile` — a hash of
    * its id, so equal ids always share a tile. `hot` is a [[hotKeys]]
    * table, left-joined as a broadcast: cold rows stamp map-side.
    */
  def tile(keyed: DataFrame, keyCols: Seq[String], idCol: String, cap: Int,
           hot: DataFrame): DataFrame =
    keyed.join(broadcast(hot), keyCols, "left")
      .withColumn("_nt",
        coalesce(adaptiveTiles(col("_n"), cap, keyed.sparkSession), lit(1)))
      .withColumn("_tile",
        when(col("_n").isNull, lit(0))
          .otherwise(pmod(xxhash64(col(idCol)), col("_nt")).cast("int")))

  /** Self-join replication of a [[tile]]d table: side a sends a tile-t row to
    * tile pairs (t, t..T−1), side b to (0..t, t), so every unordered
    * in-bucket pair meets in exactly one (`_tl` ≤ `_tr`) group. The payload
    * (every non-key column of `keyed`) rides as struct `a` / `b`.
    */
  def replicateSelf(tiled: DataFrame, keyCols: Seq[String],
                    payloadCols: Seq[String]): (DataFrame, DataFrame) = {
    val payload = struct(payloadCols.map(col): _*)
    val keys = keyCols.map(col)
    (tiled.withColumn("_tr", explode(sequence(col("_tile"), col("_nt") - 1)))
      .select(keys :+ col("_tile").as("_tl") :+ col("_tr") :+ payload.as("a"): _*),
     tiled.withColumn("_tl", explode(sequence(lit(0), col("_tile"))))
      .select(keys :+ col("_tl") :+ col("_tile").as("_tr") :+ payload.as("b"): _*))
  }

  /** Batch-vs-history replication of a [[tile]]d batch table: a batch row of
    * a hot history key replicates to all T of that key's tiles (the history
    * side keeps its one stamped tile), so every cross pair meets exactly
    * once.
    */
  def replicateBatch(tiled: DataFrame, keyCols: Seq[String], idCol: String,
                     as: String): DataFrame =
    tiled.select(keyCols.map(col) :+
      explode(sequence(lit(0), col("_nt") - 1)).as("_tile") :+ col(idCol).as(as): _*)

  /** Every unordered pair of rows sharing a key, skew-tiled, each once per
    * shared key: columns `a`, `b` are structs of the non-key columns with
    * a.<idCol> < b.<idCol>. Callers `distinct()` after projecting when a
    * pair can share several keys (LSH bands).
    *
    * The keyed table feeds three consumers (census and both sides), so it is
    * materialized once ([[graft.ops.Checkpoints.materialize]]): sharing the
    * subtree through ReusedExchange is canonicalization-fragile — column
    * pruning narrows the census's copy and the reuse silently dies (seen at
    * sf1: the banding kernel ran 4× and q31 regressed 7.6×). The
    * repartition before it has an explicit width: AQE would coalesce this
    * small exchange to 1-2 partitions, the checkpoint would freeze that
    * width, and the pair join — whose quadratic OUTPUT the input-size
    * heuristic cannot see — would run in 1-2 tasks (sf1: a 21 s two-task
    * stage emitting 12.6M pairs; ~1.5 s at 32-way).
    */
  def selfPairs(keyed: DataFrame, keyCols: Seq[String], idCol: String,
                cap: Int = 4096, checkpointDir: Option[String] = None): DataFrame = {
    val keyedP = graft.ops.Checkpoints.materialize(keyed.repartition(
      keyed.sparkSession.sessionState.conf.numShufflePartitions,
      keyCols.map(col): _*), checkpointDir)
    val (aSide, bSide) = replicateSelf(
      tile(keyedP, keyCols, idCol, cap, hotKeys(keyedP, keyCols, cap)),
      keyCols, keyed.columns.filterNot(keyCols.contains).toSeq)
    val (ida, idb) = (col(s"a.$idCol"), col(s"b.$idCol"))
    // A cross-tile pair meets once in either orientation (equal ids share a
    // tile, so its ids differ); a same-tile pair meets in both.
    aSide.join(bSide, keyCols ++ Seq("_tl", "_tr"))
      .filter(ida =!= idb && (col("_tl") < col("_tr") || ida < idb))
      .select(when(ida < idb, col("a")).otherwise(col("b")).as("a"),
              when(ida < idb, col("b")).otherwise(col("a")).as("b"))
  }

  /** Distinct (`id_new`, `id_old`) pairs of batch and history rows sharing a
    * key, with hot HISTORY keys tiled. A two-sided join has no n² blowup,
    * but one hot history bucket still lands |batch ∩ bucket| × |history ∩
    * bucket| on one reducer; the bound is structural rather than trusted to
    * AQE skew splitting (which keys off the byte sizes of an ids-only
    * exchange).
    *
    * `hotPre` is a census maintained with persisted state
    * ([[Dedup.writeNearDupState]]): the in-plan census is the one exchange
    * here sized by the standing corpus, not the batch — tolerable once per
    * nightly batch, wrong once per streaming micro-batch (the streaming
    * rehearsal measured 8 full-state census exchanges in 8 triggers). The
    * census stays a separate partial-agg branch, not a shared repartition,
    * so a small batch side can still broadcast and history never shuffles.
    *
    * A re-crawled doc whose id already stands in history meets itself in
    * every band; same-id pairs are not dups (reporting (X, X) would delete
    * X as a duplicate of itself downstream).
    */
  def crossPairs(batch: DataFrame, history: DataFrame, keyCols: Seq[String],
                 idCol: String, cap: Int,
                 hotPre: Option[DataFrame] = None): DataFrame = {
    val hot = hotPre.map(_.select(keyCols.map(col) :+ col("_n"): _*))
      .getOrElse(hotKeys(history, keyCols, cap))
    val hTiled = tile(history, keyCols, idCol, cap, hot)
      .select(keyCols.map(col) :+ col("_tile") :+ col(idCol).as("id_old"): _*)
    replicateBatch(tile(batch, keyCols, idCol, cap, hot), keyCols, idCol, "id_new")
      .join(hTiled, keyCols :+ "_tile")
      .filter(col("id_new") =!= col("id_old"))
      .select("id_new", "id_old").distinct()
  }

  /** The verify tail: candidate (`idA`, `idB`) pairs join back to their two
    * sides' payloads, then `keep` applies the measure and the threshold. A
    * side is a table whose first column is the id; its other columns arrive
    * suffixed `_a` / `_b`, except `carry` columns, taken from side a as
    * they are. Candidates carry ids only, so no set or vector crosses the
    * candidate exchange (the dominant shuffle when it did).
    */
  def verify(cand: DataFrame, idA: String, idB: String, a: DataFrame, b: DataFrame,
             carry: Seq[String] = Nil)(keep: DataFrame => DataFrame): DataFrame = {
    def side(s: DataFrame, id: String, sfx: String, carried: Seq[String]) = {
      val payload = s.columns.tail.filterNot(carry.contains).map(c => col(c).as(c + sfx))
      s.select((col(s.columns.head).as(id) +: payload) ++ carried.map(col): _*)
    }
    keep(cand.join(side(a, idA, "_a", carry), idA).join(side(b, idB, "_b", Nil), idB))
  }

  /** [[verify]]'s set measure: exact Jaccard of `sh_a` / `sh_b` ≥ `threshold`. */
  def jaccardAtLeast(threshold: Double, idA: String, idB: String)(df: DataFrame): DataFrame =
    Dedup.appendJaccard(df, "sh_a", "sh_b", "jaccard")
      .filter(col("jaccard") >= threshold)
      .select(idA, idB, "jaccard")

  /** [[verify]]'s vector measure: exact cosine of `v_a` / `v_b` (norms
    * `nrm_a` / `nrm_b`) ≥ `threshold`, as (id_a, id_b, cosine). */
  def cosineAtLeast(threshold: Double)(df: DataFrame): DataFrame =
    graft.similarity.Similarity.appendCosine(df, "v_a", "v_b", "nrm_a", "nrm_b", "cosine")
      .filter(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
}
