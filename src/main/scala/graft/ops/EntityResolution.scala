package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity resolution — edit-distance record matching that
  * never goes all-pairs.
  *
  * The reference pipeline dedups records by exact id (Cypher MERGE, DynamoDB
  * keys); the operation users reach for next is FUZZY matching: "these two
  * records are the same entity up to typos". Naive fuzzy join is O(n²)
  * levenshtein — a non-starter at 100 TB. The standard scalable shape
  * (Papadakis et al., "Blocking and Filtering Techniques for Entity
  * Resolution", CSUR 2020) is:
  *
  *   1. BLOCK: records sharing a cheap discriminative key (here: language +
  *      first token + length bucket) are candidates; the candidate join is a
  *      plain equi-join Spark shuffles on the block key.
  *   2. PURGE: blocks bigger than `blockCap` are dropped entirely — an
  *      oversized block means the key is non-discriminative there (stop-word
  *      first token), and its pairs are near-certain non-matches. Purging
  *      bounds the worst block at cap², making the whole operator's work
  *      O(#blocks · cap²) regardless of skew — the census is a
  *      partial-aggregated count, not a window over the sorted table.
  *   3. VERIFY: the surviving pairs run bounded-prefix `levenshtein` with
  *      Spark's threshold form (early-exits the DP once the budget is blown,
  *      Apache Spark `StringUtils.getLevenshteinDistance(s, t, threshold)`
  *      semantics) — cost per pair is O(prefixLen · maxDist), not
  *      O(len²).
  *
  * Both engines (Spark plan and DuckDB oracle) see identical semantics:
  * candidates = equal block key in a retained block, match = prefix edit
  * distance ≤ maxDist; the hash gate is exact.
  */
object EntityResolution {

  import graft.dedup.PairJoin

  /** The blocking key: (extra blocking columns…, first whitespace token,
    * length bucket). Length bucketing folds the cheap length filter into the
    * block key itself: two strings whose lengths differ by more than the
    * bucket width can't share a bucket, and edit distance ≥ length
    * difference prunes them for free.
    */
  def blockKey(text: Column, lenBucket: Int): Column =
    struct(split(text, " ").getItem(0).as("tok"),
      (length(text) / lenBucket).cast("int").as("lb"))

  /** All within-block pairs (id_a < id_b) whose `prefixLen`-bounded edit
    * distance is ≤ `maxDist`, from blocks of size ≤ `blockCap`.
    *
    * Returns `(id_a, id_b, dist)` plus the left row's `carryCols`.
    */
  def blockedFuzzyPairs(df: DataFrame, idCol: String, textCol: String,
                        extraBlockCols: Seq[String], lenBucket: Int,
                        blockCap: Int, prefixLen: Int, maxDist: Int,
                        carryCols: Seq[String] = Nil): DataFrame = {
    val blockCols = extraBlockCols.map(col) :+ blockKey(col(textCol), lenBucket).as("__bk")
    val recs = df.select(
      (Seq(col(idCol), substring(col(textCol), 1, prefixLen).as("__pre")) ++
        carryCols.map(col) ++ blockCols): _*)
    // Purge the blocks the hot-key census finds BEFORE the pair join, so no
    // task ever materializes a hot block's pairs.
    val keyNames = extraBlockCols :+ "__bk"
    val kept = recs.join(broadcast(PairJoin.hotKeys(recs, keyNames, blockCap)),
      keyNames, "left_anti")

    val a = kept.select(
      (Seq(col(idCol).as("id_a"), col("__pre").as("__pre_a")) ++
        carryCols.map(c => col(c)) ++ keyNames.map(col)): _*)
    val b = kept.select(
      (Seq(col(idCol).as("id_b"), col("__pre").as("__pre_b")) ++
        keyNames.map(col)): _*)

    // Threshold-form levenshtein: -1 once the DP exceeds maxDist, so the
    // verify kernel is O(prefixLen·maxDist) per pair and the filter is a
    // single non-negative check.
    val dist = levenshtein(col("__pre_a"), col("__pre_b"), maxDist)
    a.join(b, keyNames)
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", dist)
      .filter(col("dist") >= 0)
      .drop("__pre_a", "__pre_b", "__bk")
  }

  /** The frequency-ranked element table both set joins build once. `r` is
    * (__id, __ts, carry…) with null elements dropped; `ranked` holds one
    * row per (record, element): (__id, __sz, __p0, __t), where __p0 is the
    * element's 0-based position in its record's list ordered by ascending
    * global frequency, ties by element value — a total order both engines
    * replay. The frequency census is one partial-aggregated count plus a
    * keyed join, never a driver-side vocabulary.
    *
    * Both tables are materialized once at full shuffle width: the element
    * sets (shingle hashing, an expensive scan-local kernel) feed the census,
    * the candidate probes and the verify sides, and the explicit count is
    * exempt from AQE coalescing, which would pin a local single-row-group
    * scan to ~2 tasks. Rows are ids and longs, a bounded payload.
    * array_compact: the token table (explode + equi-join) drops null
    * elements while size(__ts) counts them; compacting up front makes every
    * size, prefix and intersection see the same set. The production
    * elemsCol (`shingle_hashes`) arrives sorted (r18) and array_compact
    * keeps the order, so the verify kernel skips its per-pair sorts (no
    * sort_array here: it is CodegenFallback and breaks whole-stage codegen,
    * measured 1.3x worse).
    */
  private def rankedElements(df: DataFrame, idCol: String, elemsCol: Column,
                             carryCols: Seq[String],
                             checkpointDir: Option[String]): (DataFrame, DataFrame) = {
    org.apache.spark.sql.GraftFunctions.register(df.sparkSession)
    def wide(d: DataFrame) = Checkpoints.materialize(
      d.repartition(d.sparkSession.sessionState.conf.numShufflePartitions), checkpointDir)
    val r = wide(df.select((col(idCol).as("__id") +:
      array_compact(elemsCol).as("__ts") +: carryCols.map(col)): _*))
    val tok = r.select(col("__id"), explode(col("__ts")).as("__t"))
    val freq = tok.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    val ranked = wide(tok.join(freq, "__t")
      .groupBy(col("__id"))
      .agg(sort_array(collect_list(struct(col("__df"), col("__t")))).as("__ord"))
      .select(col("__id"), size(col("__ord")).as("__sz"),
        posexplode(expr("transform(__ord, x -> x.__t)")).as(Seq("__p0", "__t"))))
    (r, ranked)
  }

  /** Prefix length p = s − ceil(t·s) + 1 ≥ 1 of a record of `sz` elements at
    * t = tNum/tDen, in integer arithmetic: a pair reaching the threshold
    * shares an element among the record's first p. */
  private def prefixLen(sz: String, tNum: Int, tDen: Int): Column =
    col(sz) - expr(s"($sz * $tNum + ${tDen - 1}) div $tDen") + 1

  /** The candidate equi-join on element `__t`, at an EXPLICIT width (r17):
    * AQE coalesces this exchange from its small INPUT bytes, but the join's
    * OUTPUT — the candidate expansion — is the quadratic part, invisible to
    * the input-size heuristic (sf0.1: the whole expansion ran in 3
    * coalesced tasks). An explicit count is exempt from coalescing.
    */
  private def elementJoin(probe: DataFrame, postings: DataFrame): DataFrame = {
    val w = probe.sparkSession.sessionState.conf.numShufflePartitions
    probe.repartition(w, col("__t")).join(postings.repartition(w, col("__t")), Seq("__t"))
  }

  /** |A ∩ B| of the verify sides: the codegen'd `array_inter_size` for
    * long element sets (the production shingle-hash path), the portable
    * interpreted `array_intersect` for any other element type.
    */
  private def interSizeExpr(elemsType: org.apache.spark.sql.types.DataType): Column =
    elemsType match {
      // containsNull=false only (ADVICE r17): array_inter_size rejects
      // nullable-element arrays at analysis; the array_compact upstream
      // yields containsNull=false so the production path always lands here.
      case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, false) =>
        call_function("array_inter_size", col("__ts_a"), col("__ts_b"))
      case _ =>
        size(array_intersect(col("__ts_a"), col("__ts_b"))).cast("long")
    }

  /** The verify tail of both set joins ([[graft.dedup.PairJoin.verify]]):
    * candidates join back to their element sets, and `keep` is the integer
    * cross-multiplied threshold over `sz_a`, `sz_b` and `inter`. Returns
    * (id_b, id_a, carry…, sz_a, sz_b, inter).
    */
  private def verifyOverlap(cand: DataFrame, r: DataFrame,
                            carryCols: Seq[String])(keep: Column): DataFrame =
    PairJoin.verify(cand, "id_a", "id_b", r, r, carryCols)(_
      .withColumn("sz_a", size(col("__ts_a")).cast("long"))
      .withColumn("sz_b", size(col("__ts_b")).cast("long"))
      .withColumn("inter", interSizeExpr(r.schema("__ts").dataType))
      .filter(keep)
      .drop("__ts_a", "__ts_b"))

  /** AllPairs/PPJoin-style prefix-filtering set-similarity self-join
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW 2007;
    * Xiao et al. ICDE 2008; distributed form: Vernica et al. SIGMOD 2010).
    *
    * Finds all record pairs whose ELEMENT-SET Jaccard is ≥ tNum/tDen,
    * exactly, without the all-pairs join: order every record's elements by
    * ascending global frequency (rarest first, ties by element value —
    * a total order both engines replay), and keep only each record's
    * PREFIX of the first `s − ceil(t·s) + 1` elements. Two records whose
    * prefixes are disjoint cannot reach the threshold (if they shared
    * nothing in either prefix, their overlap is confined to the two
    * suffixes, which are too short) — so candidates are exactly the pairs
    * sharing ≥ 1 prefix element, a plain equi-join keyed on the element.
    *
    * Scale shape: frequency ranking is one partial-aggregated count plus a
    * keyed join (never a driver-side vocabulary); the candidate join is
    * keyed on PREFIX elements, which are each record's globally rarest —
    * the join's per-key fan-out is the prefix document frequency, which the
    * ordering minimizes by construction (the blocking twin of q31's
    * shingle buckets, but frequency-adaptive: hot elements are pushed out
    * of prefixes instead of needing a purge). Verify ([[verifyOverlap]]) is
    * the integer cross-multiplied Jaccard test, plus the length filter
    * (t·|A| ≤ |B| ≤ |A|/t) — implied by the threshold, so it prunes
    * without changing results.
    *
    * `elemsCol` must be a DISTINCT-element array column. Returns
    * `(id_a, id_b, inter, sz_a, sz_b)` plus `carryCols` from the left row.
    */
  def prefixFilterPairs(df: DataFrame, idCol: String, elemsCol: Column,
                        tNum: Int, tDen: Int,
                        carryCols: Seq[String] = Nil,
                        checkpointDir: Option[String] = None): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    val (r, ranked) = rankedElements(df, idCol, elemsCol, carryCols, checkpointDir)
    val pre = ranked.filter(col("__p0") < prefixLen("__sz", tNum, tDen))
    val cand = elementJoin(pre.select(col("__id").as("id_a"), col("__t")),
        pre.select(col("__id").as("id_b"), col("__t")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyOverlap(cand, r, carryCols)(
      // length filter first: a pair failing t·|A| ≤ |B| can't pass Jaccard ≥ t
      col("sz_a") * tNum <= col("sz_b") * tDen &&
        col("sz_b") * tNum <= col("sz_a") * tDen &&
        col("inter") * tDen >= lit(tNum) * (col("sz_a") + col("sz_b") - col("inter")))
  }

  /** ASYMMETRIC containment join — find (a, b) pairs where a's element
    * set is mostly inside b's: |A ∩ B| ≥ t·|A| (the "short doc copied
    * into a longer one" relation plain Jaccard can't see: a tweet quoted
    * inside an article has tiny symmetric similarity but containment 1).
    *
    * Prefix filtering adapts: if A∩B avoided all of A's first
    * s − ceil(t·s) + 1 rarest elements, the overlap would fit in A's
    * suffix of ceil(t·s) − 1 < t·s elements — contradiction. So the
    * candidate join is A-PREFIX elements against B's FULL posting list
    * (the asymmetric form: only the probe side gets a prefix). Both join
    * keys are each A's globally rarest elements, and a rare element's
    * posting list is short by definition — per-key fan-out is bounded by
    * rare-element frequency on BOTH sides. Verify is scan-local.
    *
    * Emits each pair once, directionally: (id_a contained-in id_b), with
    * |A| < |B|, or |A| = |B| and id_a < id_b (equal sets qualify both
    * ways; one canonical row).
    *
    * Scale shape (the r14 sf10 probe's one named scale-killer, fixed):
    * the verify join ships full shingle arrays, and a naive layout drags
    * one array per CANDIDATE through the second join's exchange — 4.8 GB
    * at sf10's ~30M candidates. Candidates are therefore pruned with two
    * EXACT filters before any array moves (PPJoin-style, Xiao et al.
    * ICDE 2008, adapted to the asymmetric threshold):
    *
    *   - LENGTH/DIRECTION: the output keeps only |A| < |B| (or equal
    *     sizes, id_a < id_b) — a candidate-level fact, applied per match
    *     row before the pair aggregate instead of after the array join.
    *   - POSITIONAL: both sides' element lists share one total order
    *     (global df, then element value — the order the prefixes are cut
    *     from), so a match at 1-based positions (i, j) bounds the overlap
    *     exactly: common elements below the match sit before i in A AND
    *     before j in B; those above sit after BOTH. Per match row,
    *     overlap ≤ 1 + min(i−1, j−1) + min(|A|−i, |B|−j); at the pair's
    *     EARLIEST match (min i) the left slack is zero — any common
    *     element before it is itself a prefix match and would have been
    *     observed. The pair aggregate keeps min(bound) over its match
    *     rows and drops pairs that cannot reach ceil(t·|A|).
    *   - EXTENDED-PREFIX MATCH COUNT (the one that bites — adaptive
    *     prefix filtering, Wang et al. SIGMOD 2012): probing with A's
    *     first P = min(p + k − 1, |A|) elements, a qualifying pair must
    *     share ≥ P − p + 1 of them — A has at most p − 1 elements
    *     outside the overlap, so fewer shared probe elements puts the
    *     overlap below ceil(t·|A|) by pigeonhole. Measured at sf10, the
    *     positional bound alone pruned only 15.7M → 14.9M match pairs:
    *     A's rarest elements sit EARLY in B's frequency-sorted list too
    *     (same global order), so the B-side slack stays wide. Requiring
    *     k = 3 shared probe elements collapses the accidental
    *     single-rare-token pairs instead.
    *
    * All prunes only remove pairs the verify filter rejects anyway —
    * results are bit-identical; the DuckDB oracle replays the unpruned
    * candidate set. Survivors (≈ true pairs) then pay the array join,
    * with the SMALLER side's array (|A| ≤ |B|) crossing the id_b
    * exchange.
    */
  def containmentPairs(df: DataFrame, idCol: String, elemsCol: Column,
                       tNum: Int, tDen: Int,
                       carryCols: Seq[String] = Nil,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(tNum > 0 && tNum <= tDen, "threshold must be in (0, 1]")
    // ONE ranked token table feeds both join sides (A-prefix probe and
    // B-full postings), so the rank groupBy runs once, not once per side.
    val (r, ranked) = rankedElements(df, idCol, elemsCol, carryCols, checkpointDir)

    // k extra probe elements beyond the minimal prefix p: candidates must
    // share ≥ (probe − p + 1) of A's first probe elements (exact, see
    // scaladoc). k = 3 measured best at sf10 — k = 1 is the classic
    // prefix filter, which left 14.9M accidental candidates.
    val k = 3
    val pA = ranked
      .filter(col("__p0") + 1 <= least(prefixLen("__sz", tNum, tDen) + (k - 1), col("__sz")))
      .select(col("__id").as("id_a"), col("__t"),
        (col("__p0") + 1).as("__ia"), col("__sz").as("__sa"))
    val pB = ranked.select(col("__id").as("id_b"), col("__t"),
      (col("__p0") + 1).as("__jb"), col("__sz").as("__sb"))

    // (i, j) packed into one long (i < 2³¹ always: it's a position in a
    // document's element list) so the earliest-match aggregate is a plain
    // long min — HashAggregate-able, where min(struct(i, j)) forces a
    // SortAggregate pair (two extra sorts on the candidate stream).
    val cand = elementJoin(pA, pB)
      .filter(col("__sa") < col("__sb") ||
        (col("__sa") === col("__sb") && col("id_a") < col("id_b")))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"),
        (lit(1) + least(col("__ia") - 1, col("__jb") - 1) +
          least(col("__sa") - col("__ia"), col("__sb") - col("__jb"))).as("__ub"),
        (shiftleft(col("__ia").cast("long"), 32) + col("__jb")).as("__ij"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__ij")).as("__e"), min(col("__ub")).as("__mn"),
        min(col("__sa")).as("__sa"), min(col("__sb")).as("__sb"),
        count(lit(1)).as("__nm"))
      .withColumn("__bound", least(col("__mn"), lit(1) +
        least(col("__sa") - shiftright(col("__e"), 32).cast("int"),
          col("__sb") - col("__e").bitwiseAND(lit(4294967295L)).cast("int"))))
      .filter(col("__bound") * tDen >= lit(tNum) * col("__sa"))
      // Extended-prefix pigeonhole: shared probe elements must reach
      // probe − p + 1 (both recomputed from |A|; __nm counts match rows,
      // one per shared probe element — elements are distinct per doc).
      .withColumn("__pl", prefixLen("__sa", tNum, tDen))
      .filter(col("__nm") >=
        least(col("__pl") + (k - 1), col("__sa")) - col("__pl") + 1)
      .select(col("id_a"), col("id_b"))
    verifyOverlap(cand, r, carryCols)(col("inter") * tDen >= lit(tNum) * col("sz_a"))
  }
}
