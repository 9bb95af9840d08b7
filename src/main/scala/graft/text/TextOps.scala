package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for a training-data pipeline: tokenization stats,
  * quality scoring, language-ID heuristics, boilerplate removal. All are
  * pure column expressions (codegen'd, no UDFs) so they vectorize inside
  * whole-stage codegen and push through Catalyst untouched — at 100 TB these
  * run at scan speed. Where a column form evaluates interpreted, the
  * operator runs a native expression instead and the column form stays as
  * its `…Hof` executable spec (`qualityScoreHof`, `langIdHof`). Content
  * fingerprints are `Dedup.charHash`, the engine's one rolling hash.
  *
  * Generalizes the reference's text handling (length caps
  * `reddit/lambda_function_initial.py:49-50`, content cleaning
  * `glue/reddit_glue.py:227-252`) into a reusable surface.
  */
object TextOps {

  /** Whitespace tokens. Single-space split, matching `string_split(s, ' ')`
    * ANSI semantics on single-spaced text.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Token count via whitespace split. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** BPE-ish subword count estimate: word-chunks + digits + punctuation as
    * separate tokens (regex heuristic, no model needed).
    */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]{1,6}|[0-9]|[^A-Za-z0-9\\s]"), lit(0))).cast(LongType)

  /** Ratio of characters drawn from `charClassRegex` (e.g. punctuation),
    * computed as chars-removed / total via regexp_replace — no UDF.
    */
  def charClassRatio(text: Column, charClassRegex: String): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, charClassRegex, ""))).cast("double")
        / length(text).cast("double"))

  /** Stopword ratio over whitespace tokens: |tokens ∈ stopwords| / |tokens|. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val isStop = stopwords.map(s => (t: Column) => t === lit(s))
      .reduce((f, g) => (t: Column) => f(t) || g(t))
    when(tokenCount(text) === 0, lit(0.0)).otherwise(
      size(filter(tokens(text), isStop)).cast("double") / tokenCount(text).cast("double"))
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with a sane
    * stopword ratio and low punctuation density. Deterministic and
    * SQL-expressible, so it can be oracle-checked; weights are heuristic.
    *
    * Dispatches to the native one-pass expression
    * ([[graft.expressions.QualityScore]], registered as `quality_score`):
    * the column form below materializes three token arrays per row and
    * evaluates its lambdas interpreted — ~1.2 ms/doc at sf1, the
    * bottleneck of every curation query scoring feeds. Results are
    * bit-identical (TextOpsSpec parity property), so oracles are shared.
    */
  def qualityScore(text: Column, stopwords: Seq[String]): Column =
    call_function("quality_score", text +: stopwords.map(lit): _*)

  /** The original column/HOF form of [[qualityScore]] — the executable
    * spec the native expression is parity-tested against.
    */
  def qualityScoreHof(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(length(text).cast("double") / lit(500.0), lit(1.0))
    val stopScore = lit(1.0) - abs(stopwordRatio(text, stopwords) - lit(0.3))
    val punctPenalty = lit(1.0) - charClassRatio(text, "[^A-Za-z0-9 ]")
    (lenScore * lit(0.4) + stopScore * lit(0.4) + punctPenalty * lit(0.2))
  }

  /** Per-code-point diversity stats as one native scan
    * ([[graft.expressions.CharDiversity]]): struct(n_cp, distinct_cp,
    * collision_sum, max_count). Consumers derive the Simpson collision
    * index (Σc²·1e6 div n²) and top-character share as exact integer
    * ratios — the log-free character-"entropy" junk filter.
    */
  def charStats(text: Column): Column =
    org.apache.spark.sql.GraftFunctions.column(
      graft.expressions.CharDiversity(
        org.apache.spark.sql.GraftFunctions.expression(text)))

  /** Language-ID by marker-token voting: the language whose marker tokens
    * occur most often wins; ties broken by `langs` order; no hit → "und".
    * An n-gram/dictionary heuristic in the fastText tradition, shrunk to a
    * pure expression. `markers` maps lang → marker tokens.
    *
    * Dispatches to the native one-pass expression
    * ([[graft.expressions.LangId]]): the column form below materializes a
    * token array and runs one interpreted `filter` pass per language.
    * Results identical incl. null → "und" (TextOpsSpec parity property).
    */
  def langId(text: Column, markers: Seq[(String, Seq[String])]): Column =
    org.apache.spark.sql.GraftFunctions.column(
      graft.expressions.LangId(
        org.apache.spark.sql.GraftFunctions.expression(text), markers))

  /** The original column/HOF form of [[langId]] — the executable spec the
    * native expression is parity-tested against.
    */
  def langIdHof(text: Column, markers: Seq[(String, Seq[String])]): Column = {
    val toks = tokens(text)
    val scores = markers.map { case (lang, words) =>
      val isMarker = words.map(w => (t: Column) => t === lit(w))
        .reduce((f, g) => (t: Column) => f(t) || g(t))
      lang -> size(filter(toks, isMarker))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // CASE WHEN chain in priority order: first lang reaching the max wins.
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s > 0 && s === best, lit(lang)).otherwise(acc)
    }
  }

  /** PII scrub for training corpora: replace emails then URLs with typed
    * placeholder tokens. Patterns stay in the common RE2/Java regex subset
    * (no lookaround) so the identical scrub is expressible in any engine;
    * order matters only in that neither pattern can match the other's
    * replacement token. Pure codegen'd expressions — runs at scan speed.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://\\S+"

  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), UrlRe, "<URL>")

  /** Sequence packing for context-window training: assign each document a
    * `pack_id` such that concatenating documents in `orderCol` order and
    * chunking every `budget` tokens puts the document in the pack where it
    * STARTS (concatenate-then-chunk semantics — an over-long document spills
    * into the next chunk rather than forcing a gap, so packs are gapless and
    * the assignment is a pure prefix-sum, not a sequential first-fit scan).
    *
    * Scale shape: packing runs independently per `groupCols` group (packs
    * never cross groups — shard/language boundaries in a real pipeline), so
    * the window sort is one partitioned exchange, never a global sort. The
    * cumulative sum is the standard streaming-window frame; no driver state.
    */
  def packSequences(df: DataFrame, groupCols: Seq[String], orderCol: String,
                    tokenCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val before = Window.partitionBy(groupCols.map(col): _*).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("pack_id",
      floor(coalesce(sum(col(tokenCol)).over(before), lit(0L)) / lit(budget.toDouble))
        .cast(LongType))
  }

  /** Top-k TF-IDF terms per document, scored in exact integers so any SQL
    * engine reproduces the ranking bit-for-bit:
    * `score_micros = (tf * 1,000,000 * n_docs) div df` — a monotone
    * transform of tf·(N/df), floor-divided once (ties broken by token).
    *
    * Scale shape: tf is one hash aggregate keyed (doc, token); df is a
    * second aggregate over tf's output (already one row per doc-term, no
    * distinct needed); the corpus size joins in as a broadcast 1-row
    * frame; the ranking window partitions by doc_id — no global sort, no
    * driver-side vocabulary. The tf→df join is a plain hash join keyed on
    * token; both sides are aggregates, so AQE sizes the exchange.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // tf materialized ONCE (lazy local checkpoint, r18): it has two
    // consumers — the scored join's tf side and dfreq's input — and
    // Catalyst plans them as two full explode + (doc, token) aggregate
    // chains over the corpus (the executed plan carried the Generate
    // twice; each is a full corpus token pass at 100 TB). The checkpoint
    // stores the (doc_id, token, tf) aggregate — rows the tf→df join
    // must exchange anyway — and the text never leaves the scan stage.
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    // The product is computed in DecimalType: 64-bit `tf * 1000000 *
    // n_docs` silently wraps in non-ANSI mode once tf·n_docs exceeds
    // ~9.2e12 (easily reached at web-corpus scale), corrupting the
    // ranking. DECIMAL(38,0) holds any realistic product (tf ≤ 1e15,
    // n_docs ≤ 1e12 → 1e33 < 1e38); `div` truncates back to BIGINT, and
    // an out-of-long quotient surfaces as NULL instead of a wrapped
    // wrong score.
    val scored = tf.join(dfreq, "token")
      .crossJoin(broadcast(n))
      .withColumn("score_micros",
        expr("(CAST(tf AS DECIMAL(38,0)) * 1000000 * n_docs) div df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_micros").desc, col("token"))
    scored.withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("df"), col("score_micros"))
  }

  /** BM25-family ranked retrieval over an inverted index, integer-exact.
    *
    * Extends the reference's keyword search surface (the snscrape query in
    * `twitter/lambda_function.py:27-29` retrieves by raw term match) into
    * relevance-ranked retrieval. Classic BM25 (Robertson-Sparck Jones) is
    * log((N-df+.5)/(df+.5)+1) · tf·(k1+1)/(tf + k1·(1-b+b·dl/avgdl)); both
    * factors here are monotone RATIONAL surrogates of the k1=1.2, b=0.75
    * form, computed in integer micros so the ranking is deterministic and a
    * SQL oracle replays every division bit-for-bit (the same trade q95's
    * TF-IDF makes — log is monotone in the surrogate, so per-term orderings
    * are preserved; multi-term sums weight terms by exp(score) rather than
    * score, a documented deviation, not drift):
    *
    *   idf_micros = ((2N − 2df + 1)·1e6) div (2df + 1) + 1e6
    *   sat_micros = (44·tf·T·1e6) div (20·tf·T + 6·T + 18·dl·N)
    *     [tf·(11/5) / (tf + 6/20 + (18/20)·dl·N/T) with dl/avgdl = dl·N/T,
    *      cleared to integers by ×20T; T = corpus token count]
    *   score_micros(term,doc) = (idf_micros · sat_micros) div 1e6
    *
    * Dividing sat FIRST keeps every product under DECIMAL(38,0) even at
    * web scale (idf ≤ 2e18 micros, sat ≤ 2.2e6 micros → ≤ 4.4e24); a
    * single fused product overflows 38 digits around N=1e12, T=1e15.
    *
    * Scale shape: tf/dl/df are partial-aggregable hash aggregates; query
    * terms broadcast into the postings scan so only matching postings
    * survive (df computed AFTER the term filter — counts are per-term,
    * unaffected); the one data-sized exchange joins doc-level stats (dl)
    * to candidate postings on doc_id. Per-query ranking is the k-bounded
    * partial top-k aggregate, NOT a window sort — each map task ships at
    * most k candidates per query.
    *
    * @param queryTerms (query_id: Long, term: String) — small, broadcast.
    * @return (query_id, rank, doc_id, score_micros), rank 1..k by
    *         (score desc, doc_id asc).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: DataFrame, k: Int): DataFrame = {
    import graft.functions.TopKAgg
    // Doc lengths and per-term tf ride SEPARATE aggregates (r18): the old
    // shape shuffled a (doc_id, token) aggregate over EVERY corpus token
    // just to sum it back into doc lengths — at 100 TB that is a full
    // token-grain corpus exchange. dl is a per-doc count (map-side
    // partial agg: the exchange carries one row per doc per partition),
    // and the tf aggregate filters to the broadcast query terms BEFORE
    // grouping, so only query-term hits reach its exchange. Identical
    // numbers: dl = Σ tf over all tokens; n_docs counts docs with ≥ 1
    // non-empty token exactly as the old tf-derived table did.
    val toks = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("t_tokens"))
    val terms = queryTerms.select(col("term")).distinct()
    val tfq = toks.join(broadcast(terms), toks("token") === terms("term"))
      .drop("term")
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tfq.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val scored = tfq
      .join(broadcast(dfreq), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf_micros", expr(
        "((2*n_docs - 2*df + 1) * 1000000) div (2*df + 1) + 1000000"))
      .withColumn("sat_micros", expr(
        """(CAST(44 AS DECIMAL(38,0)) * tf * t_tokens * 1000000)
          | div (20*tf*t_tokens + 6*t_tokens + 18*dl*n_docs)""".stripMargin))
      .withColumn("score_micros",
        expr("(CAST(idf_micros AS DECIMAL(38,0)) * sat_micros) div 1000000"))
      .join(broadcast(queryTerms), col("token") === queryTerms("term"))
    scored.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("score_micros")).as("score"))
      .groupBy(col("query_id"))
      .agg(TopKAgg.topK(k, col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("doc_id"), col("col.v").as("score_micros"))
  }

  /** Bigram-LM quality scoring — the CCNet-style perplexity filter
    * (Wenzek et al. 2020 train a KenLM and drop the high-perplexity
    * tail): "train" bigram transition counts on the corpus, then score
    * every document by its mean transition surprisal. The textbook score
    * is −mean log P(w2|w1) = mean log(c(w1·)/c(w1w2)); this computes the
    * RATIONAL surrogate mean of (c(w1·)·1e6 div c(w1w2)) — monotone in
    * each transition's inverse probability, integer-exact, so an oracle
    * replays the division chain bit-for-bit (same trade as bm25TopK; the
    * mean weights transitions by 1/P rather than log 1/P, a documented
    * deviation that still surfaces the same incoherent tail). High
    * score = improbable transitions = noise/boilerplate/glitch docs.
    *
    * The per-doc sum rides DECIMAL(38,0): a once-seen bigram under a
    * 1e12-count left context scores 1e18 micros, and a long doc of such
    * transitions wraps a 64-bit sum; the mean divides back to BIGINT.
    *
    * Scale shape: bigram + left-context counts are partial-aggregable
    * hash aggregates (the LM training pass); scoring joins each doc's
    * pairs to the count tables by key — the standard distributed
    * LM-scoring join — then one per-doc agg. Pairing is map-local
    * zip-with-tail: no exploded-token window, no shuffle-sort. Docs with
    * fewer than two tokens have no transitions and drop out (score them
    * with a length gate, not an LM).
    *
    * @param scorePred extra filter applied to the SCORING side only (the
    *   counts always train on the full corpus).
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      scorePred: Column = lit(true)): DataFrame = {
    val w = tokens(col(textCol))
    val pair = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (l, r) => struct(l.as("w1"), r.as("w2")))
    // Two consumers (the LM counts and the scoring pass) and a ~1-split
    // local scan: widen the tokenize past the scan and materialize the
    // pair stream once — the same intermediate a real corpus-LM pipeline
    // persists between its count and score phases.
    val pairs = docs.filter(length(col(textCol)) > 0)
      .select(col(idCol), col(textCol))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol).as("doc_id"), explode(pair).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))
      .localCheckpoint()
    val big = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val lft = big.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    pairs.filter(scorePred)
      .join(big, Seq("w1", "w2")).join(lft, Seq("w1"))
      .withColumn("sur", expr("(c1 * 1000000) div c12"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("sum(CAST(sur AS DECIMAL(38,0))) div count(1)").as("sur_micros"))
  }

  /** PMI collocation mining — the phrase-extraction pass of a corpus
    * pipeline (Church & Hanks 1990): adjacent pairs ranked by pointwise
    * mutual information, as the monotone RATIONAL surrogate
    * (c12 · T · 1e6) div (c1 · c2) of exp(PMI) — integer-exact, oracle
    * replayable. `minCount` drops the rare-pair degeneracy (a once-seen
    * pair of once-seen tokens maxes raw PMI). c1/c2 are UNIGRAM
    * occurrence counts over all tokens and T the total pair count —
    * stated because both conventions exist and the gate pins this one.
    *
    * The product c1·c2 rides DECIMAL(38,0): two 1e12-count stopwords
    * overflow a 64-bit product at web scale.
    *
    * Scale shape: two partial-aggregable hash aggregates (pairs,
    * unigrams) + a global TakeOrdered(k) — pairing map-local
    * zip-with-tail, the unigram table joined by key.
    */
  def pmiCollocations(docs: DataFrame, idCol: String, textCol: String,
                      minCount: Long, k: Int): DataFrame = {
    val w = tokens(col(textCol))
    val pair = zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (l, r) => struct(l.as("w1"), r.as("w2")))
    val nz = docs.filter(length(col(textCol)) > 0)
    // Both count tables are materialized ONCE (lazy local checkpoints,
    // r18): `pairs` has two consumers (the T total and the ranked join)
    // and `uni` two (the w1 and w2 sides), and Catalyst plans each
    // consumer as its own full explode + aggregate chain over the corpus
    // — the executed plan carried the tokenize Generate four times; each
    // is a full corpus token pass at 100 TB. The checkpoints store the
    // aggregated (bigram/vocab-domain) tables the joins must exchange
    // anyway; the text never leaves the scan stage.
    val pairs = nz.select(explode(pair).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint(eager = false)
    val uni = nz.select(explode(w).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cu"))
      .localCheckpoint(eager = false)
    val total = pairs.agg(sum(col("c12")).as("t_pairs"))
    pairs.filter(col("c12") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("cu").as("c1")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("cu").as("c2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .withColumn("pmi_micros", expr(
        """CAST((CAST(c12 AS DECIMAL(38,0)) * t_pairs * 1000000)
          | div (CAST(c1 AS DECIMAL(38,0)) * c2) AS BIGINT)""".stripMargin))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("pmi_micros"))
      .orderBy(col("pmi_micros").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Per-document repetition metrics, Gopher-rule style (Rae et al. 2021
    * §A1.1: repetitious documents are low-quality): the fraction of mass
    * held by the most frequent token and the fraction of duplicate
    * bigram occurrences, both in integer basis points (×10000, floor
    * division — oracle-exact, no float summation).
    *
    * Output: (doc_id, n_tokens, n_distinct, top_token_bp, dup_bigram_bp).
    * A quality gate composes on top: e.g. `top_token_bp >= 1200 OR
    * dup_bigram_bp >= 800` flags the repetitive tail.
    *
    * Scale shape: two explode → hash-aggregate chains (unigrams,
    * bigrams), each keyed (doc, gram) then (doc) — all partial-aggregable,
    * no windows, no driver state; the final join is keyed on doc_id and
    * both sides arrive hash-partitioned on it. Docs with one token have
    * no bigrams — the left join fills dup_bigram_bp = 0.
    */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("w"))
    val uni = toks.select(col("doc_id"), explode(col("w")).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_c"))
    // sequence(1, 0) DESCENDS in Spark, so the single-token case must be
    // an explicit empty array (explode then drops the row; the left join
    // below restores the doc with dup_bigram_bp = 0).
    val bigrams = toks.select(col("doc_id"),
      explode(when(size(col("w")) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", element_at(col("w"), i), element_at(col("w"), i + 1)))))
        .as("bg"))
    val bi = bigrams
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("nb"), count(lit(1)).as("ndb"))
    uni.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        expr("top_c * 10000 div n_tokens").as("top_token_bp"),
        coalesce(expr("(nb - ndb) * 10000 div nb"), lit(0L)).as("dup_bigram_bp"))
  }

  /** Cross-document boilerplate detection per source: a k-token shingle
    * occurring in ≥ `minDocs` distinct documents OF THE SAME SOURCE is
    * boilerplate (the exact-substring header/footer/navigation class a
    * crawl pipeline strips before training). Returns per-source totals:
    * shingle occurrences, boilerplate occurrences, doc count — the
    * corpus-health dashboard row; the per-doc strip composes from the
    * same join.
    *
    * Scale shape: shingles travel as 8-byte hashes (the codegen'd
    * `shingle_hashes` expression, distinct per doc — never the strings),
    * so the single exchange is keyed (source, long). Both totals fold
    * out of the (source, shingle)-count table itself — `n_shingle_occ =
    * Σ nds`, `n_boiler_occ = Σ nds where nds ≥ minDocs` — so there is NO
    * join back to the exploded rows; the per-source doc count is a
    * second tiny aggregate broadcast into the 1-row-per-source result.
    * Hot shingles skew the reducer at most by docs-per-source — bounded,
    * and no pair join anywhere (exact-match boilerplate needs no
    * candidate generation, unlike minhash).
    */
  def boilerplateStats(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, k: Int = 3,
                       minDocs: Long = 3L): DataFrame = {
    org.apache.spark.sql.GraftFunctions.register(docs.sparkSession)
    val sh = docs.select(col(sourceCol).as("source"),
      explode(call_function("shingle_hashes", col(textCol), lit(k))).as("h"))
    // shingle_hashes is distinct-per-doc, so count(*) = docs sharing it.
    val cnt = sh.groupBy(col("source"), col("h"))
      .agg(count(lit(1)).as("nds"))
    val occ = cnt.groupBy(col("source"))
      .agg(sum(col("nds")).as("n_shingle_occ"),
        sum(when(col("nds") >= minDocs, col("nds")).otherwise(0L))
          .as("n_boiler_occ"))
    val nd = docs.groupBy(col(sourceCol).as("source"))
      .agg(countDistinct(col(idCol)).as("n_docs"))
    occ.join(nd, Seq("source"))
  }

  /** URL canonicalization for crawl dedup (the same-page-many-URLs class:
    * scheme/host case, `www.` prefix, tracking params, fragments, trailing
    * slashes). Pure regexp_replace chain — whole-stage codegen.
    * Canonical form: lowercased scheme://host, no `www.`, no `utm_*`
    * params (any number, any position), no fragment, no trailing slash.
    *
    * Param handling normalizes the separator first (first '?' → '&'),
    * strips EVERY `&utm_…` run, then restores '?' on the first survivor —
    * so `?utm_a=1&utm_b=2&id=3` collapses to `?id=3`, never to a malformed
    * `&id=3`. Engine portability: every single-shot step is ANCHORED
    * (`^…`), so it rewrites at most once under Spark's always-global
    * regexp_replace AND under a first-match engine — an embedded
    * `://www.` inside a redirect param or a second '?' inside a param
    * value survives untouched on both sides. The only intentionally
    * global pattern is the utm strip (the oracle mirrors it with
    * DuckDB's 'g' flag).
    */
  def canonicalizeUrl(url: Column): Column = {
    // lowercase only the scheme://host prefix; path case is significant
    val hostLowered = concat(
      lower(regexp_extract(url, "^([^/]*//[^/]*)", 1)),
      regexp_replace(url, "^[^/]*//[^/]*", ""))
    val noWww = regexp_replace(hostLowered, "^([^/]*//)www\\.", "$1")
    val noFragment = regexp_replace(noWww, "#.*", "")
    val uniformSep = regexp_replace(noFragment, "^([^?]*)\\?", "$1&")
    val noUtm = regexp_replace(uniformSep, "&utm_[^&#]*", "")
    val restored = regexp_replace(noUtm, "^([^&]*)&", "$1?")
    regexp_replace(restored, "/$", "")
  }

  /** CCNet-style sub-document boilerplate REMOVAL (Wenzek et al. 2020
    * dedup step, at chunk grain): cut every document into non-overlapping
    * `w`-token chunks (last chunk may be short), drop each chunk that
    * appears — by content fingerprint — in ≥ `minDocs` DISTINCT documents,
    * and rebuild the document from its surviving chunks in order. This is
    * the REWRITE twin of [[boilerplateStats]]/q186, which only measure:
    * headers, footers, and licence blocks vanish while unique prose
    * survives, the transformation a crawl pipeline actually applies.
    *
    * Chunks travel as the 8-byte portable `Dedup.charHash` (never the chunk
    * string): the corpus count is a partial-aggregable hash agg keyed on
    * the fingerprint, and the count join back to the exploded chunks is an
    * 8-byte-keyed hash join whose skew is bounded by docs-per-boilerplate-
    * chunk. Fingerprint collisions (p = 1e9+7) conflate two chunks' counts
    * — both engines compute the identical fingerprint, so the gate is
    * exact over the DEFINED (fingerprint-keyed) semantics. Reconstruction
    * is one per-doc hash agg: `sort_array(collect_list(struct(ci, chunk)))`
    * rebuilds order without a window sort.
    *
    * Returns one row per input doc: (idCol, carryCols…, n_chunks,
    * n_dropped, new_text) — `new_text` is "" when everything was dropped.
    */
  def removeBoilerplateChunks(docs: DataFrame, idCol: String, textCol: String,
                              w: Int, minDocs: Long,
                              carryCols: Seq[String] = Nil): DataFrame = {
    require(w > 0, "chunk width must be positive")
    // Chunking + fingerprinting is the CPU of this operator and it has
    // TWO consumers (the cross-doc frequency census and the join probe).
    // Left declarative, each consumer re-runs it, and its parallelism is
    // whatever the file scan yielded (2 splits for a ~50 MB local
    // parquet — measured 2x ~9 s two-task stages at sf1). So: widen to
    // the configured shuffle width BEFORE the heavy map (explicit count
    // — exempt from AQE coalescing) and materialize the chunk table
    // once. Chunk rows are (id, carry, ci, chunk, fp) — the same rows
    // both consumers must exchange anyway; a real pipeline (CCNet)
    // materializes this table too.
    val nParts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val toks = docs.repartition(nParts)
      .select((col(idCol) +: carryCols.map(col) :+
        split(col(textCol), " ").as("__toks")): _*)
    val chunks = toks
      .select((col(idCol) +: carryCols.map(col) :+
        posexplode(expr(
          s"transform(sequence(0, int((size(__toks) + ${w - 1}) div $w) - 1)," +
          s" i -> concat_ws(' ', slice(__toks, i * $w + 1, $w)))"))): _*)
      .withColumnRenamed("pos", "__ci").withColumnRenamed("col", "__chunk")
      .withColumn("__fp", graft.dedup.Dedup.charHash(col("__chunk")))
      .localCheckpoint()
    val cnt = chunks.select(col(idCol), col("__fp")).distinct()
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
    chunks.join(cnt, "__fp")
      .groupBy((col(idCol) +: carryCols.map(col)): _*)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__nd") >= minDocs, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", expr(
          s"transform(sort_array(collect_list(CASE WHEN __nd < $minDocs" +
          " THEN struct(__ci, __chunk) END)), x -> x.__chunk)")).as("new_text"))
  }

  /** DSIR-style importance scoring (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023, at unigram
    * grain, integer surrogate): score each raw document by how much its
    * vocabulary looks like a TARGET corpus. Per distinct token,
    * weight = (target_df · scale) div raw_df — the floor-divided integer
    * surrogate of the target/raw frequency ratio (tokens absent from the
    * target weigh 0); a document's score is the mean token weight
    * (Σ weights div n_distinct_tokens), so long documents aren't favored.
    * Integer end to end — any engine replays the ranking bit-for-bit.
    *
    * Scale shape: both frequency tables are partial-aggregable hash aggs
    * (the target one over the filtered slice); weights join into the
    * exploded token stream by token (hash join, vocabulary-sized build
    * side — never collected to the driver); the per-doc sum is one keyed
    * agg. No broadcast of the corpus, no driver-side vocabulary.
    *
    * Returns one row per doc: (idCol, carryCols…, n_tok, score) with
    * score in `scale` units.
    */
  def importanceScores(docs: DataFrame, idCol: String, textCol: String,
                       targetPred: Column, scale: Long = 1000000L,
                       carryCols: Seq[String] = Nil): DataFrame = {
    val toks = docs.select((col(idCol) +: targetPred.as("__tgt") +:
        carryCols.map(col) :+
        explode(array_distinct(split(col(textCol), " "))).as("__t")): _*)
    val freq = toks.groupBy(col("__t")).agg(
      count(lit(1)).as("__rdf"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tdf"))
    toks.join(freq, "__t")
      .groupBy((col(idCol) +: carryCols.map(col)): _*)
      .agg(count(lit(1)).as("n_tok"),
        expr(s"sum((__tdf * ${scale}L) div __rdf) div count(1)").as("score"))
  }

  /** Greedy left-to-right non-overlapping merge of adjacent (l, r) into
    * `l + sep + r` — one BPE merge application over a symbol sequence,
    * linear single pass (a merge consumes both symbols, so its output is
    * never re-examined within the round).
    */
  private[graft] def greedyMerge(toks: IndexedSeq[String], l: String,
                                r: String, sep: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = toks.length
    while (i < n) {
      if (i + 1 < n && toks(i) == l && toks(i + 1) == r) {
        out += (l + sep + r); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toIndexedSeq
  }

  /** Full BPE vocabulary-training loop (Sennrich et al., ACL 2016) at
    * word-symbol grain: `nMerges` rounds of (count adjacent pairs
    * corpus-wide → pick the most frequent pair, ties to the
    * lexicographically smallest → greedily merge every non-overlapping
    * occurrence left-to-right in every doc). Extends q144's single
    * pair-count step to the real iterate-merge-recount trainer.
    *
    * Scale shape per round: pair extraction is MAP-LOCAL (zip of each
    * token array with its own tail — no window, no per-doc sort), counts
    * are one hash aggregate with map-side partial combine, and only ONE
    * (pair, count) row reaches the driver (TakeOrdered(1)). The merge
    * application is a linear per-row kernel (mapPartitions shape — a fold
    * with array-copy-per-step would be O(n²) per doc), and lineage is
    * truncated every round (localCheckpoint, or a reliable checkpoint
    * under `checkpointDir` on a cluster) so round k plans O(1) work, not
    * k stacked kernels. The corpus is never collected; state on the
    * driver is exactly `nMerges` chosen pairs.
    *
    * Returns one row per executed round:
    * (step, left_tok, right_tok, n_pairs, n_tokens_after) — n_pairs is
    * the chosen pair's corpus frequency BEFORE merging; n_tokens_after
    * the corpus token count after applying it. Overlapping runs make
    * merged occurrences < n_pairs ("a a a" has 2 pairs, 1 merge), so
    * n_tokens_after gates the greedy application itself, not just the
    * argmax. Stops early when no adjacent pair remains.
    */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String, nMerges: Int,
               sep: String = "",
               checkpointDir: Option[String] = None,
               kernelCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    require(nMerges >= 1, "need nMerges >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // Lineage is cut every round (Checkpoints.materialize): the next
    // round's pair-count job is a full scan of `cur`, so it materializes a
    // lazy local checkpoint — one job per round, not checkpoint + count +
    // re-scan.
    // Explicit width before the first checkpoint: it freezes
    // its partitioning for EVERY subsequent round's kernels, and a local
    // parquet scan yields ~2 splits — 5 rounds of 2-task merge kernels
    // (explicit count: exempt from AQE coalescing).
    var cur = graft.ops.Checkpoints.materialize(docs
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col(idCol).cast("long").as("id"),
        split(col(textCol), " ").as("toks"))
      .as[(Long, IndexedSeq[String])], checkpointDir)
    // `split` always yields >= 1 token, so after ANY number of merges
    // every doc keeps >= 1 token and per doc |pairs| = |toks| - 1; hence
    // corpus-wide  Σ|toks| = Σ n_pairs + n_docs . That identity lets each
    // round's ONE aggregate serve double duty (r17): its pair-count total
    // IS the previous round's n_tokens_after, killing the dedicated
    // sum(size(toks)) full-corpus pass per round. Tie-break parity with
    // the old orderBy(n desc, l, r).limit(1): min_by over the
    // (-n, l, r) struct is the identical lexicographic order.
    val nDocs = cur.count()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
    var step = 1
    var exhausted = false
    def pairStats(): (Long, Option[(String, String, Long)]) = {
      val tdf = cur.toDF("id", "toks")
      val w = col("toks")
      val pair = zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (l, r) => struct(l.as("l"), r.as("r")))
      val row = tdf.select(explode(pair).as("p"))
        .groupBy(col("p.l"), col("p.r"))
        .agg(count(lit(1)).as("n"))
        .agg(sum(col("n")).as("tot"),
          min_by(struct(col("l"), col("r"), col("n")),
            struct(-col("n"), col("l"), col("r"))).as("top"))
        .head()
      val tot = if (row.isNullAt(0)) 0L else row.getLong(0)
      val top = if (row.isNullAt(1)) None else {
        val t = row.getStruct(1)
        Some((t.getString(0), t.getString(1), t.getLong(2)))
      }
      (tot, top)
    }
    while (step <= nMerges && !exhausted) {
      val (tot, top) = pairStats()
      // tot = Σ pairs of the CURRENT corpus -> tokens after the PREVIOUS
      // merge; backfill that round's n_tokens_after.
      if (step > 1) {
        val (s0, l0, r0, n0, _) = out(step - 2)
        out(step - 2) = (s0, l0, r0, n0, tot + nDocs)
      }
      top match {
        case None => exhausted = true
        case Some((l, r, n)) =>
          // kernelCounter counts merge-kernel doc visits: with per-round
          // lineage truncation each doc is visited exactly once per round
          // (rounds × docs total); a broken checkpoint re-runs earlier
          // kernels and the count goes quadratic — asserted in PlanAuditSpec.
          cur = graft.ops.Checkpoints.materialize(cur.map { case (id, toks) =>
            kernelCounter.foreach(_.add(1L))
            (id, greedyMerge(toks, l, r, sep))
          }, checkpointDir)
          out += ((step, l, r, n, -1L))
          step += 1
      }
    }
    // The LAST merged corpus has no following pair count — one final
    // (codegen'd) token-sum pass fills its n_tokens_after.
    if (out.nonEmpty && out.last._5 == -1L) {
      val nAfter = cur.toDF("id", "toks")
        .agg(sum(size(col("toks")))).head().getLong(0)
      val (s0, l0, r0, n0, _) = out.last
      out(out.length - 1) = (s0, l0, r0, n0, nAfter)
    }
    out.toSeq
      .toDF("step", "left_tok", "right_tok", "n_pairs", "n_tokens_after")
  }
}
