package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.text.TextOps
import graft.enrich.Enrich

class TextOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bm25TopK matches a brute-force reference and ranks ties by doc_id") {
    val docs = Seq(
      (1L, "a a b x"), (2L, "b c"), (3L, "c c c a y z"), (4L, "x y"),
      (5L, "a b c")).toDF("doc_id", "text")
    val q = Seq((10L, "a"), (10L, "c"), (20L, "b")).toDF("query_id", "term")
    val got = TextOps.bm25TopK(docs, "doc_id", "text", q, 3)
      .orderBy($"query_id", $"rank")
      .as[(Long, Long, Long, Long)].collect().toSeq

    // independent reference: same integer surrogate, plain Scala BigInt
    val corpus = Map(1L -> "a a b x", 2L -> "b c", 3L -> "c c c a y z",
      4L -> "x y", 5L -> "a b c").view.mapValues(_.split(" ").toSeq).toMap
    val n = BigInt(corpus.size)
    val t = BigInt(corpus.values.map(_.size).sum)
    def df(term: String) = BigInt(corpus.count(_._2.contains(term)))
    def score(terms: Seq[String], doc: Long): Long = {
      val toks = corpus(doc)
      val dlv = BigInt(toks.size)
      terms.filter(toks.contains).map { term =>
        val tf = BigInt(toks.count(_ == term))
        val idf = (2 * n - 2 * df(term) + 1) * 1000000 / (2 * df(term) + 1) + 1000000
        val sat = (44 * tf * t * 1000000) / (20 * tf * t + 6 * t + 18 * dlv * n)
        (idf * sat / 1000000).toLong
      }.sum
    }
    val expect = Seq(10L -> Seq("a", "c"), 20L -> Seq("b")).flatMap {
      case (qid, terms) =>
        corpus.keys.toSeq.map(d => (d, score(terms, d))).filter(_._2 > 0)
          .sortBy { case (d, s) => (-s, d) }.take(3).zipWithIndex
          .map { case ((d, s), i) => (qid, i + 1L, d, s) }
    }
    assert(got == expect)
  }

  test("bigramSurprisal: hand-computed transition means; short docs drop") {
    // corpus: "a b a b" and "a a" -> c(a,b)=2, c(b,a)=1, c(a,a)=1;
    // left contexts c(a.)=3, c(b.)=1
    // sur(a,b)=3e6//2=1500000; sur(b,a)=1e6; sur(a,a)=3e6
    val docs = Seq((1L, "a b a b"), (2L, "a a"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(docs, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    // doc1 mean = (1500000+1000000+1500000) div 3; doc2 = 3000000 (the
    // improbable-transition doc scores HIGHER); docs 3,4 have no pairs
    assert(out == Seq((1L, 3L, 4000000L / 3L), (2L, 1L, 3000000L)))
  }

  test("bigramSurprisal trains on the full corpus even when scoring is restricted") {
    val docs = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val out = TextOps.bigramSurprisal(docs, "doc_id", "text",
        scorePred = $"doc_id" === 2L)
      .as[(Long, Long, Long)].collect().toSeq
    // c(a,a)=1 but c(a.)=3 only if doc1's pairs trained the counts
    assert(out == Seq((2L, 1L, 3000000L)))
  }

  test("pmiCollocations: hand-computed surrogate, minCount gate, tie order") {
    // tokens a b a b c c -> pairs (a,b)x2 (b,a) (b,c) (c,c), T=5,
    // unigrams a=2 b=2 c=2
    val docs = Seq((1L, "a b a b c c")).toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(docs, "doc_id", "text",
        minCount = 1L, k = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      ("a", "b", 2L, 2L, 2L, 2500000L), // (2*5e6)//4
      ("b", "a", 1L, 2L, 2L, 1250000L), // ties below: (w1, w2) order
      ("b", "c", 1L, 2L, 2L, 1250000L),
      ("c", "c", 1L, 2L, 2L, 1250000L)))
    val gated = TextOps.pmiCollocations(docs, "doc_id", "text",
      minCount = 2L, k = 10).count()
    assert(gated == 1L) // only (a,b) survives minCount=2
  }

  test("tokenCount counts whitespace tokens") {
    val df = Seq("one two three").toDF("t").select(TextOps.tokenCount($"t"))
    assert(df.head().getLong(0) == 3L)
  }

  test("subwordCount splits long words, digits, punctuation") {
    // "internationalization" -> 4 chunks of <=6 letters; "42" -> 2 digits; "!" -> 1
    val df = Seq("internationalization 42!").toDF("t").select(TextOps.subwordCount($"t"))
    assert(df.head().getLong(0) == 4L + 2L + 1L)
  }

  test("charClassRatio measures punctuation density") {
    val df = Seq("ab!!").toDF("t").select(TextOps.charClassRatio($"t", "[^A-Za-z0-9 ]"))
    assert(df.head().getDouble(0) == 0.5)
  }

  test("stopwordRatio and qualityScore stay in [0,1]") {
    val df = Seq("the cat sat on the mat", "zzz", "").toDF("t")
      .select(TextOps.stopwordRatio($"t", Seq("the", "on")).as("sr"),
        TextOps.qualityScore($"t", Seq("the", "on")).as("q"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    }
    assert(df.head().getDouble(0) == 3.0 / 6.0) // the, on, the of 6 tokens
  }

  test("langId votes by marker tokens with priority tiebreak") {
    val markers = Seq("en" -> Seq("the"), "fr" -> Seq("le"))
    val df = Seq("the cat", "le chat", "nothing matches", "the le tie")
      .toDF("t").select(TextOps.langId($"t", markers).as("l"))
    assert(df.as[String].collect().toSeq == Seq("en", "fr", "und", "en"))
  }

  test("fingerprint is deterministic and discriminates") {
    val df = Seq("same text", "same text", "other text").toDF("t")
      .select(Dedup.charHash($"t").as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("sentiment scores are a distribution over batch-25 semantics") {
    val df = Seq("good good bad", "neutral words only").toDF("t")
    val cols = Enrich.sentimentScores($"t", Seq("good"), Seq("bad"))
    val out = df.select(cols.map { case (n, c) => c.as(n) }: _*).collect()
    out.foreach { r =>
      val sum = (0 until 4).map(r.getDouble).sum
      assert(math.abs(sum - 1.0) < 1e-12)
    }
    assert(out(0).getDouble(0) == 2.0 / 4.0) // Positive = p/(p+n+1)
  }

  test("claimScore: empty/null → 0, otherwise in [0,1)") {
    val df = Seq(Some("some claim text"), Some(""), None).toDF("t")
      .select(Enrich.claimScore($"t").as("c"))
    val vals = df.collect().map(_.getDouble(0))
    assert(vals(1) == 0.0 && vals(2) == 0.0)
    assert(vals(0) >= 0.0 && vals(0) < 1.0)
  }

  test("translateCol transliterates accents, identity on ASCII") {
    val df = Seq("café résumé", "plain").toDF("t").select(Enrich.translateCol($"t"))
    assert(df.as[String].collect().toSeq == Seq("cafe resume", "plain"))
  }

  test("batchEnrich appends aligned scores via mapPartitions batches") {
    val scorer = new Enrich.LexiconScorer(Set("good"), Set("bad"))
    val df = (1 to 60).map(i => (i.toLong, if (i % 2 == 0) "good day" else "bad day"))
      .toDF("id", "text")
    val out = Enrich.batchEnrich(df, "text", scorer, batchSize = 25)
    assert(out.count() == 60)
    // alignment: even ids scored positive, odd ids negative — no index drift
    assert(out.filter($"id" % 2 === 0 && $"Positive" > $"Negative").count() == 30)
    assert(out.filter($"id" % 2 === 1 && $"Negative" > $"Positive").count() == 30)
  }

  test("packSequences: concatenate-then-chunk assignment, per-group isolation") {
    import graft.text.TextOps
    // en: sizes 300,300,300 with budget 512 -> starts at 0,300,600 -> packs 0,0,1
    // de: sizes 600,100    -> starts at 0,600 -> packs 0,1 (over-long doc spills)
    val df = Seq(
      ("en", 1L, 300L), ("en", 2L, 300L), ("en", 3L, 300L),
      ("de", 1L, 600L), ("de", 2L, 100L)).toDF("lang", "doc_id", "n_tok")
    val out = TextOps.packSequences(df, Seq("lang"), "doc_id", "n_tok", budget = 512)
      .select($"lang", $"doc_id", $"pack_id").as[(String, Long, Long)]
      .collect().toSet
    assert(out == Set(
      ("en", 1L, 0L), ("en", 2L, 0L), ("en", 3L, 1L),
      ("de", 1L, 0L), ("de", 2L, 1L)))
  }
  test("repetitionStats: hand-computed basis points; single-token doc has no bigrams") {
    import graft.text.TextOps
    // doc 1 "a a a b": 4 tokens, 2 distinct, top 3 -> 7500 bp;
    //   bigrams (a a)(a a)(a b): 3 occ, 2 distinct -> 3333 bp.
    // doc 2 "x": 1 token -> 10000 bp, zero bigrams -> 0 bp.
    val docs = Seq((1L, "a a a b"), (2L, "x")).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 4L, 2L, 7500L, 3333L), (2L, 1L, 1L, 10000L, 0L)))
  }

  test("boilerplateStats: shared shingle within a source counts, across sources does not") {
    import graft.text.TextOps
    // src A: "h f g" appears in all 3 docs -> boilerplate at minDocs=3.
    // src B: same shingle but only 1 doc there -> not boilerplate in B.
    val docs = Seq(
      (1L, "h f g a", "A"), (2L, "h f g b", "A"), (3L, "h f g c", "A"),
      (4L, "h f g d", "B")).toDF("doc_id", "text", "source")
    val out = TextOps.boilerplateStats(docs, "doc_id", "text", "source",
        k = 3, minDocs = 3L)
      .as[(String, Long, Long, Long)].collect()
      .map { case (s, a, b, c) => s -> ((a, b, c)) }.toMap
    // each doc has 2 distinct 3-shingles -> A: 6 occ, 3 boiler ("h f g" x3)
    assert(out == Map("A" -> (6L, 3L, 3L), "B" -> (2L, 0L, 1L)))
  }

  test("canonicalizeUrl: case, www, utm params, fragments, trailing slash") {
    val cases = Seq(
      // host case + www fold; path case preserved
      "HTTPS://WWW.Example.COM/Path/One" -> "https://example.com/Path/One",
      // trailing slash
      "https://example.com/a/" -> "https://example.com/a",
      // fragment
      "https://example.com/a#frag" -> "https://example.com/a",
      // lone utm param: '?' goes too
      "https://example.com/a?utm_src=x" -> "https://example.com/a",
      // leading utm param keeps the survivor reachable via '?'
      "https://example.com/a?utm_s=1&id=2" -> "https://example.com/a?id=2",
      // trailing utm param after a real one
      "https://example.com/a?id=2&utm_s=1" -> "https://example.com/a?id=2",
      // multiple leading utm params before a survivor
      "https://example.com/a?utm_a=1&utm_b=2&id=3" -> "https://example.com/a?id=3",
      // all params are tracking -> query gone entirely
      "https://example.com/a?utm_a=1&utm_b=2" -> "https://example.com/a",
      // non-utm params survive untouched
      "https://example.com/a?id=2" -> "https://example.com/a?id=2")
    val out = cases.map(_._1).toDF("url")
      .select(TextOps.canonicalizeUrl(col("url"))).as[String].collect()
    assert(out.toSeq == cases.map(_._2))
  }

  test("bpeTrain: argmax merge chain, greedy non-overlap application") {
    val docs = Seq((1L, "a b a b a"), (2L, "a b c"), (3L, "c c c"))
      .toDF("doc_id", "text")
    val got = TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 3)
      .orderBy("step")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    // r1: (a,b)=3 beats (b,a)=2,(c,c)=2 → docs [ab ab a][ab c][c c c], 8 toks
    // r2: (c,c)=2 wins; GREEDY merges "c c c" once → [cc c], 7 toks
    // r3: all pairs tie at 1 → lexicographic (ab,a) → [ab aba], 6 toks
    assert(got == Seq(
      (1, "a", "b", 3L, 8L),
      (2, "c", "c", 2L, 7L),
      (3, "ab", "a", 1L, 6L)))
  }

  test("bpeTrain stops early when no adjacent pair remains") {
    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    assert(TextOps.bpeTrain(docs, "doc_id", "text", nMerges = 4).count() == 0L)
  }

  test("greedyMerge consumes both symbols (no re-merge within a round)") {
    assert(TextOps.greedyMerge(Vector("a", "a", "a"), "a", "a", "") ==
      Vector("aa", "a"))
    assert(TextOps.greedyMerge(Vector("a", "a", "a", "a"), "a", "a", "") ==
      Vector("aa", "aa"))
    assert(TextOps.greedyMerge(Vector("x"), "a", "a", "") == Vector("x"))
  }

  test("native fingerprint (char_hash) matches the HOF ascii-fold on BMP text") {
    val rows = Seq("", "a", "hello world", "line1 line2  double",
      "punct!@# 123", "éçü のテキスト 汉字", "x" * 1000)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val both = rows.select(
      Dedup.charHash($"t").as("nat"),
      Dedup.charHashHof($"t").as("hof")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"native ${r.getLong(0)} != hof ${r.getLong(1)}"))
  }

  test("native lang_id matches the column/HOF form incl. ties and null") {
    val markers = Seq("en" -> Seq("the", "a"), "de" -> Seq("der", "die"),
      "es" -> Seq("el", "la"), "fr" -> Seq("le", "les"))
    val rows = Seq(
      "", " ", "no markers here", "the cat", "der hund", "el la el",
      "the der", // tie en/de -> first in marker order (en)
      "la le",   // tie es/fr -> es
      "a the a der die", "die der die", "x the y der z el w le v")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val both = rows.select(
      TextOps.langId($"t", markers).as("nat"),
      TextOps.langIdHof($"t", markers).as("hof")).collect()
    both.foreach(r => assert(r.getString(0) == r.getString(1),
      s"native ${r.getString(0)} != hof ${r.getString(1)}"))
    // null text: the HOF CASE chain falls through to the "und" seed;
    // the native form must agree (it is total, not null-intolerant)
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "t")
      .select(TextOps.langId($"t", markers).as("nat"),
        TextOps.langIdHof($"t", markers).as("hof")).collect()
    assert(n(0).getString(0) == "und" && n(0).getString(1) == "und")
  }

  test("native quality_score is bit-identical to the column/HOF form") {
    // The native expression claims EXACT parity (shared oracles depend on
    // it) — compare doubleToLongBits, not approximate equality, over the
    // split/regex edge cases: empty string, consecutive/leading/trailing
    // spaces (empty tokens), stopwords at each position, punctuation-only,
    // >500-char (lenScore clamp), non-ASCII incl. a supplementary-plane
    // code point (counts once for length, is punctuation-class).
    val stops = Seq("the", "a", "of")
    val rows = Seq(
      "", " ", "  ", "the", "the ", " the", "a of the", "a  of",
      "word", "hello, world! 42", "!!!???", "éçü の 汉字", "x 😀 y",
      "the quick brown fox jumps of a fence. " * 20,
      "a" * 600, ("the " * 200).trim)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val both = rows.select(
      TextOps.qualityScore(org.apache.spark.sql.functions.col("text"), stops).as("nat"),
      TextOps.qualityScoreHof(org.apache.spark.sql.functions.col("text"), stops).as("hof"))
      .collect()
    both.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native ${r.getDouble(0)} != hof ${r.getDouble(1)}")
    }
    // null propagates (null-intolerant), matching the HOF form
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextOps.qualityScore(org.apache.spark.sql.functions.col("text"), stops).as("q"))
      .collect()
    assert(n(0).isNullAt(0))
  }

  test("native char_diversity matches the explode-histogram reference") {
    import org.apache.spark.sql.functions._
    // Edge cases the kernel's two paths must agree on with the reference
    // (and with DuckDB's per-code-point string_split replay): empty
    // string, single char, all-same (collision = n²), ASCII vs >127
    // (hash-map path), mixed, and a supplementary-plane code point
    // (surrogate pair = ONE code point).
    val rows = Seq(
      "", "a", "aaaa", "abab", "abcd", "éé汉字汉", "x😀😀y", "a b  c",
      "the quick brown fox", "汉" * 50 + "z")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val nat = rows.select(col("id"), TextOps.charStats(col("text")).as("st"))
      .select(col("id"), col("st.n_cp"), col("st.distinct_cp"),
        col("st.collision_sum"), col("st.max_count"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // reference: per-code-point explode + histogram (the shuffle-shaped
    // form the native expression replaces)
    val ref = rows
      .select(col("id"), explode_outer(split(col("text"), "")).as("c"))
      .filter(length(col("c")) > 0)
      .groupBy(col("id"), col("c")).agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg(sum(col("n")).as("n_cp"), count(lit(1)).as("d"),
        sum(col("n") * col("n")).as("coll"), max(col("n")).as("mx"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    rows.select(col("id")).collect().map(_.getLong(0)).foreach { id =>
      val expected = ref.getOrElse(id, (0L, 0L, 0L, 0L))
      assert(nat(id) == expected, s"id=$id: native ${nat(id)} != ref $expected")
    }
    // "" yields the zero profile (not null); null text propagates null
    assert(nat(0L) == ((0L, 0L, 0L, 0L)))
    val n = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextOps.charStats(col("text")).as("st")).collect()
    assert(n(0).isNullAt(0))
  }
}
