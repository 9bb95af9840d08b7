package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Wave 4 — multimodal-column queries. The testdata has no binary table, so
  * payloads are the UTF-8 bytes of `documents.text` (cast to binary in the
  * plan); on ASCII text the byte hash equals the char hash, which keeps the
  * stub decode oracle-expressible in ANSI SQL.
  */
object MediaQueries {

  private val P = Multimodal.P

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Binary metadata decode (stub codec) → typed meta struct → rollup.
    "q37_media_meta" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      Multimodal.decodeMeta(media, "payload")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(col("meta.width").cast("long")).as("sum_width"),
          sum(col("meta.height").cast("long")).as("sum_height"),
          sum(col("meta.byte_len")).as("sum_bytes"))
        .orderBy(col("source"))
    }),

    // Binary → fixed-dim embedding (stub features) → micro-unit rollup.
    "q38_media_embedding" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text").cast("binary").as("payload"))
      Multimodal.extractEmbedding(media, "payload", 8)
        .select(col("lang"),
          element_at(col("embedding"), 1).cast("double").as("e0"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(graft.ops.CoreOps.cents(col("e0"), 6)).as("sum_e0_u"))
        .orderBy(col("lang"))
    }),

    // REAL codec end-to-end: each doc becomes a genuine PPM (P6) image —
    // ASCII header + raw RGB plane, pixel j = 1 + (doc_id·31 + 7j) % 127,
    // built as actual bytes in the plan (all values ≤ 127, so the UTF-8
    // string→binary cast is byte-faithful) — and Multimodal.decodePpm
    // parses it back. The oracle computes the planted pixel arithmetic
    // directly, so the gate fails unless the decoder really read the
    // header AND summed the true pixel bytes.
    "q130_ppm_decode" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("w", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("h", (col("doc_id") % 4 + 3).cast("int"))
        .withColumn("payload", expr(
          """cast(concat('P6
            |', w, ' ', h, '
            |# planted-pixel fixture
            |127
            |', array_join(transform(sequence(0, w * h * 3 - 1),
            |     j -> char(1 + (doc_id * 31 + 7 * j) % 127)), '')) as binary)""".stripMargin))
      Multimodal.decodePpmStats(media, "payload")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ppm").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("ppm.width").cast("long")).as("sum_width"),
          sum(col("ppm.height").cast("long")).as("sum_height"),
          sum(col("ppm.pixel_sum")).as("sum_pixels"))
        .orderBy(col("lang"))
    }),

    // Image near-dup via perceptual average-hash over the REAL PPM codec:
    // q130's planted-pixel fixture → decodePpm → all-integer aHash
    // (bit j = gray(j mod n_pix)·n_pix > total gray) → equal-hash
    // grouping per image geometry. Docs congruent mod 127·(geometry
    // period) plant identical images, so true dup groups exist and the
    // pair counts are non-trivial; the oracle recomputes every hash bit
    // from the planted arithmetic, so a decoder or hash off by one bit
    // anywhere fails the gate. The exchange carries (w, h, ahash) only —
    // never pixels — and no pair join is needed for equal-hash dup
    // detection (group sizes give the pair counts).
    "q185_image_ahash" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("w", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("h", (col("doc_id") % 4 + 3).cast("int"))
        .withColumn("payload", expr(
          """cast(concat('P6
            |', w, ' ', h, '
            |# planted-pixel fixture
            |127
            |', array_join(transform(sequence(0, w * h * 3 - 1),
            |     j -> char(1 + (doc_id * 31 + 7 * j) % 127)), '')) as binary)""".stripMargin))
      Multimodal.aHash(media, "payload", bits = 60)
        .groupBy(col("w"), col("h"), col("ahash"))
        .agg(count(lit(1)).as("ng"))
        .groupBy(col("w"), col("h"))
        .agg(sum(col("ng")).as("n_images"),
          count(lit(1)).as("n_hash_groups"),
          sum(expr("ng * (ng - 1) div 2")).as("n_dup_pairs"),
          sum(col("ahash") % 1000000007L).as("sum_hash_mod"))
        .select(col("w").cast("long").as("w"), col("h").cast("long").as("h"),
          col("n_images"), col("n_hash_groups"), col("n_dup_pairs"),
          col("sum_hash_mod"))
        .orderBy(col("w"), col("h"))
    }),

    // Image NEAR-dup at Hamming distance ≤ 6 — q185 (equal-hash exact
    // dup) composed with the dedup family's banded blocking: the 60-bit
    // perceptual hash splits into 4×15-bit bands and a candidate must
    // match at least one band exactly. With ≤ 3 flipped bits that is
    // guaranteed (pigeonhole over 4 bands); 4-6 flips surface only when
    // the flips cluster into ≤ 3 bands — banded-simhash's honest partial
    // recall, which the oracle replays with the IDENTICAL banding, so
    // the gate pins the real physics rather than a wishful 100%.
    // Candidates ride the skew-tiled bucket join (hot hash buckets
    // guaranteed here: planted dup groups), verify is one codegen'd
    // bit_count(xor) — pixels never leave the hashing kernel, the
    // exchange carries (id, ahash) longs.
    "q241_image_hamming_dedup" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("w", (col("doc_id") % 5 + 4).cast("int"))
        .withColumn("h", (col("doc_id") % 4 + 3).cast("int"))
        .withColumn("payload", expr(
          """cast(concat('P6
            |', w, ' ', h, '
            |# planted-pixel fixture
            |127
            |', array_join(transform(sequence(0, w * h * 3 - 1),
            |     j -> char(1 + (doc_id * 31 + 7 * j) % 127)), '')) as binary)""".stripMargin))
      val hashed = graft.multimodal.Multimodal.aHash(media, "payload", bits = 60)
      val mask = (1L << 15) - 1
      val banded = hashed.select(col("doc_id").as("id"), col("ahash"),
          col("w"), col("h"), col("w").as("wp"), col("h").as("hp"))
        .select(col("id"), col("ahash"), col("w"), col("h"),
          col("wp"), col("hp"),
          posexplode(array((0 until 4).map(b =>
            shiftright(col("ahash"), b * 15).bitwiseAND(lit(mask))): _*))
            .as(Seq("band", "bh")))
      graft.dedup.PairJoin
        .selfPairs(banded, Seq("w", "h", "band", "bh"), "id")
        .select(col("a.wp").cast("long").as("w"),
          col("a.hp").cast("long").as("h"),
          col("a.id").as("id_a"), col("b.id").as("id_b"),
          expr("bit_count(a.ahash ^ b.ahash)").cast("long").as("hamming"))
        .filter(col("hamming") <= 6)
        .distinct()
        .groupBy(col("w"), col("h"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("hamming")).as("sum_hamming"),
          sum(when(col("hamming") === 0, 1L).otherwise(0L)).as("n_exact"))
        .orderBy(col("w"), col("h"))
    }),

    // REAL codec #2 end-to-end: each doc becomes a genuine RIFF/WAVE PCM
    // clip — built as a hex string in the plan (header, fmt chunk, a
    // planted 'junk' chunk on every third doc to force a real chunk
    // walk, then n = 20 + doc_id % 10 signed 16-bit LE samples
    // v_j = ((doc_id·13 + 7j) mod 2048) − 1024) and unhex'd to true
    // arbitrary bytes (no ≤127 restriction, unlike the PPM string
    // trick). Multimodal.decodeWav parses it back; the oracle computes
    // the planted-sample arithmetic directly, so the gate fails unless
    // the decoder really walked the chunks AND read the samples.
    "q142_wav_decode" -> ((s, dir) => {
      def le(e: String, bytes: Int): String = (0 until bytes)
        .map(k => s"lpad(hex((($e) div ${1L << (8 * k)}) % 256), 2, '0')")
        .mkString("concat(", ", ", ")")
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("n", (col("doc_id") % 10 + 20).cast("int"))
        .withColumn("payload", expr(
          s"""unhex(concat(
             |  '52494646', ${le("36 + 2 * n + CASE WHEN doc_id % 3 = 0 THEN 12 ELSE 0 END", 4)},
             |  '57415645',
             |  '666D7420', '10000000', '0100', '0100',
             |  '401F0000', '803E0000', '0200', '1000',
             |  CASE WHEN doc_id % 3 = 0
             |    THEN concat('6A756E6B', '04000000', '00000000') ELSE '' END,
             |  '64617461', ${le("2 * n", 4)},
             |  array_join(transform(sequence(0, n - 1), j ->
             |    ${le("((doc_id * 13 + 7 * j) % 2048 + 64512) % 65536", 2)}), '')
             |))""".stripMargin))
      Multimodal.decodeWavStats(media, "payload")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("wav").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("wav.sample_rate").cast("long")).as("sum_rate"),
          sum(col("wav.n_samples")).as("sum_samples"),
          sum(col("wav.sum_abs")).as("sum_abs"))
        .orderBy(col("lang"))
    }),

    // REAL codec #3 (Multimodal.decodeBmp): 24-bit BMP with the three
    // behaviors PPM/WAV don't exercise — explicit data offset (a planted
    // DEADBEEF gap on every 3rd doc), 4-byte row padding (width % 3
    // varies the pad, pad bytes are 0xAA poison), bottom-up row order
    // (the top-left witness pixel lives in the LAST stored row). Every
    // 10th payload is truncated and must quarantine as null, not crash.
    "q167_bmp_decode" -> ((s, dir) => {
      def le(e: String, bytes: Int): String = (0 until bytes)
        .map(k => s"lpad(hex((($e) div ${1L << (8 * k)}) % 256), 2, '0')")
        .mkString("concat(", ", ", ")")
      def b1(e: String): String = s"lpad(hex($e), 2, '0')"
      val base = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("w", (col("doc_id") % 3 + 2).cast("int"))
        .withColumn("h", (col("doc_id") % 2 + 2).cast("int"))
        .withColumn("stride", expr("((3 * w + 3) div 4) * 4"))
        .withColumn("pad", expr("stride - 3 * w"))
        .withColumn("gap", expr("CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 0 END"))
      val hx = s"""concat(
        |  '424D', ${le("54 + gap + stride * h", 4)}, '00000000',
        |  ${le("54 + gap", 4)},
        |  '28000000', ${le("w", 4)}, ${le("h", 4)}, '0100', '1800',
        |  '00000000', ${le("stride * h", 4)},
        |  '130B0000', '130B0000', '00000000', '00000000',
        |  CASE WHEN doc_id % 3 = 0 THEN 'DEADBEEF' ELSE '' END,
        |  array_join(transform(sequence(0, h - 1), yf ->
        |    concat(
        |      array_join(transform(sequence(0, w - 1), x -> concat(
        |        ${b1("(doc_id*31 + 17*(h-1-yf) + 5*x) % 256")},
        |        ${b1("(doc_id*31 + 17*(h-1-yf) + 5*x + 1) % 256")},
        |        ${b1("(doc_id*31 + 17*(h-1-yf) + 5*x + 2) % 256")})), ''),
        |      repeat('AA', pad))), ''))""".stripMargin
      val media = base.withColumn("hx", expr(hx))
        .withColumn("payload", expr(
          "unhex(CASE WHEN doc_id % 10 = 9 THEN left(hx, length(hx) - 10) ELSE hx END)"))
      Multimodal.decodeBmpStats(media, "payload")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("bmp").isNull, 1L).otherwise(0L)).as("n_bad"),
          sum(col("bmp.width").cast("long")).as("sum_w"),
          sum((col("bmp.tl_b") + col("bmp.tl_g") + col("bmp.tl_r"))
            .cast("long")).as("sum_tl"),
          sum(col("bmp.sum_b")).as("sum_b"),
          sum(col("bmp.sum_g")).as("sum_g"),
          sum(col("bmp.sum_r")).as("sum_r"))
        .orderBy(col("lang"))
    }),

    // Frame sampling (video/audio chunk shape): frames per source.
    "q39_frame_count" -> ((s, dir) => {
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      Multimodal.frameSample(media, "payload", frameSize = 100, stride = 50)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_frames"))
        .orderBy(col("source"))
    }))

  private def chSql(s: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($s, ''), c -> CAST(ascii(c) AS BIGINT))),
       |  (acc, c) -> (acc * 31 + c) % $P)""".stripMargin

  // embedding element 0 constants: i = 0 in Multimodal.extractEmbedding
  private val a0 = (1L * 2654435761L) % P
  private val b0 = (1L * 1013904223L) % P

  val oracles: Map[String, String] = Map(
    // The decoder's ground truth restated as arithmetic: every payload
    // parses (n_bad = 0) and the pixel sum is the planted formula's sum.
    "q130_ppm_decode" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |p AS (
        |  SELECT lang, w, h,
        |    list_sum(list_transform(range(0, w * h * 3),
        |      j -> 1 + (doc_id * 31 + 7 * j) % 127)) AS psum
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(0) AS BIGINT) AS n_bad,
        |  CAST(sum(w) AS BIGINT) AS sum_width,
        |  CAST(sum(h) AS BIGINT) AS sum_height,
        |  CAST(sum(psum) AS BIGINT) AS sum_pixels
        |FROM p GROUP BY lang ORDER BY lang""".stripMargin,

    // Every aHash bit recomputed from the planted-pixel formula: gray of
    // pixel m is the sum of its three channel bytes, bit j compares
    // gray(j mod n_pix)·n_pix against the total (cross-multiplied — no
    // division anywhere in either engine).
    "q185_image_ahash" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, h, w * h AS np,
        |    list_transform(range(0, w * h), m ->
        |      3 + (doc_id*31 + 21*m) % 127 + (doc_id*31 + 21*m + 7) % 127
        |        + (doc_id*31 + 21*m + 14) % 127) AS grays
        |  FROM d),
        |t AS (SELECT doc_id, w, h, np, grays, list_sum(grays) AS tg FROM g),
        |ah AS (
        |  SELECT doc_id, w, h,
        |    CAST(list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN grays[1 + (j % np)] * np > tg
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS ahash
        |  FROM t),
        |grp AS (SELECT w, h, ahash, count(*) AS ng FROM ah GROUP BY 1, 2, 3)
        |SELECT CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |  CAST(sum(ng) AS BIGINT) AS n_images,
        |  count(*) AS n_hash_groups,
        |  CAST(sum(ng * (ng - 1) // 2) AS BIGINT) AS n_dup_pairs,
        |  CAST(sum(ahash % 1000000007) AS BIGINT) AS sum_hash_mod
        |FROM grp GROUP BY w, h ORDER BY w, h""".stripMargin,

    // q185's hash recompute + the identical 4x15-bit banding: a pair
    // counts iff some band matches exactly AND bit_count(xor) <= 6.
    "q241_image_hamming_dedup" ->
      """WITH d AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, h, w * h AS np,
        |    list_transform(range(0, w * h), m ->
        |      3 + (doc_id*31 + 21*m) % 127 + (doc_id*31 + 21*m + 7) % 127
        |        + (doc_id*31 + 21*m + 14) % 127) AS grays
        |  FROM d),
        |t AS (SELECT doc_id, w, h, np, grays, list_sum(grays) AS tg FROM g),
        |ah AS (
        |  SELECT doc_id, w, h,
        |    CAST(list_sum(list_transform(range(0, 60), j ->
        |      CASE WHEN grays[1 + (j % np)] * np > tg
        |           THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS ahash
        |  FROM t),
        |b AS MATERIALIZED (
        |  SELECT doc_id, w, h, ahash, j AS band,
        |    (ahash >> (j * 15)) & 32767 AS bh
        |  FROM ah, LATERAL (SELECT unnest(range(0, 4)) AS j) r),
        |cand AS (
        |  SELECT DISTINCT x.w, x.h, x.doc_id AS id_a, y.doc_id AS id_b,
        |    bit_count(xor(x.ahash, y.ahash)) AS hamming
        |  FROM b x JOIN b y
        |    ON x.w = y.w AND x.h = y.h AND x.band = y.band AND x.bh = y.bh
        |      AND x.doc_id < y.doc_id
        |  WHERE bit_count(xor(x.ahash, y.ahash)) <= 6)
        |SELECT CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h,
        |  count(*) AS n_pairs,
        |  CAST(sum(hamming) AS BIGINT) AS sum_hamming,
        |  CAST(sum(CASE WHEN hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact
        |FROM cand GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Planted-pixel arithmetic in LOGICAL (top-down) coordinates: the
    // offset gap, the 0xAA padding, and the bottom-up storage are all
    // invisible here — exactly why a decoder that mishandles any of them
    // fails the hash. Truncated payloads (doc_id % 10 = 9) are excluded
    // from pixel sums and counted as n_bad.
    "q167_bmp_decode" ->
      """WITH d AS (
        |  SELECT doc_id, lang, 2 + doc_id % 3 AS w, 2 + doc_id % 2 AS h
        |  FROM documents),
        |px AS (
        |  SELECT lang, w,
        |    (doc_id*31) % 256 + (doc_id*31 + 1) % 256
        |      + (doc_id*31 + 2) % 256 AS tl,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> (doc_id*31 + 17*(i // w) + 5*(i % w)) % 256)) AS sb,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> (doc_id*31 + 17*(i // w) + 5*(i % w) + 1) % 256)) AS sg,
        |    list_sum(list_transform(range(0, w*h),
        |      i -> (doc_id*31 + 17*(i // w) + 5*(i % w) + 2) % 256)) AS sr
        |  FROM d WHERE doc_id % 10 <> 9),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_bad
        |  FROM d GROUP BY 1),
        |ps AS (
        |  SELECT lang, CAST(sum(w) AS BIGINT) AS sum_w,
        |    CAST(sum(tl) AS BIGINT) AS sum_tl,
        |    CAST(sum(sb) AS BIGINT) AS sum_b,
        |    CAST(sum(sg) AS BIGINT) AS sum_g,
        |    CAST(sum(sr) AS BIGINT) AS sum_r
        |  FROM px GROUP BY 1)
        |SELECT agg.lang, n, n_bad, sum_w, sum_tl, sum_b, sum_g, sum_r
        |FROM agg JOIN ps USING (lang) ORDER BY lang""".stripMargin,

    // The decoder's ground truth restated as arithmetic: every clip
    // parses (n_bad = 0, the junk chunk never derails the walk), the
    // sample rate is the planted 8000 Hz, and the absolute-amplitude sum
    // is the planted waveform's.
    "q142_wav_decode" ->
      """WITH d AS (
        |  SELECT doc_id, lang, 20 + doc_id % 10 AS n FROM documents),
        |w AS (
        |  SELECT lang, n,
        |    list_sum(list_transform(range(0, n),
        |      j -> abs((doc_id * 13 + 7 * j) % 2048 - 1024))) AS sabs
        |  FROM d)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(0) AS BIGINT) AS n_bad,
        |  CAST(sum(8000) AS BIGINT) AS sum_rate,
        |  CAST(sum(n) AS BIGINT) AS sum_samples,
        |  CAST(sum(sabs) AS BIGINT) AS sum_abs
        |FROM w GROUP BY lang ORDER BY lang""".stripMargin,

    "q37_media_meta" ->
      s"""SELECT source, count(*) AS n,
         |  CAST(sum(h % 1024) AS BIGINT) AS sum_width,
         |  CAST(sum((h // 1024) % 1024) AS BIGINT) AS sum_height,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_bytes
         |FROM (SELECT source, text, ${chSql("text")} AS h FROM documents)
         |GROUP BY source ORDER BY source""".stripMargin,

    "q38_media_embedding" ->
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(CAST(round(CAST(CAST(CAST((($a0 * h + $b0) % $P) AS DOUBLE) / $P AS REAL) AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sum_e0_u
         |FROM (SELECT lang, ${chSql("text")} AS h FROM documents)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q39_frame_count" ->
      """SELECT source,
        |  CAST(sum(CASE WHEN length(text) >= 100 THEN (length(text) - 100) // 50 + 1 ELSE 0 END) AS BIGINT) AS n_frames
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)
}
