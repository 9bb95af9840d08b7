package perfbench

import java.util.SplittableRandom
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.enrich.Enrich
import graft.schemas.Schemas

/** Seeded landing fixtures for the pipeline workloads, plus a plain-Scala
  * model of what the pipeline must produce from them.
  *
  * Every clean-stage rule gets rows that trip it: `[deleted]` and empty
  * content; `None`, empty, null and `AutoModerator` usernames; texts over
  * the 1000-char gate (built with a StringBuilder, not a wide `concat_ws`
  * expression, so no generated method outgrows Janino's 64 KB limit);
  * blacklisted terms in mixed case from a 9-term list (more than
  * `SocialOps.contentGate`'s 8-term threshold, so the native Aho-Corasick
  * expression runs); ~5% orphan comments; null and empty mention lists.
  * Normal texts mix lexicon words and accented words, so translate,
  * sentiment and claim scoring all see non-trivial input.
  */
object Fixtures {
  val topics: Seq[String] = Seq("ukraine_war", "climate_change")
  val dataload = "25-03-2023"
  val blacklist: Seq[String] =
    Seq("badterm", "slur1", "slur2", "slur3", "slur4", "slur5", "slur6", "slur7", "slur8")
  val positive: Set[String] = Set("good", "new", "expand", "calm")
  val negative: Set[String] = Set("grim", "strikes", "floods", "fear")
  val maxLen = 1000

  def scorer: Enrich.TextScorer = new Enrich.LexiconScorer(positive, negative)

  private val words = Array(
    "good", "grim", "breaking", "quiet", "major", "minor", "new", "talks",
    "strikes", "floods", "summit", "report", "vote", "continue", "stall",
    "expand", "surprise", "end", "begin", "calm", "fear", "café", "niño",
    "señal", "über", "acción", "river", "energy", "border", "price")
  private val subreddits = Array("worldnews", "europe", "science", "politics", "news", "energy")
  private val nUsers = 4000

  private def text(r: SplittableRandom): String = {
    val n = 4 + r.nextInt(10)
    (0 until n).map(_ => words(r.nextInt(words.length))).mkString(" ")
  }

  private def longText(r: SplittableRandom): String = {
    val sb = new StringBuilder
    while (sb.length <= maxLen) { sb ++= words(r.nextInt(words.length)); sb += ' ' }
    sb ++= "end"
    sb.toString
  }

  private def blacklisted(r: SplittableRandom): String = {
    val t = blacklist(r.nextInt(blacklist.size))
    val shown = if (r.nextBoolean()) t.toUpperCase else t
    s"${text(r)} $shown ${words(r.nextInt(words.length))}"
  }

  private def content(r: SplittableRandom): String = r.nextInt(100) match {
    case u if u < 3 => "[deleted]"
    case u if u < 5 => ""
    case u if u < 8 => blacklisted(r)
    case u if u < 10 => longText(r)
    case _ => text(r)
  }

  private def username(r: SplittableRandom): String = r.nextInt(100) match {
    case 0 | 1 => "None"
    case 2 => ""
    case 3 | 4 => null
    case 5 | 6 => "AutoModerator"
    case _ => s"user${r.nextInt(nUsers)}"
  }

  private def date(r: SplittableRandom): String =
    f"2023-03-25 ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"

  private def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Landing rows of one topic, in `Schemas` column order. */
  final case class Topic(name: String, posts: Seq[Row], comments: Seq[Row], tweets: Seq[Row]) {
    def records: Long = posts.size.toLong + comments.size + tweets.size
  }

  def posts(seed: Long, salt: Long, n: Int, topic: String, idPrefix: String): Seq[Row] = {
    val r = rng(seed, salt)
    (0 until n).map { i =>
      val title = if (r.nextInt(100) == 0) blacklisted(r) else text(r)
      Row(s"$idPrefix$i", date(r), title, content(r), username(r), r.nextInt(40),
        r.nextInt(5000), subreddits(r.nextInt(subreddits.length)), topic, dataload)
    }
  }

  def topic(seed: Long, idx: Int, nPosts: Int): Topic = {
    val name = topics(idx)
    val salt = 1000L * (idx + 1)
    val nComments = nPosts * 5 / 2
    val nTweets = nPosts
    val ps = posts(seed, salt + 1, nPosts, name, "p")
    val rc = rng(seed, salt + 2)
    val cs = (0 until nComments).map { i =>
      // ~5% of comments point past the landed posts: orphans.
      val post = rc.nextInt(nPosts + nPosts / 20)
      val parent = if (rc.nextInt(3) == 0) s"c${rc.nextInt(nComments)}" else null
      Row(s"c$i", date(rc), content(rc), username(rc), rc.nextInt(2000),
        s"p$post", parent, name, dataload)
    }
    val rt = rng(seed, salt + 3)
    val ts = (0 until nTweets).map { i =>
      val mentions = rt.nextInt(10) match {
        case 0 | 1 => null
        case 2 | 3 => ""
        case _ => (0 to rt.nextInt(3)).map(_ => s"user${rt.nextInt(nUsers)}").mkString(",")
      }
      val reply = if (rt.nextInt(5) == 0) s"user${rt.nextInt(nUsers)}" else null
      val d = date(rt)
      Row(1635322899233112064L + i, d, content(rt), username(rt), rt.nextInt(100000),
        mentions, rt.nextInt(900), rt.nextInt(300), reply, d, name, dataload)
    }
    Topic(name, ps, cs, ts)
  }

  /** Writes one topic's three tables through the program's landing sink. */
  def land(spark: SparkSession, t: Topic, root: String): Unit = {
    def df(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    graft.pipeline.SocialPipeline.writeLanding(df(t.posts, Schemas.redditPosts), s"$root/posts")
    graft.pipeline.SocialPipeline.writeLanding(df(t.comments, Schemas.redditComments), s"$root/comments")
    graft.pipeline.SocialPipeline.writeLanding(df(t.tweets, Schemas.tweets), s"$root/tweets")
  }

  /** One JSON-lines drop file of posts, as the stream's landing zone gets it. */
  def jsonLines(rows: Seq[Row]): String = {
    val names = Schemas.redditPosts.fieldNames
    def q(s: String): String = {
      val sb = new StringBuilder("\"")
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      (sb += '"').toString
    }
    rows.map { r =>
      names.indices.map { i =>
        val v = r.get(i) match {
          case null => "null"
          case s: String => q(s)
          case x => x.toString
        }
        s"${q(names(i))}:$v"
      }.mkString("{", ",", "}")
    }.mkString("", "\n", "\n")
  }

  // ------------------------------------------------------------------
  // Reference model: what clean → enrich → graph → rollups must output.

  /** A row that passed clean, with its enriched text. */
  final case class Clean(id: String, username: String, text: String,
                         subreddit: String, score: Int, commentCount: Int,
                         postId: String, mentions: String)

  private def lowerHasTerm(s: String): Boolean = {
    val l = s.toLowerCase(java.util.Locale.ROOT)
    blacklist.exists(l.contains)
  }

  /** `cleanPosts`/`cleanComments`: sentinel scrub, author filter, length
    * gate and blacklist over `textCols`. */
  private def passes(content: String, user: String, gated: Seq[String]): Boolean =
    content != null && content != "" && content != "[deleted]" &&
      user != null && user != "" && user != "None" && user != "AutoModerator" &&
      gated.forall(t => t != null && t.length <= maxLen && !lowerHasTerm(t))

  private val accents = "áàâäéèêëíìîïóòôöúùûüñç"
  private val plain = "aaaaeeeeiiiioooouuuunc"
  def translate(s: String): String = s.map { c =>
    val i = accents.indexOf(c); if (i >= 0) plain(i) else c
  }

  def cleanPosts(rows: Seq[Row]): Seq[Clean] = rows.collect {
    case r if passes(r.getString(3), r.getString(4), Seq(r.getString(2), r.getString(3))) =>
      Clean(r.getString(0), r.getString(4), translate(r.getString(3)), r.getString(7),
        r.getInt(6), r.getInt(5), null, null)
  }

  def cleanComments(rows: Seq[Row]): Seq[Clean] = rows.collect {
    case r if passes(r.getString(2), r.getString(3), Seq(r.getString(2))) =>
      Clean(r.getString(0), r.getString(3), translate(r.getString(2)), null,
        r.getInt(4), 0, r.getString(5), null)
  }

  def cleanTweets(rows: Seq[Row]): Seq[Clean] = rows.collect {
    case r if passes(r.getString(2), r.getString(3), Seq(r.getString(2))) =>
      Clean(r.getLong(0).toString, r.getString(3), translate(r.getString(2)), null,
        r.getInt(6), 0, null, r.getString(5))
  }

  private def micro(x: Double): Long =
    BigDecimal(x * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Sentiment rollup sums (n, Positive, Negative, claimScore in 1e-6 units). */
  def sentiment(rows: Seq[Clean]): (Long, Long, Long, Long) = {
    var (n, pos, neg, claim) = (0L, 0L, 0L, 0L)
    rows.foreach { c =>
      val toks = c.text.split(" ")
      val p = toks.count(positive).toDouble
      val g = toks.count(negative).toDouble
      val d = p + g + 1.0
      n += 1; pos += micro(p / d); neg += micro(g / d)
      claim += (if (c.text.isEmpty) 0L
        else micro(((c.text.length * 31L + toks.length * 7L) % 1000L).toDouble / 1000.0))
    }
    (n, pos, neg, claim)
  }

  /** Graph tables as (label → vertex count) and (rel → edge count). */
  def graph(posts: Seq[Clean], comments: Seq[Clean], tweets: Seq[Clean])
      : (Map[String, Long], Map[String, Long]) = {
    val v = mutable.HashSet[(String, String)]()
    posts.foreach(p => v += ((p.id, "Post")))
    comments.foreach(c => v += ((c.id, "Comment")))
    tweets.foreach(t => v += ((t.id, "Tweet")))
    (posts ++ comments ++ tweets).foreach(x => v += ((x.username, "User")))
    posts.foreach(p => v += ((p.subreddit, "Subreddit")))
    val e = mutable.HashSet[(String, String, String)]()
    posts.foreach { p => e += ((p.id, p.subreddit, "POSTED_IN")); e += ((p.id, p.username, "POSTED_BY")) }
    comments.foreach { c => e += ((c.id, c.postId, "COMMENTED_ON")); e += ((c.id, c.username, "COMMENTED_BY")) }
    tweets.foreach { t =>
      if (t.mentions != null && t.mentions.nonEmpty)
        t.mentions.split(",", -1).foreach(m => e += ((t.id, m, "MENTIONS")))
    }
    (v.groupBy(_._2).map { case (k, s) => k -> s.size.toLong },
      e.groupBy(_._3).map { case (k, s) => k -> s.size.toLong })
  }

  /** Everything `runDaily` must write for one topic. */
  final case class DailyExpect(vertices: Map[String, Long], edges: Map[String, Long],
                               engagement: Map[String, (Long, Long, Long)],
                               sentiment: (Long, Long, Long, Long), cleanRows: Long)

  def expectDaily(t: Topic): DailyExpect = {
    val (p, c, tw) = (cleanPosts(t.posts), cleanComments(t.comments), cleanTweets(t.tweets))
    val (v, e) = graph(p, c, tw)
    val eng = p.groupBy(_.subreddit).map { case (s, xs) =>
      s -> ((xs.size.toLong, xs.map(_.score.toLong).sum, xs.map(_.commentCount.toLong).sum))
    }
    DailyExpect(v, e, eng, sentiment(p ++ c ++ tw), p.size.toLong + c.size + tw.size)
  }
}
