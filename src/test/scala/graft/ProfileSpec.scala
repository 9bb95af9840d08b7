package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import org.scalatest.funsuite.AnyFunSuite

/** Each `graft.Profile` mode, driven through the shared test session on
  * the smallest fixture: the lines a human reads must carry their fields. */
class ProfileSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def run(mode: String, names: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, "UTF-8")
    Profile.modes(mode)(spark, dir, names, out)
    out.flush()
    buf.toString("UTF-8").linesIterator.toSeq
  }

  private val jobs = """jobs=\s*(\d+)""".r.unanchored

  test("layers: a warm run and 2 reps, each with jobs and the Catalyst phases") {
    val lines = run("layers", "q02_filter_revenue").filter(_.startsWith("PROFILE "))
    assert(lines.map(_.split("\\s+")(2)) == Seq("warm", "rep1", "rep2"), lines.mkString("\n"))
    for (l <- lines) {
      val jobs(n) = l
      assert(n.toInt >= 1, l)
      for (phase <- Seq("analysis=", "optimization=", "planning="))
        assert(l.contains(phase), s"$phase missing: $l")
    }
  }

  test("stages: the layers lines, plus per-stage lines only above 200 ms of task time") {
    val lines = run("stages", "q02_filter_revenue")
    assert(lines.count(_.startsWith("PROFILE ")) == 3)
    val taskTime = """taskTime=\s*([0-9.]+) s""".r.unanchored
    for (l <- lines if l.startsWith("STAGE ")) {
      val taskTime(s) = l
      assert(s.toDouble > 0.2, l)
    }
  }

  test("plan: the formatted initial plan, the AQE-final plan and one counts line") {
    val text = run("plan", "q02_filter_revenue").mkString("\n")
    assert(text.contains("--- explain(formatted), initial plan ---"))
    assert(text.contains("--- executed plan (AQE final) ---"))
    assert(text.contains("== Final Plan =="), text)
    assert("""AUDIT q02_filter_revenue broadcastJoins=\d+ smj=\d+ shj=\d+ exchanges=\d+ reused=\d+ hashAgg=[1-9]\d*""".r
      .findFirstIn(text).nonEmpty, text)
  }

  test("stream: a stream query's start, its batches with rows and durationMs, and its stop") {
    // Every stream query. Their micro-batches must really happen: the
    // fused one-file landings (q104, q126) feed one batch with rows,
    // every other landing at least two.
    val oneFile = Set("q104_stream_sessions", "q126_stream_outer_join")
    val lines = run("stream", graft.queries.StreamQueries.all.keys.toSeq.sorted: _*)
    val text = lines.mkString("\n")
    for (name <- graft.queries.StreamQueries.all.keys) {
      val mine = lines.filter(_.startsWith(s"STREAM $name "))
      assert(mine.exists(_.startsWith(s"STREAM $name start ")), text)
      assert(mine.exists(_.startsWith(s"STREAM $name stop ")), text)
      val batches = mine.filter(_.matches(s"STREAM $name batch=\\d+ .*rows=\\d+ .*durationMs\\[.*triggerExecution=\\d+.*\\]"))
      val withRows = batches.count(!_.contains(" rows=0 "))
      assert(withRows >= (if (oneFile(name)) 1 else 2), s"$name: $withRows batches with rows\n$text")
      assert(mine.last.matches(s"STREAM $name total=.* rows=[1-9]\\d*"), mine.last)
    }
  }
}
