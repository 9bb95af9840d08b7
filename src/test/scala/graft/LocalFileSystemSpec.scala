package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Enrich
import graft.extensions.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.pipeline.SocialPipeline
import graft.sources.DataSkipping
import graft.streaming.SocialStream

/** The engine's local filesystem: [[NioRawLocalFileSystem]] gives what
  * Hadoop's stock `RawLocalFileSystem` gives, every session resolves
  * `file:` to it, and the daily batch, the stream refresh and a manifest
  * update start no process.
  */
class LocalFileSystemSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def initialized[F <: FileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private val stock = initialized(new RawLocalFileSystem)
  private val nio = initialized(new NioRawLocalFileSystem)

  /** The full mode of `p` as the OS reports it, sticky bit included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** A file and a dir for each of the two filesystems. */
  private def targets(): Seq[(java.nio.file.Path, java.nio.file.Path)] = {
    val d = TestSpark.tempDir("graft-perm")
    Seq("file", "dir").map { kind =>
      val pair = (d.resolve(s"$kind-stock"), d.resolve(s"$kind-nio"))
      Seq(pair._1, pair._2).foreach(p =>
        if (kind == "file") Files.write(p, Array[Byte](1, 2)) else Files.createDirectory(p))
      pair
    }
  }

  test("setPermission leaves the same mode as the stock filesystem, sticky bit included") {
    // a POSIX permission set has no sticky bit: 1777 reads back with it only
    // because the sticky mode takes the stock path
    val modes = Seq("0000", "0600", "0644", "0700", "0755", "0777", "1777")
    for (m <- modes.map(Integer.parseInt(_, 8)); (a, b) <- targets()) {
      val perm = new FsPermission(m.toShort)
      stock.setPermission(new Path(a.toUri), perm)
      nio.setPermission(new Path(b.toUri), perm)
      assert(mode(a) == m && mode(b) == m, f"mode $m%04o on $b")
    }
  }

  test("getFileLinkStatus gives the stock status on files, dirs, symlinks and missing paths") {
    val d = TestSpark.tempDir("graft-link")
    val file = Files.write(d.resolve("f"), "abc".getBytes("UTF-8"))
    val dir = Files.createDirectory(d.resolve("d"))
    val link = Files.createSymbolicLink(d.resolve("link"), file)
    val dangling = Files.createSymbolicLink(d.resolve("dangling"), d.resolve("gone"))
    // a status's type, symlink target and length, or the exception class
    def view(fs: FileSystem, p: Path): Any = try {
      val s = fs.getFileLinkStatus(p)
      (s.isFile, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null, s.getLen)
    } catch { case e: java.io.IOException => e.getClass }
    // Hadoop qualifies most paths (`file:/...`); the stock readlink sees a
    // symlink only through a bare one
    val bare = Seq(file, dir, link, dangling, d.resolve("missing")).map(p => new Path(p.toString))
    for (p <- bare ++ bare.map(p => new Path(p.toUri.toString).makeQualified(nio.getUri, null)))
      assert(view(nio, p) == view(stock, p), p)
    assert(view(nio, bare(2)) == ((false, false, true, new Path(file.toUri), 3L)))
    assert(view(nio, bare(3)) == ((false, false, true, new Path(d.resolve("gone").toUri), 0L)))
    assert(view(nio, bare(4)) == classOf[FileNotFoundException])
  }

  test("the session resolves file: to the engine filesystem, through FileSystem and FileContext") {
    val conf = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(URI.create("file:///"), conf)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[NioLocalFileSystem].getRaw.isInstanceOf[NioRawLocalFileSystem])
    val fc = FileContext.getFileContext(URI.create("file:///"), conf).getDefaultFileSystem
    assert(fc.isInstanceOf[NioLocalFs], fc.getClass)
  }

  test("a FileSystem rename onto an existing file fails and keeps both files") {
    val fs = FileSystem.get(URI.create("file:///"), spark.sessionState.newHadoopConf())
    val d = TestSpark.tempDir("graft-rename")
    val Seq(a, b, c) = Seq("a", "b", "c").map { n =>
      val p = new Path(d.resolve(n).toUri)
      val out = fs.create(p); out.write(n.getBytes("UTF-8")); out.close(); p
    }
    assert(!fs.rename(a, b))
    assert(fs.getFileStatus(a).getLen == 1 && fs.exists(b))
    fs.delete(c, false)
    assert(fs.rename(a, c) && !fs.exists(a) && fs.exists(c))
  }

  /** Threads that clean up after earlier suites of the shared test JVM at
    * times of their own: Spark's session-artifact cleaner (run by the GC)
    * and the state-store maintenance thread (closing idle stores of
    * earlier streams). Both fork `rm -rf` (Spark's own deleteRecursively),
    * never for `body`'s work. */
  private def background(e: RecordedEvent): Boolean =
    Option(e.getThread).map(_.getJavaName)
      .exists(n => n.startsWith("Cleaner-") || n.startsWith("state-store-maintenance"))

  /** The processes started while `body` runs, outside [[background]]
    * threads, as `jdk.ProcessStart` events of a JFR recording that enables
    * nothing else. A recording's dump also holds the events of any other
    * recording running in the JVM (a `-XX:StartFlightRecording` flag), so
    * only that type is kept. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try body finally rec.stop()
      val file = TestSpark.tempDir("graft-jfr").resolve("spawns.jfr")
      rec.dump(file)
      RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !background(e))
    } finally rec.close()
  }

  private def describe(events: Seq[RecordedEvent]): String =
    events.map { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala.take(8)
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < "))
      s"${e.getString("command")} [${frames.getOrElse("")}]"
    }.mkString(s"${events.size} processes started:\n", "\n", "")

  test("a landing, a one-topic daily batch and a two-file refresh drain start no process") {
    val tmp = TestSpark.tempDir("graft-nofork").toString
    val scorer = new Enrich.LexiconScorer(Set("good"), Set("bad"))
    val landing = s"$tmp/drop"
    new java.io.File(landing).mkdirs()
    Seq(Seq("p7"), Seq("p8", "p9")).zipWithIndex.foreach { case (ids, i) =>
      Files.write(Paths.get(s"$landing/b$i.json"), ids.map(id =>
        s"""{"id":"$id","date":"2023-03-25 10:00:00","title":"t","content":"good text $id",""" +
          s""""username":"u$id","commentCount":1,"score":2,"subreddit":"news",""" +
          s""""topic":"ukraine war","dataload":"25-03-2023"}""").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    }
    // the executor's one-time page-size probe forks on its first heartbeat
    org.apache.spark.GraftSparkTestAccess.loadProcfsMetrics()
    val events = processStarts {
      SocialPipeline.writeLanding(Seq(
        ("p1", "2023-03-25 10:00:00", "title", "good content here", "alice", 1, 10, "news", "ukraine war", "25-03-2023"))
        .toDF("id", "date", "title", "content", "username", "commentCount", "score", "subreddit", "topic", "dataload"),
        s"$tmp/posts")
      SocialPipeline.writeLanding(Seq(
        ("c1", "2023-03-25 10:05:00", "bad comment text", "frank", 1, "p1", "p1", "ukraine war", "25-03-2023"))
        .toDF("id", "date", "content", "username", "score", "post_id", "parent_id", "topic", "dataload"),
        s"$tmp/comments")
      SocialPipeline.writeLanding(Seq(
        (900000000000000001L, "2023-03-25 10:07:00", "good tweet", "grace", "alice", "ukraine war", "25-03-2023"))
        .toDF("id", "date", "content", "username", "mentionedUsers", "topic", "dataload"),
        s"$tmp/tweets")
      SocialPipeline.runDaily(spark, s"$tmp/posts", s"$tmp/comments", s"$tmp/tweets",
        "ukraine war", "25-03-2023", s"$tmp/daily", Seq("badterm"), scorer)
      val q = SocialStream.runPipeline(spark, landing, s"$tmp/refresh", Seq("badterm"), scorer,
        s"$tmp/ckpt", trigger = Trigger.AvailableNow())
      try assert(q.awaitTermination(120000), "the drain did not finish") finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 2)
    }
    assert(spark.read.parquet(s"$tmp/refresh/posts_enriched.parquet").count() == 3)
    assert(events.isEmpty, describe(events))
  }

  test("updateManifest lists a partitioned table without starting a process") {
    val dir = TestSpark.tempDir("graft-manifest").toString
    (0L until 100L).map(i => (i, i % 3)).toDF("v", "p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val m0 = DataSkipping.buildManifest(spark, dir, "v")
    val n0 = m0.count()
    val events = processStarts(assert(DataSkipping.updateManifest(spark, dir, m0, "v").count() == n0))
    assert(events.isEmpty, describe(events))
  }
}
