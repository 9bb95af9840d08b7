package graft

import java.io.{FileNotFoundException, InputStream, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.enrich.Enrich
import graft.extensions.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import graft.pipeline.SocialPipeline
import graft.sources.DataSkipping
import graft.streaming.SocialStream

/** The engine's local filesystem: [[NioRawLocalFileSystem]] gives what
  * Hadoop's stock `RawLocalFileSystem` gives, an overwriting create replaces
  * a file instead of truncating it, every session resolves `file:` to it,
  * and the daily batch, the stream refresh and a manifest update start no
  * process.
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

  /** The checksum file a checksummed filesystem writes beside `p`. */
  private def crc(p: java.nio.file.Path): java.nio.file.Path = p.resolveSibling(s".${p.getFileName}.crc")

  private def write(out: OutputStream, text: String): Unit =
    try out.write(text.getBytes("UTF-8")) finally out.close()
  private def read(in: InputStream): String =
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  private def read(p: java.nio.file.Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("an overwriting create makes a new file with the stock mode and a valid .crc, through FileSystem and FileContext") {
    val conf = new Configuration()
    val overwrite = EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE)
    /** A create that overwrites and a checksummed open, through one API. */
    final case class Api(name: String, create: Path => OutputStream, open: Path => InputStream)
    def viaFs(fs: FileSystem) = Api("FileSystem", fs.create(_, true), fs.open(_))
    def viaFc(fc: FileContext) = Api("FileContext", fc.create(_, overwrite), fc.open(_))
    val stockFc = FileContext.getLocalFSFileContext(conf)
    assert(stockFc.getDefaultFileSystem.isInstanceOf[LocalFs])
    val pairs = Seq(
      (viaFs(initialized(new LocalFileSystem(new RawLocalFileSystem))), viaFs(initialized(new NioLocalFileSystem))),
      (viaFc(stockFc), viaFc(FileContext.getFileContext(new NioLocalFs(URI.create("file:///"), conf), conf))))
    val d = TestSpark.tempDir("graft-overwrite")
    for ((stockApi, nioApi) <- pairs) {
      val Seq(a, b) = Seq("stock", "nio").map(side => d.resolve(s"${nioApi.name}-$side"))
      for ((api, p) <- Seq(stockApi -> a, nioApi -> b)) write(api.create(new Path(p.toUri)), "old")
      // hard links keep each old file in use, so a new file cannot take its
      // inode number: the stock create truncates both files in place, the
      // engine's replaces both
      val files = Seq(a, crc(a), b, crc(b))
      val held = files.map(p => Files.createLink(d.resolve(s"held-${p.getFileName}"), p))
      for ((api, p) <- Seq(stockApi -> a, nioApi -> b)) write(api.create(new Path(p.toUri)), "new bytes")
      val clue = s"through ${nioApi.name}"
      assert(files.zip(held).map { case (p, h) => Files.isSameFile(p, h) } == Seq(true, true, false, false), clue)
      assert(read(held(2)) == "old", clue)
      // the checksummed read verifies the new bytes against the new .crc
      assert(read(nioApi.open(new Path(b.toUri))) == "new bytes", clue)
      assert(read(stockApi.open(new Path(a.toUri))) == "new bytes", clue)
      assert(mode(b) == mode(a) && mode(crc(b)) == mode(crc(a)), clue)
    }
  }

  test("an append keeps the inode, a symlink stays a link and a directory fails, as with the stock class") {
    val d = TestSpark.tempDir("graft-create")
    // per side: whether the appended file is the same file and its text,
    // whether the link is still a link, whether its target is the same file
    // and its text, and the directory create's error
    def run(fs: FileSystem, side: String) = {
      val file = Files.write(d.resolve(s"file-$side"), "ab".getBytes("UTF-8"))
      val target = Files.write(d.resolve(s"target-$side"), "old".getBytes("UTF-8"))
      val link = Files.createSymbolicLink(d.resolve(s"link-$side"), target)
      val dir = Files.createDirectory(d.resolve(s"dir-$side"))
      val Seq(heldFile, heldTarget) = Seq(file, target).map(p => Files.createLink(d.resolve(s"held-${p.getFileName}"), p))
      write(fs.append(new Path(file.toUri)), "cd")
      write(fs.create(new Path(link.toUri), true), "new")
      val dirError = Try(fs.create(new Path(dir.toString), true).close()).failed.toOption.map(_.getClass)
      (Files.isSameFile(file, heldFile), read(file), Files.isSymbolicLink(link), Files.isSameFile(target, heldTarget),
        read(target), Files.isDirectory(dir), dirError)
    }
    val got = run(nio, "nio")
    assert(got == run(stock, "stock"))
    assert(got == ((true, "abcd", true, true, "new", true, Some(classOf[FileNotFoundException]))))
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

  test("a landing, a one-topic daily batch and a three-file refresh drain start no process") {
    val tmp = TestSpark.tempDir("graft-nofork").toString
    val scorer = new Enrich.LexiconScorer(Set("good"), Set("bad"))
    val landing = s"$tmp/drop"
    new java.io.File(landing).mkdirs()
    // b0 and b1 are landed before the refresh starts, b2 between its 2nd
    // and 3rd micro-batch; each is written beside the landing and moved in
    Seq(Seq("p7"), Seq("p8", "p9"), Seq("p10")).zipWithIndex.foreach { case (ids, i) =>
      Files.write(Paths.get(s"$tmp/b$i.json"), ids.map(id =>
        s"""{"id":"$id","date":"2023-03-25 10:00:00","title":"t","content":"good text $id",""" +
          s""""username":"u$id","commentCount":1,"score":2,"subreddit":"news",""" +
          s""""topic":"ukraine war","dataload":"25-03-2023"}""").mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    }
    def land(i: Int): Unit =
      Files.move(Paths.get(s"$tmp/b$i.json"), Paths.get(s"$landing/b$i.json"), StandardCopyOption.ATOMIC_MOVE)
    Seq(0, 1).foreach(land)
    // the refresh's posts sink rewrites its `_SUCCESS` marker and `.crc` on
    // every commit; a hard link taken after the 2nd keeps that file's inode
    // in use, so the 3rd commit's file is the same file only if it was
    // truncated in place
    val sink = Paths.get(s"$tmp/refresh/posts_enriched.parquet")
    val markers = Seq("_SUCCESS", "._SUCCESS.crc").map(sink.resolve)
    val held = markers.map(m => Paths.get(s"$tmp/held${m.getFileName}"))
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
        s"$tmp/ckpt", trigger = Trigger.ProcessingTime("100 milliseconds"))
      try {
        q.processAllAvailable()
        markers.zip(held).foreach { case (m, h) => Files.createLink(h, m) }
        land(2)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.recentProgress.count(_.numInputRows > 0) == 3)
    }
    assert(spark.read.parquet(sink.toString).count() == 4)
    markers.zip(held).foreach { case (m, h) => assert(!Files.isSameFile(m, h), s"$m was truncated in place") }
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
