package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** 100×-shape rehearsal of the end-to-end corpus build (q242) at the
  * largest local scale (VERDICT r11 item 7): runs the composed pipeline
  * once at the given SF dir, prints the per-stage funnel (rows surviving
  * raw → dedup → quality → decontam) so the funnel arithmetic is checked
  * end-to-end, and aggregates every Spark stage's input/shuffle volumes
  * so the DOMINANT EXCHANGE is measured, not guessed. Writes the report
  * to CORPUSBUILD_r13.md in cwd. Not part of the driver contract.
  *
  * r13: the corpus is first laid out MANY-FILE (64 files, the shape every
  * real corpus has — at 100 TB a table is thousands of files) so the dedup
  * kernels take their scale path: hashes compute inside the scan stage and
  * corpus text never reaches an exchange (Dedup.widenNarrowInput). The
  * r12 rehearsal on the single-file fixture measured the alternative —
  * corpus text round-robin shuffled twice (2× 8.6 MB, the top-2 stages) —
  * which this layout must eliminate. Prep I/O is excluded from accounting.
  */
object CorpusRehearsal {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata_sf1")
    val spark = GraftSession()

    case class St(id: Int, tasks: Int, durMs: Long, inMB: Double,
                  swMB: Double, srMB: Double, swRec: Long, name: String)
    val stages = scala.collection.mutable.ArrayBuffer[St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += St(si.stageId, si.numTasks,
            (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L),
            m.inputMetrics.bytesRead / 1048576.0,
            m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            m.shuffleReadMetrics.totalBytesRead / 1048576.0,
            m.shuffleWriteMetrics.recordsWritten,
            si.name.takeWhile(_ != '\n').take(70))
        }
      }
    })

    // Prep (excluded from accounting): lay the corpus out many-file — the
    // layout any real corpus has — so the hash kernels take the scale path.
    val rehearsalDir = java.nio.file.Files
      .createTempDirectory("corpus_rehearsal").toString
    spark.read.parquet(s"$dir/documents.parquet").repartition(64)
      .write.mode("overwrite").parquet(s"$rehearsalDir/documents.parquet")
    stages.synchronized { stages.clear() }

    val sb = new StringBuilder
    sb ++= s"# CORPUSBUILD_r13 — q242 end-to-end rehearsal at ${dir}\n\n"
    sb ++= "Corpus layout: 64 parquet files (files ≥ cores ⇒ the dedup " +
      "kernels hash scan-local; text never exchanged). Layout prep excluded " +
      "from the accounting below.\n\n"
    val load1 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    sb ++= f"load1 at start: $load1%.2f\n\n"

    val t0 = System.nanoTime()
    val rows = SparkEntry.queries("q242_corpus_build")(spark, rehearsalDir)
      .collect()
    val wall = (System.nanoTime() - t0) / 1e9

    sb ++= "## Funnel (per lang): raw -> dedup -> quality -> decontam\n\n"
    sb ++= "| lang | n_raw | n_dedup | n_quality | n_final | toks_final |\n"
    sb ++= "|---|---|---|---|---|---|\n"
    var (raw, ded, qua, fin, tok) = (0L, 0L, 0L, 0L, 0L)
    rows.foreach { r =>
      sb ++= s"| ${r.getString(0)} | ${r.getLong(1)} | ${r.getLong(2)} | " +
        s"${r.getLong(3)} | ${r.getLong(4)} | ${r.getLong(5)} |\n"
      raw += r.getLong(1); ded += r.getLong(2); qua += r.getLong(3)
      fin += r.getLong(4); tok += r.getLong(5)
    }
    sb ++= f"| TOTAL | $raw | $ded | $qua | $fin | $tok |\n\n"
    // The funnel must be monotone — a stage that GAINS rows is a bug.
    require(raw >= ded && ded >= qua && qua >= fin,
      s"funnel not monotone: $raw -> $ded -> $qua -> $fin")
    sb ++= f"Funnel survival: dedup ${100.0 * ded / raw}%.1f%% -> quality " +
      f"${100.0 * qua / raw}%.1f%% -> final ${100.0 * fin / raw}%.1f%% of raw. " +
      f"Wall: $wall%.1f s (single cold run incl. session + planning).\n\n"

    val snap = stages.synchronized { stages.toVector }
    val totIn = snap.map(_.inMB).sum
    val totSw = snap.map(_.swMB).sum
    val totSr = snap.map(_.srMB).sum
    sb ++= f"## Exchange volumes\n\nTotal: input ${totIn}%.1f MB, " +
      f"shuffle write ${totSw}%.1f MB, shuffle read ${totSr}%.1f MB " +
      f"across ${snap.size} stages.\n\n"
    sb ++= "Top 10 stages by shuffle write:\n\n"
    sb ++= "| stage | tasks | dur ms | input MB | shuf write MB | shuf read MB | write rec | name |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    snap.sortBy(-_.swMB).take(10).foreach { s =>
      sb ++= f"| ${s.id} | ${s.tasks} | ${s.durMs} | ${s.inMB}%.1f | " +
        f"${s.swMB}%.1f | ${s.srMB}%.1f | ${s.swRec} | ${s.name} |\n"
    }
    sb ++= "\nTop 5 stages by duration:\n\n"
    sb ++= "| stage | tasks | dur ms | input MB | shuf write MB | shuf read MB | name |\n"
    sb ++= "|---|---|---|---|---|---|---|\n"
    snap.sortBy(-_.durMs).take(5).foreach { s =>
      sb ++= f"| ${s.id} | ${s.tasks} | ${s.durMs} | ${s.inMB}%.1f | " +
        f"${s.swMB}%.1f | ${s.srMB}%.1f | ${s.name} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("CORPUSBUILD_r13.md"),
      sb.toString.getBytes("UTF-8"))
    println(sb.toString)
    spark.stop()
  }
}
