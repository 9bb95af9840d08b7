package graft

import java.io.PrintStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Where a SparkEntry query's time goes, one mode per question:
  *
  *   runMain graft.Profile <layers|stages|plan|stream> <sfDir> <query…|ALL>
  *
  *  - `layers`: a warm run, then 2 reps, each with its build and action
  *    wall, job / stage / task counts, summed task and stage time, and the
  *    action's Catalyst phase times — DRIVER work (planning, many actions)
  *    vs EXECUTOR work (stages, shuffles).
  *  - `stages`: `layers` plus one line per stage with over 200 ms of task time.
  *  - `plan`: the formatted initial plan, the AQE-final executed plan (after
  *    a collect) and a one-line count of join, exchange and aggregate nodes.
  *  - `stream`: every streaming query the named queries run — its start,
  *    each micro-batch's input rows and `durationMs`, and its stop.
  *
  * Output goes to stdout; redirect it to keep a dump. A tool, not one of
  * the contract mains (Verify, Bench, Smoke).
  */
object Profile {
  type Mode = (SparkSession, String, Seq[String], PrintStream) => Unit

  val modes: Map[String, Mode] = Map(
    "layers" -> (profile(_, _, _, _, stageDetail = false)),
    "stages" -> (profile(_, _, _, _, stageDetail = true)),
    "plan" -> plan,
    "stream" -> stream)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && modes.contains(args(0)),
      "usage: graft.Profile <layers|stages|plan|stream> <sfDir> <query…|ALL>")
    val names =
      if (args.drop(2).toSeq == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
      else QueryFilter.select(args.toSeq.drop(2), SparkEntry.queries.contains)
    val spark = GraftSession()
    try modes(args(0))(spark, args(1), names, System.out) finally spark.stop()
  }

  /** Runs `body` with `listener` attached and the listener bus drained
    * before it returns, so the listener has seen every event of `body`. */
  private def listening[A](spark: SparkSession, listener: SparkListener)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try { val a = body; GraftSparkAccess.drainListenerBus(sc); a }
    finally sc.removeSparkListener(listener)
  }

  /** Job, stage and task totals of one run. */
  private final class Totals extends SparkListener {
    var jobs, stages, tasks = 0
    var taskMs, stageMs = 0L
    val stageTaskMs = mutable.Map[Int, Long]().withDefaultValue(0L)
    val completed = mutable.ArrayBuffer[StageInfo]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      completed += e.stageInfo
      for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime) stageMs += c - s
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo != null) {
        taskMs += e.taskInfo.duration
        stageTaskMs(e.stageId) += e.taskInfo.duration
      }
    }
  }

  private def profile(spark: SparkSession, dir: String, names: Seq[String],
                      out: PrintStream, stageDetail: Boolean): Unit =
    for (name <- names; label <- Seq("warm", "rep1", "rep2")) {
      val t = new Totals
      val (build, action, phases) = listening(spark, t) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        val t1 = System.nanoTime()
        // Dataset.count() is exactly this aggregate; holding it keeps the
        // action's own query execution, whose tracker has the phase times.
        // The build step may itself run jobs (checkpoints, streams): those
        // show in the build wall and the job counts.
        val counted = df.groupBy().count()
        counted.collect()
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9,
          counted.queryExecution.tracker.phases.toSeq.sortBy(_._2.startTimeMs)
            .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }.mkString(" "))
      }
      t.synchronized {
        out.println(f"PROFILE $name%-28s $label build=$build%6.3f s action=$action%6.3f s " +
          f"total=${build + action}%6.3f s jobs=${t.jobs}%3d stages=${t.stages}%3d " +
          f"tasks=${t.tasks}%5d taskTime=${t.taskMs / 1000.0}%7.2f s " +
          f"stageTime=${t.stageMs / 1000.0}%7.2f s phases[$phases]")
        if (stageDetail) for (si <- t.completed if t.stageTaskMs(si.stageId) > 200)
          out.println(f"STAGE id=${si.stageId}%4d tasks=${si.numTasks}%4d " +
            f"taskTime=${t.stageTaskMs(si.stageId) / 1000.0}%7.2f s  " +
            si.name.takeWhile(_ != '\n').take(120))
      }
    }

  private def plan(spark: SparkSession, dir: String, names: Seq[String], out: PrintStream): Unit =
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val formatted = df.queryExecution.explainString(FormattedMode)
      df.collect() // settle AQE on its final plan
      val executed = df.queryExecution.executedPlan.toString
      // an adaptive plan prints its final plan first, then the initial one
      val finalPlan = executed.split("== Initial Plan ==")(0)
      def count(marker: String) = finalPlan.linesIterator.count(_.contains(marker))
      out.println(s"===== $name\n--- explain(formatted), initial plan ---\n$formatted" +
        s"\n--- executed plan (AQE final) ---\n$executed")
      out.println(s"AUDIT $name broadcastJoins=${count("BroadcastHashJoin")} " +
        s"smj=${count("SortMergeJoin")} shj=${count("ShuffledHashJoin")} " +
        s"exchanges=${count("Exchange")} reused=${count("ReusedExchange")} " +
        s"hashAgg=${count("HashAggregate")}")
    }

  /** The queries run their streams in cloned sessions, whose own
    * StreamingQueryManager listeners a listener on `spark` never sees;
    * every session posts its streaming events to the shared SparkContext
    * bus, so they are read there. */
  private def stream(spark: SparkSession, dir: String, names: Seq[String], out: PrintStream): Unit =
    for (name <- names) {
      val queryNames = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: QueryStartedEvent =>
            queryNames.put(s.runId, String.valueOf(s.name))
            out.println(s"STREAM $name start query=${s.name} at=${s.timestamp}")
          case p: QueryProgressEvent =>
            val pr = p.progress
            val phases = pr.durationMs.asScala.toSeq.sorted
              .map { case (k, v) => s"$k=$v" }.mkString(" ")
            out.println(s"STREAM $name batch=${pr.batchId} query=${pr.name} " +
              s"rows=${pr.numInputRows} at=${pr.timestamp} durationMs[$phases]")
          case t: QueryTerminatedEvent =>
            out.println(s"STREAM $name stop query=${queryNames.get(t.runId)}" +
              t.exception.fold("")(x => s" exception=${x.takeWhile(_ != '\n')}"))
          case _ =>
        }
      }
      val t0 = System.nanoTime()
      val rows = listening(spark, listener)(SparkEntry.queries(name)(spark, dir).count())
      out.println(f"STREAM $name total=${(System.nanoTime() - t0) / 1e9}%.3f s rows=$rows")
    }
}
