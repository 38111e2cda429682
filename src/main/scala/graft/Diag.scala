package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import scala.collection.mutable

/** The diagnostic main: where a query's time goes, and which plan it
  * actually ran. At sf0.1 the suite is bound by driver overhead, so the
  * two views worth keeping are the per-job / driver-gap split and the
  * executed (post-AQE) plan.
  *
  * Usage (reads `$SPARK_GRAFT_SF_DIR`, default sf0.1; writes stdout):
  * {{{
  *   ./run.sh graft.Diag jobs q141_label_propagation
  *   ./run.sh graft.Diag plan q139_triangle_census,q150_triangle_standing_fold
  * }}}
  */
object Diag {

  /** One Spark job of a measured pass; times are the scheduler's
    * epoch millis. */
  final case class Job(id: Int, startMs: Long, endMs: Long, site: String,
      tasks: Int, taskMs: Long, shuffleReadB: Long, shuffleWriteB: Long)

  /** A measured pass: `wallS` builds the DataFrame and runs it (fresh
    * analysis, optimization, AQE and codegen), `rerunS` runs the SAME
    * DataFrame again, so their difference is the compile share. */
  final case class JobsReport(wallS: Double, rerunS: Double,
      jobs: Seq[Job]) {
    /** Seconds during which at least one job ran — concurrent AQE query
      * stages overlap, so this is the union of job intervals, not
      * their sum. `wallS - jobTimeS` is driver-only time. */
    def jobTimeS: Double = {
      var busy = 0L; var until = Long.MinValue
      jobs.sortBy(_.startMs).foreach { j =>
        busy += math.max(0L, j.endMs - math.max(j.startMs, until))
        until = math.max(until, j.endMs)
      }
      busy / 1e3
    }

    def render(label: String): String = {
      val sb = new StringBuilder(f"== $label measured pass: wall $wallS%.3f s" +
        f" (same-DataFrame re-run $rerunS%.3f s), ${jobs.size} jobs ==\n")
      var prevEnd = 0L
      jobs.sortBy(_.startMs).foreach { j =>
        // 0 while an earlier job still runs (concurrent AQE stages)
        val gap =
          if (prevEnd == 0L) 0.0 else math.max(0L, j.startMs - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, j.endMs)
        sb.append(f"job ${j.id}%3d  ${(j.endMs - j.startMs) / 1e3}%7.3f s" +
          f"  (driver gap $gap%6.3f s)  tasks ${j.tasks}%4d" +
          f"  taskTime ${j.taskMs / 1e3}%7.2f s" +
          f"  shufR ${j.shuffleReadB / 1e6}%8.2f MB" +
          f"  shufW ${j.shuffleWriteB / 1e6}%8.2f MB  ${j.site}\n")
      }
      sb.append(f"job time $jobTimeS%.3f s; driver-only (wall - job time," +
        f" incl. planning/codegen) ${wallS - jobTimeS}%.3f s\n")
      sb.toString
    }
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Profile `df` per Spark job. `df` is BY NAME and evaluated once per
    * pass, because many queries run eager jobs (local checkpoints,
    * engine fixtures) while the DataFrame is built: one untimed warm-up
    * pass (JIT, codegen), then one measured pass with a listener on the
    * jobs this thread submits, then a re-run of the measured DataFrame.
    * Only jobs tagged from this thread are counted, so jobs another
    * thread runs meanwhile do not leak in. */
  def jobs(spark: SparkSession, df: => DataFrame): JobsReport = {
    val sc = spark.sparkContext
    noop(df)
    val tag = s"graft-diag-${System.nanoTime()}"
    val drainTag = s"$tag-drain"
    val rows = mutable.LinkedHashMap.empty[Int, Job]
    val stageToJob = mutable.Map.empty[Int, Int]
    val drained = new CountDownLatch(1)
    var drainJob = -1
    def tagged(e: SparkListenerJobStart, t: String): Boolean =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .exists(_.split(',').contains(t))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        rows.synchronized {
          if (tagged(e, drainTag)) drainJob = e.jobId
          else if (tagged(e, tag)) {
            // the job's description, else its result stage's call site
            val site = Option(e.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
              .getOrElse("")
            rows(e.jobId) = Job(e.jobId, e.time, e.time, site, 0, 0L, 0L, 0L)
            e.stageIds.foreach(stageToJob(_) = e.jobId)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        rows.synchronized {
          if (e.jobId == drainJob) drained.countDown()
          rows.get(e.jobId).foreach(j => rows(e.jobId) = j.copy(endMs = e.time))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        rows.synchronized {
          val s = e.stageInfo
          stageToJob.get(s.stageId).flatMap(rows.get).foreach { j =>
            val m = s.taskMetrics
            rows(j.id) = j.copy(tasks = j.tasks + s.numTasks,
              taskMs = j.taskMs + m.executorRunTime,
              shuffleReadB = j.shuffleReadB + m.shuffleReadMetrics.totalBytesRead,
              shuffleWriteB = j.shuffleWriteB + m.shuffleWriteMetrics.bytesWritten)
          }
        }
    }
    sc.addSparkListener(listener)
    try {
      var measured: DataFrame = null
      sc.addJobTag(tag)
      val wall =
        try seconds { measured = df; noop(measured) }
        finally sc.removeJobTag(tag)
      val rerun = seconds(noop(measured))
      // the listener bus delivers events in order: once a later job's
      // end arrives, every measured job's events have too
      sc.addJobTag(drainTag)
      try sc.parallelize(Seq(0), 1).count() finally sc.removeJobTag(drainTag)
      drained.await(30, TimeUnit.SECONDS)
      rows.synchronized(JobsReport(wall, rerun, rows.values.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  /** Run `df` to completion with `collect()`, then return its formatted
    * EXECUTED plan. With AQE the final plan (join-strategy rewrites,
    * coalesced shuffles) exists only after this DataFrame's own
    * QueryExecution has run — a `.write` wraps the plan in a separate
    * QueryExecution — so an explain before the run, or after a write,
    * prints `isFinalPlan=false` with the initial shapes. */
  def plan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: graft.Diag jobs <query> | plan <q1,q2,...>"
    require(args.length == 2, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-diag")
    spark.sparkContext.setLogLevel("ERROR")
    try args(0) match {
      case "jobs" =>
        val q = args(1)
        print(jobs(spark, SparkEntry.queries(q)(spark, sfDir)).render(q))
      case "plan" =>
        args(1).split(',').foreach { q =>
          println(s"== $q (sf dir $sfDir) ==")
          print(plan(SparkEntry.queries(q)(spark, sfDir)))
        }
      case other => throw new IllegalArgumentException(s"$other: $usage")
    } finally spark.stop()
  }
}
