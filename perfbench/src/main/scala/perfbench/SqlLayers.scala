package perfbench

import graft.dialect.EdgeSql
import graft.engine.{Engine, Render}

/** Splits `sql` commands by layer, replaying them in-process one at a
  * time: dialect parse, `Engine.query` (serving decision, compile,
  * analysis), Catalyst phases, rendering (execution) with its Spark jobs
  * and the driver gap between them, then `Engine.execute` against the
  * same command over one HTTP connection. Needs a traced run. */
object SqlLayers {
  def split(ctx: Ctx, engine: Engine, port: Int, cmds: Seq[String],
      basePath: String): Unit = {
    val out = ctx.out
    val l = ctx.listeners
    val sc = ctx.spark.sparkContext
    var served = 0
    val gaps, execMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val jobCounts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
    val ph = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double)]
    cmds.zipWithIndex.foreach { case (c, i) =>
      val group = s"perfbench-sql-$i"
      sc.setJobGroup(group, "sql", interruptOnCancel = false)
      val fromMs = System.currentTimeMillis()
      ctx.tracer.span("request") {
        ctx.tracer.span("dialect.parse")(EdgeSql.parseSelect(EdgeSql.parseCommand(c).select))
        val df = ctx.tracer.span("engine.query")(engine.query(c))
        val analysis = df.queryExecution.tracker.phases.get("analysis")
          .map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        val t0 = System.nanoTime()
        ctx.tracer.span("spark.exec")(Render.json(df))
        val t1 = System.nanoTime()
        execMs += Stats.ms(t0, t1)
        val jobs = l.jobsInGroup(group)
        val intervals = jobs.map(j => (ctx.tracer.nanosOf(j.start), ctx.tracer.nanosOf(j.end)))
        val exec = ctx.tracer.named("spark.exec").lastOption
        intervals.foreach { case (s, e) => ctx.tracer.add("spark.job", exec, s, e) }
        gaps += math.max(0.0, (t1 - t0 - Stats.unionLength(intervals)) / 1e6)
        jobCounts += ((jobs.size, jobs.map(_.tasks).sum, jobs.map(_.taskMs).sum))
        val later = l.phasesBetween(fromMs, System.currentTimeMillis())
        ph += ((analysis + later.map(_.analysis).sum,
          later.map(_.optimization).sum, later.map(_.planning).sum))
        if (!Stats.readsUnder(df, basePath)) served += 1
      }
      sc.clearJobGroup()
    }
    val n = cmds.size.toDouble
    out.metric("dialect.parse_ms", ctx.tracer.meanSelfMs("dialect.parse"), "ms")
    out.metric("engine.query_ms", ctx.tracer.meanSelfMs("engine.query"), "ms")
    out.metric("spark.analysis_ms", Stats.mean(ph.map(_._1).toSeq), "ms")
    out.metric("spark.optimization_ms", Stats.mean(ph.map(_._2).toSeq), "ms")
    out.metric("spark.planning_ms", Stats.mean(ph.map(_._3).toSeq), "ms")
    out.metric("spark.exec_ms", Stats.mean(execMs.toSeq), "ms")
    out.metric("spark.gap_ms_per_query", Stats.mean(gaps.toSeq), "ms")
    out.metric("spark.jobs_per_query", jobCounts.map(_._1).sum / n, "count")
    out.metric("spark.tasks_per_query", jobCounts.map(_._2).sum / n, "count")
    out.metric("spark.task_ms_per_query", jobCounts.map(_._3).sum / n, "ms")
    out.metric("dialect.served_frac", served / n, "ratio")

    def timed(f: String => Any) = cmds.map { c =>
      val t0 = System.nanoTime(); f(c); Stats.ms(t0, System.nanoTime())
    }
    val exec = timed(engine.execute)
    val one = new Http(port)
    val viaHttp = timed(one.get)
    out.metric("engine.execute_ms", Stats.median(exec), "ms")
    out.metric("engine.http_ms", Stats.median(viaHttp) - Stats.median(exec), "ms")
  }
}
