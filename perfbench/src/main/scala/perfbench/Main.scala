package perfbench

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and window, its
  * scratch directory, and what it reports into. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val traced: Boolean, val work: String, val out: Out) {
  val tracer = new Tracer(traced)
  lazy val listeners: Listeners = new Listeners(spark)
  private var setupTimes = Seq.empty[Double]

  /** Time `k` independent set-ups, disposing of each but the last, which
    * is kept; report the median as `setup_s`. Warm-up is not part of a
    * set-up: it runs once, on the kept one. */
  def setups[T](k: Int)(mk: Int => T)(dispose: T => Unit): T = {
    val made = (0 until k).map { i =>
      val t0 = System.nanoTime()
      val r = mk(i)
      setupTimes :+= (System.nanoTime() - t0) / 1e9
      if (i < k - 1) dispose(r)
      r
    }
    out.note("setup_s_each", setupTimes.map(t => f"$t%.3f").mkString(" "))
    out.metric("setup_s", Stats.median(setupTimes), "s")
    made.last
  }

  def dir(name: String): String = {
    val p = java.nio.file.Paths.get(work, name)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Start the listeners and the tracer's Spark-side counts. */
  def startTracing(): Unit = if (traced) listeners.start()
}

/** The end-to-end metrics both workloads report, each for its own
  * transport (see perfbench/README.md). */
object E2E {
  def report(ctx: Ctx, rowsPerS: Double, freshnessMs: Seq[Double], storeAmp: Double): Unit = {
    ctx.out.metric("ingest_rows_per_s", rowsPerS, "rows/s")
    ctx.out.metric("freshness_mean_ms", Stats.mean(freshnessMs), "ms")
    ctx.out.metric("store_amp", storeAmp, "ratio")
    ctx.out.named("freshness_p50_ms", Stats.median(freshnessMs), "ms")
    ctx.out.named("freshness_p90_ms", Stats.pct(freshnessMs, 90), "ms")
    ctx.out.note("freshness_samples", freshnessMs.size)
  }

  /** Completions per second: (n - 1) over the time from the first
    * completion to the last, which does not depend on where the window
    * cut. */
  def rate(doneNs: Seq[Long]): Double =
    if (doneNs.size < 2) Double.NaN
    else (doneNs.size - 1) / ((doneNs.max - doneNs.min) / 1e9)
}

object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local("perfbench", "4")
    val out = new Out
    out.note("session_ready_s", (System.currentTimeMillis() - jvmStartMs) / 1e3)
    out.note("spark_version", spark.version)
    out.note("spark_cores", spark.sparkContext.defaultParallelism)
    out.note("heap_max_mb", Runtime.getRuntime.maxMemory() >> 20)
    out.note("jdk", System.getProperty("java.version"))
    val ctx = new Ctx(spark, arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", arg("work"), out)
    // same seed -> the same payloads; another seed -> others
    def seeded[T](f: Long => T) = f(ctx.seed) == f(ctx.seed) && f(ctx.seed) != f(ctx.seed + 1)
    out.check("seeded payloads: same seed same bytes, other seed other bytes",
      seeded(PutIngest.body(_, 0, 1)) && seeded(MqttStream.message(_, 1)))
    val status =
      try {
        workload match {
          case "put_ingest" => PutIngest.run(ctx)
          case "mqtt_stream" => MqttStream.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        out.named("peak_rss_mb", Stats.peakRssMb(), "MB")
        out.metric("heap_live_mb", Stats.liveHeapMb(), "MB")
        if (ctx.traced) ctx.tracer.write(s"${ctx.work}/spans.jsonl")
        0
      } catch { case e: Throwable =>
        e.printStackTrace()
        out.count(ok = false)
        out.check("workload completed", ok = false,
          s"${e.getClass.getSimpleName}: ${e.getMessage}")
        1
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("out")), out.json)
    spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    spark.stop()
    // msg clients, brokers and HTTP servers own non-daemon threads
    System.exit(status)
  }
}
