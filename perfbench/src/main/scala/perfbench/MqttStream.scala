package perfbench

import java.util.SplittableRandom

import graft.engine.{Catalog, Engine}
import graft.streaming.MqttBroker

/** `mqtt_stream`: catch-up after a reconnect. One MQTT connection
  * publishes a burst of one-row messages at QoS 1 to the in-repo broker;
  * `run msg client` lands them, `run streamer ... flush = 1` appends them
  * and folds a matview; the burst ends when its last row is visible to a
  * served `sql`. No HTTP. */
object MqttStream {
  val Topic = "bench/sensor"
  // first seq of each burst; `seq` is inferred as an int column from the
  // first row, so every value stays in int range
  val WarmSeq = 900000000L
  val TracedSeq = 500000000L

  def message(seed: Long, seq: Long): String = {
    val r = new SplittableRandom(seed * 1000003L + seq)
    val s = r.nextInt(86400)
    f"""{"seq": $seq, "ts": "2024-01-02 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d", """ +
      f""""device": "d${r.nextInt(20)}%02d", "v": ${r.nextInt(100000) / 100.0}}"""
  }

  final class Node(val cat: Catalog, val engine: Engine, val broker: MqttBroker,
      val port: Int, val dir: String) {
    val watch = s"$dir/watch"
    var visibleRows = 0L // rows the table holds once everything sent has landed
    var payloadBytes = 0L
    def tablePath: String = cat.tablePath("mq").get
    def stop(): Unit = {
      engine.execute("exit streamer mq")
      engine.execute("exit msg client")
      broker.stop()
    }
  }

  private val Visible =
    """sql edge "select device, count(*) as n from mq group by device""""

  /** Rows visible to the served query. */
  def visible(node: Node): Long =
    node.engine.query(Visible).collect().map(_.getAs[Number]("n").longValue).sum

  def setup(ctx: Ctx, i: Int): Node = {
    val broker = new MqttBroker((_, _) => ())
    val port = broker.start()
    val cat = new Catalog(ctx.spark)
    val engine = new Engine(ctx.spark, cat)
    val d = ctx.dir(s"mqtt_stream_$i")
    engine.dataDir = Some(s"$d/data")
    val node = new Node(cat, engine, broker, port, d)
    val first = message(ctx.seed, 0)
    node.visibleRows = engine.ingest("mq", first)
    node.payloadBytes = first.length
    engine.execute(s"matview create where table = mq and path = $d/mv " +
      """and spec = {"keys": ["device"], "aggs": [{"fn": "count", "alias": "n"}, """ +
      """{"fn": "sum", "expr": "cast(v as decimal(18,2))", "alias": "sv"}]}""")
    engine.execute(s"run msg client where broker = 127.0.0.1 and port = $port " +
      s"and topic = bench/# and dir = ${node.watch} and qos = 1")
    engine.execute(s"run streamer where dir = ${node.watch} and table = mq and flush = 1")
    node
  }

  /** A small burst through the whole chain. */
  def warmUp(ctx: Ctx, node: Node): Unit =
    require(burst(ctx, node, 20, WarmSeq, watchLanding = false).complete,
      "warm-up burst never became visible")

  final case class Burst(complete: Boolean, firstMs: Long, drainS: Double,
      pubackMs: Seq[Double], freshnessMs: Seq[Double], pollMs: Seq[Double],
      landedS: Double)

  /** Publish `n` messages (seq from `seq0`) over one connection, then
    * poll the served query until all of them are visible. */
  def burst(ctx: Ctx, node: Node, n: Int, seq0: Long, watchLanding: Boolean): Burst = {
    val target = node.visibleRows + n
    val filesBefore = Stats.du(node.watch)._2
    val pub = new MqttPublisher(node.port, s"perfbench-$seq0")
    // the streamer's 1 s trigger fires on whole wall-clock seconds: start
    // 0.3 s after one, so the first batch finds a full 100 landed files
    // and a burst of N always takes N / 100 batches
    Thread.sleep((1300 - System.currentTimeMillis() % 1000) % 1000)
    val pubAt = new Array[Long](n)
    val pubacks = new Array[Double](n)
    @volatile var landedAt = -1L
    val t0 = System.nanoTime()
    val firstMs = System.currentTimeMillis()
    val lander = if (!watchLanding) None else Some {
      val t = new Thread(() => {
        val deadline = t0 + 150_000_000_000L
        while (landedAt < 0 && System.nanoTime() < deadline) {
          if (Stats.du(node.watch)._2 >= filesBefore + n) landedAt = System.nanoTime()
          else Thread.sleep(10)
        }
      }, "landing-watch")
      t.start(); t
    }
    ctx.tracer.span("mqtt.burst") {
      (0 until n).foreach { k =>
        val m = message(ctx.seed, seq0 + k)
        pubAt(k) = System.nanoTime()
        ctx.tracer.span("mqtt.publish")(pub.publish(Topic, m))
        pubacks(k) = Stats.ms(pubAt(k), System.nanoTime())
        node.payloadBytes += m.length
      }
      pub.close()
    }
    // poll until visible; message k counts as visible at the first poll
    // that sees at least k + 1 of the burst's rows
    val base = node.visibleRows
    val visAt = new Array[Long](n)
    var seen = 0
    val deadline = t0 + 150_000_000_000L
    var last = 0L
    val polls = scala.collection.mutable.ArrayBuffer.empty[Double]
    ctx.tracer.span("mqtt.drain") {
      while (last < target && System.nanoTime() < deadline) {
        val p0 = System.nanoTime()
        last = ctx.tracer.span("sql.visible")(visible(node))
        val now = System.nanoTime()
        polls += Stats.ms(p0, now)
        while (seen < n && base + seen < last) { visAt(seen) = now; seen += 1 }
        if (last < target) Thread.sleep(20)
      }
    }
    val end = System.nanoTime()
    lander.foreach(_.join())
    node.visibleRows = math.max(node.visibleRows, last)
    Burst(last == target, firstMs, (end - t0) / 1e9, pubacks.toSeq,
      (0 until seen).map(k => Stats.ms(pubAt(k), visAt(k))), polls.toSeq,
      if (landedAt < 0) Double.NaN else (landedAt - t0) / 1e9)
  }

  /** Each seq of the burst is in the table exactly once. */
  def verify(ctx: Ctx, node: Node, b: Burst, n: Int, seq0: Long): Unit = {
    import org.apache.spark.sql.functions._
    val rows = ctx.spark.read.parquet(node.tablePath)
      .filter(col("seq").between(seq0, seq0 + n - 1))
      .agg(count(lit(1)), countDistinct(col("seq"))).head()
    val (total, distinct) = (rows.getLong(0), rows.getLong(1))
    val ok = b.complete && total == n && distinct == n
    ctx.out.check(s"burst seq $seq0.. visible exactly once", ok,
      s"complete ${b.complete}, rows $total, distinct $distinct of $n")
    (0 until n).foreach(k => ctx.out.count(k < distinct && ok))
  }

  def report(ctx: Ctx, node: Node, b: Burst, n: Int): Unit = {
    val bytes = Stats.du(node.tablePath)._1 + Stats.du(s"${node.dir}/mv")._1
    E2E.report(ctx, n / b.drainS, b.freshnessMs, bytes / node.payloadBytes.toDouble)
    ctx.out.named("sql_p50_ms", Stats.median(b.pollMs), "ms")
    ctx.out.named("sql_p90_ms", Stats.pct(b.pollMs, 90), "ms")
  }

  def run(ctx: Ctx): Unit = {
    val n = math.max(100, (ctx.seconds * 50).toInt)
    val node = ctx.setups(3)(i => setup(ctx, i))(_.stop())
    warmUp(ctx, node)
    val seqA = 1L
    val a = burst(ctx, node, n, seqA, watchLanding = false)
    verify(ctx, node, a, n, seqA)
    if (!ctx.traced) report(ctx, node, a, n)
    else {
      ctx.startTracing()
      val seqB = TracedSeq
      val b = burst(ctx, node, n, seqB, watchLanding = true)
      verify(ctx, node, b, n, seqB)
      report(ctx, node, b, n)
      // the overhead compares the traced burst with an untraced one made
      // after it, equally warm
      ctx.listeners.stop()
      val untraced = new Ctx(ctx.spark, ctx.seed, ctx.seconds, false, ctx.work, ctx.out)
      val c = burst(untraced, node, n, TracedSeq + n, watchLanding = false)
      verify(ctx, node, c, n, TracedSeq + n)
      val out = ctx.out
      out.metric("trace.overhead_ratio", b.drainS / c.drainS, "ratio")
      out.note("tracing_overhead",
        f"mqtt_stream drain_s untraced=${c.drainS}%.3f traced=${b.drainS}%.3f")
      val endMs = b.firstMs + (b.drainS * 1000).toLong
      val prog = ctx.listeners.progressBetween(b.firstMs, endMs).filter(_.rows > 0)
      val batches = prog.size
      def dur(k: String) = Stats.mean(prog.map(_.durations.getOrElse(k, 0L).toDouble))
      out.metric("streaming.puback_ms", Stats.median(b.pubackMs), "ms")
      out.metric("streaming.landed_s", b.landedS, "s")
      out.metric("streaming.batches", batches, "count")
      out.metric("streaming.rows_per_batch", prog.map(_.rows).sum.toDouble / math.max(1, batches), "rows")
      out.metric("streaming.batch_ms", dur("triggerExecution"), "ms")
      out.metric("streaming.addbatch_ms", dur("addBatch"), "ms")
      out.metric("streaming.offsets_ms", dur("latestOffset"), "ms")
      val busy = Stats.unionLength(prog.map(p =>
        (math.max(b.firstMs, p.endMs - p.durations.getOrElse("triggerExecution", 0L)), p.endMs)))
      out.metric("streaming.idle_frac", 1.0 - busy / (b.drainS * 1000), "ratio")
      val jobs = ctx.listeners.jobsWhere(j => j.stream.nonEmpty && j.start >= b.firstMs && j.start <= endMs)
      out.metric("spark.jobs_per_batch", jobs.size.toDouble / math.max(1, batches), "count")
      val drain = ctx.tracer.named("mqtt.drain")
      prog.foreach(p => ctx.tracer.add("streaming.batch", drain.lastOption,
        ctx.tracer.nanosOf(p.endMs - p.durations.getOrElse("triggerExecution", 0L)),
        ctx.tracer.nanosOf(p.endMs)))
      // the batch layers, which no workload's load reaches
      ctx.listeners.start()
      BatchLayers.probe(ctx)
    }
    node.stop()
  }
}
