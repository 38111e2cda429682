package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import graft.engine.{Catalog, Engine, HttpFrontend}

/** `put_ingest`: an operator node under write. Three HTTP writers PUT
  * unique seeded NDJSON bodies (writers 0 and 1 into `sensor_a`, writer 2
  * into `sensor_b`) while one reader sends served queries against
  * `sensor_a`. Both tables carry a minute-grain rollup and a matview,
  * folded on every PUT (auto refresh on). */
object PutIngest {
  val RowsPerBody = 200
  /** Seconds of closed loop before the measured window: the writers'
    * queue fills and the write path's code warms up. */
  val Ramp = 10.0
  val Tables: Seq[String] = Seq("sensor_a", "sensor_b")
  def tableOf(writer: Int): String = if (writer % 3 < 2) "sensor_a" else "sensor_b"

  /** Body `k` of writer `w`: 200 rows whose `seq` is unique per (w, k, row). */
  def body(seed: Long, w: Int, k: Int): String = {
    val r = new SplittableRandom(seed * 1000003L + w * 7919L + k)
    (0 until RowsPerBody).map { i =>
      val seq = (w.toLong << 40) | (k.toLong << 12) | i
      val s = r.nextInt(86400)
      f"""{"seq": $seq, "ts": "2024-01-01 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d", """ +
        f""""device": "d${r.nextInt(20)}%02d", "v": ${r.nextInt(100000) / 100.0}}"""
    }.mkString("\n")
  }

  val Reads: IndexedSeq[String] = IndexedSeq(
    """sql edge format=json "select device, increments(hour, 1, ts), count(*) as n, """ +
      """sum(v) as s from sensor_a group by device"""",
    """sql edge format=json "select device, count(*) as n, sum(v) as sv """ +
      """from sensor_a group by device order by device"""")

  final class Node(val cat: Catalog, val engine: Engine, val http: HttpFrontend,
      val port: Int, val dir: String) {
    val acked: Map[String, AtomicLong] = Tables.map(_ -> new AtomicLong).toMap
    val payloadBytes = new AtomicLong
    var resend: (String, String) = _
    def tablePath(t: String): String = cat.tablePath(t).get
    def artifactDirs: Seq[String] = Tables.flatMap(t => Seq(s"$dir/ru_$t", s"$dir/mv_$t"))
    def ackedBody(t: String, body: String, n: Long): Unit = if (n > 0) {
      acked(t).addAndGet(n); payloadBytes.addAndGet(body.getBytes("UTF-8").length)
    }
  }

  def setup(ctx: Ctx, i: Int): Node = {
    val cat = new Catalog(ctx.spark)
    val engine = new Engine(ctx.spark, cat)
    val d = ctx.dir(s"put_ingest_$i")
    engine.dataDir = Some(s"$d/data")
    val http = new HttpFrontend(engine)
    val node = new Node(cat, engine, http, http.start(), d)
    Tables.zipWithIndex.foreach { case (t, j) =>
      val b = body(ctx.seed, 90 + j, 0)
      node.ackedBody(t, b, engine.ingest(t, b))
      engine.execute(s"rollup create where table = $t and path = $d/ru_$t " +
        "and time = ts and value = v and grain = minute and dims = (device)")
      engine.execute(s"matview create where table = $t and path = $d/mv_$t " +
        """and spec = {"keys": ["device"], "aggs": [{"fn": "count", "alias": "n"}, """ +
        """{"fn": "sum", "expr": "cast(v as decimal(18,2))", "alias": "sv"}, """ +
        """{"fn": "min", "expr": "v", "alias": "mn"}, """ +
        """{"fn": "max", "expr": "v", "alias": "mx"}]}""")
    }
    node
  }

  final case class Op(ms: Double, startNs: Long, doneNs: Long, ok: Boolean)
  private def op(t0: Long, ok: Boolean): Op = {
    val t1 = System.nanoTime(); Op(Stats.ms(t0, t1), t0, t1, ok)
  }

  /** 3 HTTP writers + 1 in-process reader, closed loop, for `ramp`
    * seconds (the queue fills and code warms up; not measured) and then
    * `seconds`; returns every (puts, reads) and the ramp's end. The
    * reader calls `Engine.execute`, as the HTTP handler does, but off the
    * frontend's single dispatch thread, so reads and writes do not take
    * turns on it; it reads once a second so it samples the served state
    * without taking the cores from the writers. */
  def httpLoop(ctx: Ctx, node: Node, ramp: Double, seconds: Double,
      next: Array[AtomicInteger]): (Seq[Op], Seq[Op], Long) = {
    val puts = new ConcurrentLinkedQueue[Op]
    val reads = new ConcurrentLinkedQueue[Op]
    val clients = (0 until 3).map(_ => new Http(node.port))
    val readIdx = new AtomicInteger
    val start = System.nanoTime()
    Load.closedLoop(4, ramp + seconds) { w =>
      if (w < 3) {
        val t = tableOf(w)
        val b = body(ctx.seed, w, next(w).incrementAndGet())
        ctx.tracer.span("http.put") {
          val t0 = System.nanoTime()
          val (code, reply) = clients(w).put(t, b)
          val n = Http.appended(reply).getOrElse(0L)
          val ok = code == 200 && n == RowsPerBody
          puts.add(op(t0, ok))
          ctx.out.count(ok)
          if (ok) node.ackedBody(t, b, n)
          if (ok) node.synchronized { if (node.resend == null) node.resend = (t, b) }
        }
      } else {
        val i = readIdx.getAndIncrement()
        val wait = (start + i * 1000000000L - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        ctx.tracer.span("engine.sql") {
          val t0 = System.nanoTime()
          val ok = try node.engine.execute(Reads(i % Reads.size)).startsWith("{\"Query\"")
            catch { case _: Exception => false }
          reads.add(op(t0, ok))
          ctx.out.count(ok)
        }
      }
    }
    (puts.asScala.toSeq, reads.asScala.toSeq, start + (ramp * 1e9).toLong)
  }

  /** Latencies of the operations started after the ramp; throughput
    * from every PUT completed after it. */
  def report(ctx: Ctx, puts: Seq[Op], reads: Seq[Op], from: Long, node: Node): Unit = {
    val out = ctx.out
    val pl = puts.filter(_.startNs >= from).map(_.ms)
    val rl = reads.filter(_.startNs >= from).map(_.ms)
    // a PUT's rows are visible to served sql once it is acknowledged
    // (append and auto-fold complete before the reply)
    E2E.report(ctx, RowsPerBody * E2E.rate(puts.map(_.doneNs).filter(_ >= from)), pl,
      storeBytes(node) / node.payloadBytes.get.toDouble)
    out.named("put_p50_ms", Stats.pct(pl, 50), "ms")
    out.named("put_p90_ms", Stats.pct(pl, 90), "ms")
    out.named("sql_p50_ms", Stats.pct(rl, 50), "ms")
    out.named("sql_p90_ms", Stats.pct(rl, 90), "ms")
    out.note("reader_samples", rl.size)
    out.note("put_ms_each", pl.map(x => f"$x%.0f").mkString(" "))
    out.note("sql_ms_each", rl.map(x => f"$x%.0f").mkString(" "))
  }

  def storeBytes(node: Node): Double =
    (Tables.map(node.tablePath) ++ node.artifactDirs).map(d => Stats.du(d)._1).sum.toDouble

  private def sumN(df: org.apache.spark.sql.DataFrame): Long =
    df.collect().map(r => r.getAs[Number]("n").longValue).sum

  /** Table rows = acked rows = the served rollup and matview totals, and
    * a re-sent body is acknowledged with `appended: 0`. */
  def verify(ctx: Ctx, node: Node): Unit = {
    Tables.foreach { t =>
      val path = node.tablePath(t)
      val rows = ctx.spark.read.parquet(path).count()
      val ru = node.engine.query(
        s"""sql edge "select increments(year, 1, ts), count(*) as n from $t"""")
      val mv = node.engine.query(
        s"""sql edge "select device, count(*) as n from $t group by device"""")
      def served(df: org.apache.spark.sql.DataFrame) = !Stats.readsUnder(df, path)
      val (ruN, mvN, acked) = (sumN(ru), sumN(mv), node.acked(t).get)
      ctx.out.check(s"$t rows = acked = served totals",
        rows == acked && ruN == acked && mvN == acked && served(ru) && served(mv),
        s"table $rows, acked $acked, rollup $ruN (served ${served(ru)}), " +
          s"matview $mvN (served ${served(mv)})")
      // control: seq is in neither artifact, so this must scan the table
      val base = node.engine.query(s"""sql edge "select max(seq) as m from $t"""")
      ctx.out.check(s"$t base-scan command is seen scanning the table", !served(base))
    }
    val (t, b) = node.resend
    val (code, reply) = new Http(node.port).put(t, b)
    ctx.out.check("re-sent body appends 0", code == 200 && Http.appended(reply).contains(0L),
      s"$code ${reply.take(120)}")
  }

  def run(ctx: Ctx): Unit = {
    val node = ctx.setups(3)(i => setup(ctx, i))(_.http.stop())
    val next = Array.fill(3)(new AtomicInteger)
    if (!ctx.traced) {
      val (puts, reads, from) = httpLoop(ctx, node, Ramp, ctx.seconds, next)
      report(ctx, puts, reads, from, node)
    } else traced(ctx, node, next)
    verify(ctx, node)
    node.http.stop()
  }

  /** In-process PUTs on `threads` threads, `perThread` each; returns
    * (latency ms, jobs, tasks, task ms, gap ms) per PUT. A traced `ctx`
    * runs each PUT in a job group of its own and counts its jobs; an
    * untraced one reports the latency only. */
  private def inProcess(ctx: Ctx, node: Node, threads: Int, perThread: Int,
      writerBase: Int): Seq[(Double, Int, Int, Long, Double)] = {
    val res = new ConcurrentLinkedQueue[(Double, Int, Int, Long, Double)]
    val sc = ctx.spark.sparkContext
    Load.parallel(threads) { w =>
      val writer = writerBase + w
      (1 to perThread).foreach { k =>
        val t = tableOf(w)
        val b = body(ctx.seed, writer, k)
        val group = s"perfbench-put-$writer-$k"
        if (ctx.traced) sc.setJobGroup(group, "put", interruptOnCancel = false)
        val t0 = System.nanoTime()
        val n = ctx.tracer.span("put")(ctx.tracer.span("engine.ingest")(node.engine.ingest(t, b)))
        val t1 = System.nanoTime()
        node.ackedBody(t, b, n)
        ctx.out.count(n == RowsPerBody)
        if (!ctx.traced) res.add((Stats.ms(t0, t1), 0, 0, 0L, 0.0))
        else {
          sc.clearJobGroup()
          val jobs = ctx.listeners.jobsInGroup(group)
          val covered = Stats.unionLength(jobs.map(j =>
            (ctx.tracer.nanosOf(j.start), ctx.tracer.nanosOf(j.end))))
          res.add((Stats.ms(t0, t1), jobs.size, jobs.map(_.tasks).sum,
            jobs.map(_.taskMs).sum, math.max(0.0, (t1 - t0 - covered) / 1e6)))
        }
      }
    }
    res.asScala.toSeq
  }

  /** Tracing overhead: single-writer in-process PUTs, traced and untraced
    * in turn (T U, U T, ... so that drift cancels), `pairs` of each;
    * returns the median latencies (traced, untraced). PUT latency varies
    * far less here than over HTTP with three writers. */
  private def overhead(ctx: Ctx, node: Node, pairs: Int): (Double, Double) = {
    val plain = new Ctx(ctx.spark, ctx.seed, ctx.seconds, false, ctx.work, ctx.out)
    def untraced(w: Int) = {
      ctx.listeners.stop()
      try inProcess(plain, node, 1, 1, w).head._1 finally ctx.listeners.start()
    }
    def traced(w: Int) = inProcess(ctx, node, 1, 1, w).head._1
    val ms = (0 until pairs).map { i =>
      if (i % 2 == 0) { val t = traced(40 + i); (t, untraced(50 + i)) }
      else { val u = untraced(50 + i); (traced(40 + i), u) }
    }
    (Stats.median(ms.map(_._1)), Stats.median(ms.map(_._2)))
  }

  def traced(ctx: Ctx, node: Node, next: Array[AtomicInteger]): Unit = {
    val out = ctx.out
    ctx.startTracing()
    val (all1, r1, from1) = httpLoop(ctx, node, Ramp, ctx.seconds, next)
    report(ctx, all1, r1, from1, node)
    val p1 = all1.filter(_.startNs >= from1)

    val k = 4 // PUTs per in-process pass
    val ta = node.tablePath("sensor_a")
    val tb0 = Stats.du(ta)._1; val tp0 = Stats.parquetFiles(ta)
    val art0 = node.artifactDirs.map(Stats.du)
    val on = inProcess(ctx, node, 1, k, 10)
    val tb1 = Stats.du(ta)._1; val tp1 = Stats.parquetFiles(ta)
    val art1 = node.artifactDirs.map(Stats.du)
    val p50on = Stats.median(on.map(_._1))
    out.note("inprocess_put_ms_each", on.map(x => f"${x._1}%.0f").mkString(" "))
    out.metric("engine.ingest_ms", p50on, "ms")
    out.metric("ingest.jobs_per_put", Stats.mean(on.map(_._2.toDouble)), "count")
    out.metric("ingest.tasks_per_put", Stats.mean(on.map(_._3.toDouble)), "count")
    out.metric("ingest.task_ms_per_put", Stats.mean(on.map(_._4.toDouble)), "ms")
    out.metric("ingest.gap_ms_per_put", Stats.mean(on.map(_._5)), "ms")
    out.metric("ingest.files_per_put", (tp1 - tp0).toDouble / k, "count")
    out.metric("ingest.bytes_per_row", (tb1 - tb0).toDouble / (k * RowsPerBody), "B")
    out.metric("ops.artifact_files_per_put",
      art1.zip(art0).map { case (a, b) => a._2 - b._2 }.sum.toDouble / k, "count")
    out.metric("ops.artifact_bytes_per_put",
      art1.zip(art0).map { case (a, b) => a._1 - b._1 }.sum.toDouble / k, "B")

    val pairs = 4
    val (mt, mu) = overhead(ctx, node, pairs)
    out.metric("trace.overhead_ratio", mt / mu, "ratio")
    out.note("tracing_overhead", f"put_ingest inprocess_put_p50_ms untraced=$mu%.1f " +
      f"traced=$mt%.1f samples=$pairs+$pairs")

    node.engine.execute("set view auto refresh = off")
    val off = inProcess(ctx, node, 1, k, 20)
    val t0 = System.nanoTime()
    node.engine.execute("matview sync where table = sensor_a")
    node.engine.execute("rollup sync where table = sensor_a")
    out.metric("ops.sync_ms", Stats.ms(t0, System.nanoTime()), "ms")
    node.engine.execute("set view auto refresh = on")
    out.metric("ops.fold_ms_per_put", p50on - Stats.median(off.map(_._1)), "ms")
    out.metric("ops.fold_jobs_per_put",
      Stats.mean(on.map(_._2.toDouble)) - Stats.mean(off.map(_._2.toDouble)), "count")

    val three = Stats.median(inProcess(ctx, node, 3, k, 30).map(_._1))
    out.metric("engine.put_contention_ms", three - p50on, "ms")
    // same 3 writers and the same lock on both sides: what is left is HTTP
    out.metric("engine.http_put_ms", Stats.median(p1.map(_.ms)) - three, "ms")

    // the reader's served commands, split by layer
    SqlLayers.split(ctx, node.engine, node.port, Seq.fill(4)(Reads).flatten, ta)
  }
}
