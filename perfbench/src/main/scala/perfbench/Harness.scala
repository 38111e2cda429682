package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** What one run reports: metrics by name with a unit, operation counts,
  * named correctness checks and the run record. Written as one JSON
  * object; the runner turns it into the final stdout line. */
final class Out {
  private val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private val namedMetrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  private val record = scala.collection.mutable.LinkedHashMap.empty[String, String]
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized { metrics(name) = (value, unit) }
  /** A workload-specific metric under its own name; printed as a line
    * of its own beside the shared metrics of the final JSON object. */
  def named(name: String, value: Double, unit: String): Unit =
    synchronized { namedMetrics(name) = (value, unit) }
  def check(name: String, ok: Boolean, detail: String = ""): Unit =
    synchronized { checks += ((name, ok, detail)) }
  def note(key: String, value: Any): Unit =
    synchronized { record(key) = String.valueOf(value) }
  def count(ok: Boolean): Unit = synchronized {
    attempted += 1; if (!ok) failed += 1
  }

  def json: String = synchronized {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def ms(x: Iterable[(String, (Double, String))]) = x.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${num(v)}, \"unit\": ${Json.str(u)}}" }.mkString(", ")
    val c = checks.map { case (k, ok, d) =>
      s"{\"name\": ${Json.str(k)}, \"ok\": $ok, \"detail\": ${Json.str(d)}}" }
    val r = record.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    s"""{"attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms(metrics)}}, "named": {${ms(namedMetrics)}}, "checks": [${c.mkString(", ")}], """ +
      s""""record": {${r.mkString(", ")}}}"""
  }
}

object Json {
  def str(s: String): String = graft.engine.Render.jsonStr(s)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(Double.NaN)

  /** Heap still in use after a full collection, MB: what the node keeps. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes and regular-file count under a directory. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L) else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
        .foldLeft((0L, 0L)) { case ((b, n), p) =>
          (b + java.nio.file.Files.size(p), n + 1) }
      finally s.close()
    }
  }

  /** Whether the query reads any file under `dir`: a served query reads
    * only its artifact, never the base table's files. Asks the files the
    * plan's relations list, not the plan text, which Spark shortens. */
  def readsUnder(df: org.apache.spark.sql.DataFrame, dir: String): Boolean = {
    val root = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString + "/"
    df.inputFiles.exists(f => URI.create(f).getPath.startsWith(root))
  }

  /** Parquet data files (no checksums or markers) under a directory. */
  def parquetFiles(dir: String): Long = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) 0L else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }
}

/** One HTTP/1.1 connection's worth of client: each load thread owns one,
  * so the number of threads bounds the number of connections. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = URI.create(s"http://127.0.0.1:$port/")

  /** `sql`/any command via GET with the `command` header. */
  def get(command: String): (Int, String) = {
    val req = HttpRequest.newBuilder(base).header("command", command).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  /** PUT ingest of `body` into `table`. */
  def put(table: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(base).header("table", table)
      .header("dbms", "edge")
      .PUT(HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8)).build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }
}

object Http {
  private val Appended = "\"appended\":\\s*(\\d+)".r
  def appended(reply: String): Option[Long] =
    Appended.findFirstMatchIn(reply).map(_.group(1).toLong)
}

/** Minimal MQTT 3.1.1 publisher over one TCP connection, QoS 1: each
  * publish waits for its PUBACK. */
final class MqttPublisher(port: Int, clientId: String) {
  private val sock = new java.net.Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val os = new java.io.BufferedOutputStream(sock.getOutputStream)
  private val is = new java.io.DataInputStream(
    new java.io.BufferedInputStream(sock.getInputStream))
  private var packetId = 0

  private def remLen(n: Int): Array[Byte] = {
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var x = n
    while ({ var d = x % 128; x /= 128; if (x > 0) d |= 0x80; b += d.toByte; x > 0 }) ()
    b.toArray
  }
  private def readAck(expectType: Int): Unit = {
    val first = is.readUnsignedByte()
    require((first >> 4) == expectType, s"expected packet type $expectType, got ${first >> 4}")
    var len = 0; var mul = 1; var b = 0
    while ({ b = is.readUnsignedByte(); len += (b & 0x7f) * mul; mul *= 128; (b & 0x80) != 0 }) ()
    is.skipNBytes(len.toLong)
  }

  {
    val cid = clientId.getBytes(StandardCharsets.UTF_8)
    val body = Array[Byte](0, 4, 'M', 'Q', 'T', 'T', 4, 2, 0, 60) ++
      Array[Byte]((cid.length >> 8).toByte, cid.length.toByte) ++ cid
    os.write(Array[Byte](0x10) ++ remLen(body.length) ++ body); os.flush()
    readAck(2) // CONNACK
  }

  /** Publish at QoS 1 and block until the broker's PUBACK. */
  def publish(topic: String, payload: String): Unit = {
    packetId = packetId % 65535 + 1
    val t = topic.getBytes(StandardCharsets.UTF_8)
    val p = payload.getBytes(StandardCharsets.UTF_8)
    val body = Array[Byte]((t.length >> 8).toByte, t.length.toByte) ++ t ++
      Array[Byte]((packetId >> 8).toByte, packetId.toByte) ++ p
    os.write(Array[Byte](0x32) ++ remLen(body.length) ++ body); os.flush()
    readAck(4) // PUBACK
  }

  def close(): Unit = try {
    os.write(Array[Byte](0xe0.toByte, 0)); os.flush(); sock.close()
  } catch { case _: java.io.IOException => () }
}

/** Closed-loop load: `threads` workers each call `op` until the deadline,
  * then finish the call in flight. */
object Load {
  def closedLoop(threads: Int, seconds: Double)(op: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[Throwable]
    val ws = (0 until threads).map { w =>
      val t = new Thread(() =>
        try while (System.nanoTime() < deadline) op(w)
        catch { case e: Throwable => errors.add(e) }, s"load-$w")
      t.start(); t
    }
    ws.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }

  /** Run `body` on `threads` threads at once and wait for all. */
  def parallel(threads: Int)(body: Int => Unit): Unit = {
    val errors = new ConcurrentLinkedQueue[Throwable]
    val ws = (0 until threads).map { w =>
      val t = new Thread(() =>
        try body(w) catch { case e: Throwable => errors.add(e) }, s"par-$w")
      t.start(); t
    }
    ws.foreach(_.join())
    if (!errors.isEmpty) throw errors.peek()
  }
}
