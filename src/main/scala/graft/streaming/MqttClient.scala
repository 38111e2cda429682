package graft.streaming

import java.io.{InputStream, OutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets

/** Minimal MQTT 3.1.1 SUBSCRIBER — the reference's `run msg client`
  * mode, where the node subscribes to an EXTERNAL plant/fleet broker
  * and maps arriving topics to tables
  * (/root/reference/edge_lake/tcpip/mqtt_client.py:495-513 `add_topic`
  * registers per-topic mappings; the subscribe/deliver loop feeds the
  * same per-message mapping path as the broker mode — member_cmd
  * `run msg client`). This is the other half of [[MqttBroker]]: the
  * broker ACCEPTS publishes, the client FETCHES them from a broker the
  * fleet already runs.
  *
  * Protocol surface: CONNECT→CONNACK, SUBSCRIBE→SUBACK (QoS 0/1;
  * granted QoS is the broker's), PUBLISH delivery with PUBACK for
  * QoS 1 (at-least-once — ack AFTER the sink returns, so a sink crash
  * leaves the message un-acked rather than dropped), PINGREQ on idle,
  * DISCONNECT on stop. Each delivered (topic, payload) goes to `sink`
  * — in deployment the broker-mode handoff: one NDJSON file per
  * message into a watch dir, then the ordinary
  * watch-dir→policy→table streaming chain ([[StreamIngest]],
  * [[TopicRouter]]) — the client is a thin network front with no
  * Spark coupling, exactly like the broker.
  *
  * Duplicate PUBLISH deliveries (QoS 1 retransmits, DUP=1) pass
  * through to the sink by design: at-least-once is the QoS 1
  * contract, and the downstream exact/near-dup ingest gates
  * ([[StreamOps]]) are the system's idempotence layer.
  */
final class MqttClient(host: String, port: Int, clientId: String,
    sink: (String, String) => Unit) {

  @volatile private var running = false
  @volatile private var sock: Socket = _
  @volatile private var out: OutputStream = _
  @volatile private var connected = false
  private var reader: Thread = _
  private var pinger: Thread = _
  private var subscribed: Seq[(String, Int)] = Nil
  private var handshakeMs: Long = 5000

  private def remLen(n: Int): Array[Byte] = {
    var v = n
    val b = scala.collection.mutable.ArrayBuffer.empty[Byte]
    var cont = true
    while (cont) {
      var d = v % 128
      v /= 128
      if (v > 0) d |= 0x80
      b += d.toByte
      cont = v > 0
    }
    b.toArray
  }

  private def readRemainingLength(in: InputStream): Int = {
    var mult = 1; var value = 0; var i = 0; var cont = true
    while (cont && i < 4) {
      val b = in.read()
      if (b < 0) throw new java.io.EOFException
      value += (b & 0x7f) * mult
      mult *= 128
      cont = (b & 0x80) != 0
      i += 1
    }
    // same frame-size sanity as the broker side: a malformed varint
    // (continuation past 4 bytes, spec §2.2.3) or an absurd length
    // from a broken/hostile broker must fail the read loop (the
    // client stops and the service board reports it down) instead of
    // allocating up to 256 MB mid-stream
    if (cont) throw new java.io.IOException(
      "malformed remaining length (continuation past 4 bytes)")
    if (value > MqttBroker.MaxFrameBytes) throw new java.io.IOException(
      s"frame of $value bytes exceeds the ${MqttBroker.MaxFrameBytes}" +
        " cap")
    value
  }

  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) throw new java.io.EOFException
      off += r
    }
    buf
  }

  private def send(firstByte: Int, body: Array[Byte]): Unit = {
    // read the CURRENT stream once: reconnect swaps `out`, and two
    // writers must serialize on the same stream instance they write
    val o = out
    o.synchronized {
      o.write(Array[Byte](firstByte.toByte) ++ remLen(body.length) ++ body)
      o.flush()
    }
  }

  /** Connect, subscribe to `topics` (filter -> requested qos), and
    * start the delivery loop. Blocks until CONNACK + SUBACK arrive (or
    * `timeoutMs` passes — then fails loudly). */
  def start(topics: Seq[(String, Int)], timeoutMs: Long = 5000): Unit = {
    require(topics.nonEmpty, "msg client needs at least one topic")
    // QoS 2 needs the PUBREC/PUBREL/PUBCOMP receiver flow this client
    // does not implement — acking a QoS-2 PUBLISH with PUBACK never
    // completes the exchange, so a granting broker would retransmit
    // the message forever (unbounded duplicate sink invocations).
    // Fail LOUDLY at subscribe time instead of looping at runtime.
    topics.foreach { case (t, q) =>
      require(q >= 0 && q <= 1,
        s"topic $t requests QoS $q — only QoS 0/1 receiver flows are " +
          "implemented (QoS 2 would redeliver forever under PUBACK)")
    }
    subscribed = topics
    handshakeMs = timeoutMs
    val in = connect()
    // delivery + reconnect supervisor loop
    running = true
    connected = true
    reader = new Thread(() => supervise(in))
    reader.setDaemon(true)
    reader.start()
    // keepalive: CONNECT advertises 60 s, so a spec-compliant broker
    // drops a silent connection after 1.5x that (MQTT 3.1.1
    // 3.1.2-24) — ping at half the interval or a quiet topic's
    // subscription silently dies on a real broker
    // stop() clears `running` before it interrupts, so an interrupted
    // sleep falls through to the loop test and the thread ends. (A
    // `return` here would be a non-local return out of the lambda:
    // the thread would die with an uncaught NonLocalReturnControl.)
    pinger = new Thread(() => {
      while (running) {
        try Thread.sleep(30000L)
        catch { case _: InterruptedException => () }
        if (running && connected)
          try send(0xc0, Array.emptyByteArray) // PINGREQ
          catch { case scala.util.control.NonFatal(_) => () }
        // a failed ping means the session is dropping — the reader
        // loop notices and the supervisor reconnects; the pinger
        // must survive to serve the NEXT session
      }
    })
    pinger.setName(s"mqtt-pinger-$clientId")
    pinger.setDaemon(true)
    pinger.start()
  }

  /** One full session establishment: socket + CONNECT/CONNACK +
    * SUBSCRIBE/SUBACK over [[subscribed]]. Used by [[start]] and by
    * every reconnect attempt. */
  private def connect(): InputStream = {
    val s = new Socket(host, port)
    s.setSoTimeout(handshakeMs.toInt)
    sock = s
    out = s.getOutputStream
    val in = s.getInputStream
    // CONNECT: PERSISTENT session (CleanSession=0, stable clientId),
    // keepalive 60. Clean-session reconnects would make the broker
    // discard un-acked QoS 1 deliveries and anything queued during an
    // outage (spec 3.1.2-6) — the supervise() at-least-once claim
    // REQUIRES session continuity; the explicit re-SUBSCRIBE after
    // reconnect keeps this correct against brokers (like the embedded
    // one) whose subscription state is per-connection anyway.
    val cid = clientId.getBytes(StandardCharsets.UTF_8)
    val connBody = Array[Byte](0, 4, 'M', 'Q', 'T', 'T', 4, 0, 0, 60) ++
      Array[Byte]((cid.length >> 8).toByte, (cid.length & 0xff).toByte) ++ cid
    send(0x10, connBody)
    val connack = expect(in, 2)
    require((connack._2.length >= 2) && connack._2(1) == 0,
      s"broker refused CONNECT (code ${connack._2.lift(1).getOrElse(-1)})")
    // SUBSCRIBE (packet id 1)
    val subBody = Array[Byte](0, 1) ++ subscribed.flatMap { case (t, qos) =>
      val tb = t.getBytes(StandardCharsets.UTF_8)
      Array[Byte]((tb.length >> 8).toByte, (tb.length & 0xff).toByte) ++
        tb ++ Array[Byte]((qos & 0x03).toByte)
    }
    send(0x82, subBody) // SUBSCRIBE fixed header flags = 0b0010 (spec)
    val suback = expect(in, 9)
    // granted QoS must be <= the requested (so <= 1 after the clamp
    // above) — a broker granting 2 would enter the unimplemented
    // PUBREC flow, so treat it as a rejection too
    require(suback._2.length >= 2 + subscribed.length &&
      suback._2.drop(2).forall(b => (b & 0xff) <= 1),
      "broker rejected subscription (or granted QoS 2)")
    s.setSoTimeout(0)
    in
  }

  /** Delivery loop + RECONNECT supervisor: when the session drops
    * while the client is still `running` (broker restart, network
    * blip, malformed frame), re-establish it with capped exponential
    * backoff and keep delivering — the reference's client survives
    * broker restarts the same way (mqtt_client.py keeps its
    * subscriptions and re-registers on reconnect). An un-acked QoS 1
    * message in flight at the drop is retransmitted by the broker
    * after reconnect: at-least-once holds across the gap. Only an
    * explicit [[stop]] ends the loop. */
  private def supervise(in0: InputStream): Unit = {
    var in = in0
    while (running) {
      loop(in) // returns on session drop (or stop)
      connected = false
      var delay = 500L
      while (running && !connected) {
        try {
          try sock.close()
          catch { case scala.util.control.NonFatal(_) => () }
          in = connect()
          // stop() may have fired while connect() was in flight: it
          // closed the PREVIOUS socket, so the fresh session would
          // linger as a zombie subscriber (QoS 1 deliveries never
          // read or acked) — tear it down before exiting
          if (!running) {
            try send(0xe0, Array.emptyByteArray)
            catch { case scala.util.control.NonFatal(_) => () }
            try sock.close()
            catch { case scala.util.control.NonFatal(_) => () }
          } else connected = true
        } catch {
          case scala.util.control.NonFatal(_) =>
            try Thread.sleep(delay)
            catch { case _: InterruptedException => running = false }
            delay = math.min(delay * 2, 30000L)
        }
      }
    }
  }

  /** Read packets until one of `msgType` arrives (PUBLISH arriving
    * early is delivered, not lost). */
  private def expect(in: InputStream, msgType: Int): (Int, Array[Byte]) = {
    while (true) {
      val first = in.read()
      if (first < 0) throw new java.io.EOFException("broker closed")
      val body = readFully(in, readRemainingLength(in))
      val t = (first >> 4) & 0x0f
      if (t == msgType) return (first, body)
      if (t == 3) deliver(first & 0x0f, body)
    }
    throw new IllegalStateException("unreachable")
  }

  private def deliver(flags: Int, body: Array[Byte]): Unit = {
    val qos = (flags >> 1) & 0x03
    val topicLen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
    val topic = new String(body, 2, topicLen, StandardCharsets.UTF_8)
    var pos = 2 + topicLen
    var packetId = 0
    if (qos > 0) {
      packetId = ((body(pos) & 0xff) << 8) | (body(pos + 1) & 0xff)
      pos += 2
    }
    val payload = new String(body, pos, body.length - pos,
      StandardCharsets.UTF_8)
    sink(topic, payload)
    // ack AFTER the sink: a crashed sink leaves the message un-acked
    if (qos >= 1) send(0x40,
      Array[Byte](((packetId >> 8) & 0xff).toByte, (packetId & 0xff).toByte))
  }

  private def loop(in: InputStream): Unit = {
    try {
      var open = true
      while (running && open) {
        val first = in.read()
        if (first < 0) open = false // session drop -> supervisor
        else {
          val body = readFully(in, readRemainingLength(in))
          (first >> 4) & 0x0f match {
            case 3 => deliver(first & 0x0f, body)
            case 13 => // PINGRESP
            case _ => // SUBACK dup / unexpected: ignore
          }
        }
      }
    } catch {
      // IOException/EOF/malformed frame: return to the supervisor,
      // which reconnects (or exits if stop() cleared running)
      case scala.util.control.NonFatal(_) => ()
    }
  }

  /** True from [[start]] until [[stop]] — stays true across
    * reconnect attempts (the subscription is still owned). */
  def isRunning: Boolean = running

  /** True while a live session is attached; false during a
    * reconnect backoff (the service board's "degraded" signal). */
  def isConnected: Boolean = running && connected

  def stop(): Unit = {
    running = false
    if (pinger != null) pinger.interrupt()
    // interrupt the supervisor too: a reconnect parked in the backoff
    // sleep (or blocked inside a socket connect) must not linger for
    // its full timeout after an explicit stop
    if (reader != null) reader.interrupt()
    try send(0xe0, Array.emptyByteArray) catch {
      case scala.util.control.NonFatal(_) => ()
    }
    try sock.close() catch { case scala.util.control.NonFatal(_) => () }
  }
}
