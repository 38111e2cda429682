package graft.streaming

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

/** Native Kafka wire-protocol stack — closes the one
  * ENVIRONMENT-WAIVED §2.1 row (the reference's Kafka integration:
  * consumer `api/al_kafka.py:124-226` / cmd/member_cmd.py:21481
  * `run kafka consumer`, producer `al_kafka.py:50-121` behind the
  * `kafka@host:port` dest) without any connector jar, the same way
  * [[MqttBroker]]/[[MqttClient]] hand-roll MQTT 3.1.1: the Kafka
  * protocol is a public, versioned TCP format, and API VERSION 0
  * (Metadata=3, Produce=0, Fetch=1, ListOffsets=2 — the 0.8-era
  * baseline every broker still speaks) is enough for a
  * single-partition produce/consume loop.
  *
  * Wire format implemented here (all big-endian):
  *   - framing: int32 size, then the request/response bytes;
  *   - request header: api_key int16, api_version int16,
  *     correlation_id int32, client_id string(int16-len);
  *   - response header: correlation_id int32;
  *   - MessageSet v0: repeated [offset int64, size int32, message],
  *     message = crc int32 (CRC32 over everything AFTER the crc),
  *     magic int8 = 0, attributes int8 = 0, key bytes(int32-len,
  *     -1 null), value bytes.
  *
  * Deliberate scope (documented, not hidden): one broker node, no
  * compression, no consumer groups (the reference's consumer
  * subscribes and polls; group coordination is a broker-cluster
  * concern), acks<=1. Topics auto-create with one partition but the
  * broker serves any partition count ([[KafkaMiniBroker.createTopic]])
  * and keeps a LOG-START offset per partition so retention/truncation
  * behaves like a real broker (fetch below it → OFFSET_OUT_OF_RANGE,
  * ListOffsets earliest returns it). The consumer tracks its own
  * offsets per (topic, partition) — `reset = earliest|latest` maps to
  * ListOffsets(-2|-1) exactly like auto_offset_reset in
  * al_kafka.py:124 — and re-seeds from earliest when its offset falls
  * below log start.
  */
object KafkaWire {

  final val ApiProduce = 0
  final val ApiFetch = 1
  final val ApiListOffsets = 2
  final val ApiMetadata = 3

  final class Writer {
    private val bos = new ByteArrayOutputStream()
    private val out = new DataOutputStream(bos)
    def i8(v: Int): Writer = { out.writeByte(v); this }
    def i16(v: Int): Writer = { out.writeShort(v); this }
    def i32(v: Int): Writer = { out.writeInt(v); this }
    def i64(v: Long): Writer = { out.writeLong(v); this }
    def str(s: String): Writer = {
      if (s == null) i16(-1)
      else { val b = s.getBytes(StandardCharsets.UTF_8)
        i16(b.length); out.write(b) }
      this
    }
    def bytes(b: Array[Byte]): Writer = {
      if (b == null) i32(-1) else { i32(b.length); out.write(b) }
      this
    }
    def raw(b: Array[Byte]): Writer = { out.write(b); this }
    def result(): Array[Byte] = { out.flush(); bos.toByteArray }
  }

  final class Reader(buf: ByteBuffer) {
    def i8(): Int = buf.get().toInt
    def i16(): Int = buf.getShort().toInt
    def i32(): Int = buf.getInt()
    def i64(): Long = buf.getLong()
    def str(): String = {
      val n = i16()
      if (n < 0) null
      else { val b = new Array[Byte](n); buf.get(b)
        new String(b, StandardCharsets.UTF_8) }
    }
    def bytes(): Array[Byte] = {
      val n = i32()
      if (n < 0) null else { val b = new Array[Byte](n); buf.get(b); b }
    }
    def raw(n: Int): Array[Byte] = {
      val b = new Array[Byte](n); buf.get(b); b }
    def remaining: Int = buf.remaining()
  }

  /** Encode one v0 message (crc over magic..value). */
  def encodeMessage(key: Array[Byte], value: Array[Byte]): Array[Byte] = {
    val body = new Writer().i8(0).i8(0).bytes(key).bytes(value).result()
    val crc = new java.util.zip.CRC32()
    crc.update(body)
    new Writer().i32(crc.getValue.toInt).raw(body).result()
  }

  /** Encode a message set from (offset, message-bytes) pairs. */
  def encodeMessageSet(msgs: Seq[(Long, Array[Byte])]): Array[Byte] = {
    val w = new Writer()
    msgs.foreach { case (off, m) => w.i64(off).i32(m.length).raw(m) }
    w.result()
  }

  /** Decode a message set → (offset, key, value), CRC-verified.
    * A trailing partial message (broker hit maxBytes mid-message —
    * legal in v0) is dropped, as every Kafka client does. */
  def decodeMessageSet(bytes: Array[Byte]): Seq[(Long, Array[Byte], Array[Byte])] = {
    val buf = ByteBuffer.wrap(bytes)
    val out = Seq.newBuilder[(Long, Array[Byte], Array[Byte])]
    while (buf.remaining() >= 12) {
      val off = buf.getLong()
      val size = buf.getInt()
      if (buf.remaining() < size) { buf.position(buf.limit()) }
      else {
        val m = new Array[Byte](size); buf.get(m)
        val r = new Reader(ByteBuffer.wrap(m))
        val crcStored = r.i32()
        val crc = new java.util.zip.CRC32()
        crc.update(m, 4, m.length - 4)
        require(crc.getValue.toInt == crcStored,
          s"kafka message at offset $off failed CRC")
        r.i8(); r.i8() // magic, attributes
        val key = r.bytes(); val value = r.bytes()
        out += ((off, key, value))
      }
    }
    out.result()
  }

  /** One framed request/response exchange over a socket. */
  def roundTrip(sock: Socket, apiKey: Int, body: Array[Byte],
      correlationId: Int, clientId: String = "graft"): Reader = {
    val req = new Writer().i16(apiKey).i16(0).i32(correlationId)
      .str(clientId).raw(body).result()
    val out = new DataOutputStream(sock.getOutputStream)
    out.writeInt(req.length); out.write(req); out.flush()
    val in = new DataInputStream(sock.getInputStream)
    val size = in.readInt()
    val resp = new Array[Byte](size); in.readFully(resp)
    val r = new Reader(ByteBuffer.wrap(resp))
    val corr = r.i32()
    require(corr == correlationId, s"correlation mismatch: $corr")
    r
  }
}

/** In-memory single-node Kafka-protocol broker: Metadata/Produce/
  * Fetch/ListOffsets at API v0. Topics auto-create with one partition
  * on first use (the reference's deployments rely on broker
  * auto-create); [[createTopic]] pre-creates with any partition
  * count, and [[truncate]] ages out a log prefix the way broker
  * retention does — the log keeps a LOG-START offset per partition,
  * so a fetch below it answers OFFSET_OUT_OF_RANGE and ListOffsets
  * earliest returns the surviving start, exactly the recovery path a
  * consumer must handle against a real broker. Thread per connection,
  * like [[MqttBroker]]. Primarily the test harness for the
  * consumer/producer — but it is a real protocol endpoint: any
  * v0-speaking client can produce to it and fetch from it. */
final class KafkaMiniBroker(port: Int = 0) {
  import KafkaWire._

  private val server = new ServerSocket(port)
  @volatile private var running = true

  /** One partition's log: `base` is the log-start offset (advanced by
    * [[truncate]]); absolute offset o lives at buf(o - base). Offsets
    * are Long end-to-end; the Int narrowing happens only at the
    * buffer index, where a `require` keeps the boundary loud instead
    * of silently wrapping. */
  private final class PartLog {
    var base: Long = 0L
    val buf = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    def hw: Long = base + buf.length
    def idx(offset: Long): Int = {
      val i = offset - base
      require(i >= 0 && i <= Int.MaxValue,
        s"offset $offset out of addressable window (base $base)")
      i.toInt
    }
  }

  /** topic -> per-partition append-only logs. */
  private val topics =
    scala.collection.mutable.Map.empty[String, Array[PartLog]]

  /** Ensure a topic exists with AT LEAST `partitions` partitions (a
    * real deployment's admin tooling). Idempotent and growth-only: a
    * topic already auto-created by a client's Metadata probe (one
    * partition) grows to the requested count instead of throwing —
    * the pre-create-after-first-contact ordering is common in tests
    * and in real rollouts; shrinking is refused (Kafka cannot shrink
    * partition counts either). */
  def createTopic(topic: String, partitions: Int): Unit =
    topics.synchronized {
      require(partitions >= 1, "partitions must be >= 1")
      topics.get(topic) match {
        case None => topics(topic) = Array.fill(partitions)(new PartLog)
        case Some(cur) if cur.length < partitions =>
          topics(topic) =
            cur ++ Array.fill(partitions - cur.length)(new PartLog)
        case Some(_) => () // already at or above the requested count
      }
    }

  /** Repartition hook: grow an existing topic's partition count (new
    * partitions start empty at offset 0) — what kafka-topics --alter
    * does broker-side; a live consumer must DISCOVER the new
    * partitions from Metadata, which the engine's poll loop re-probes
    * periodically. */
  def addPartitions(topic: String, newCount: Int): Unit =
    topics.synchronized {
      val cur = topics.getOrElse(topic,
        throw new IllegalArgumentException(s"unknown topic $topic"))
      require(newCount > cur.length,
        s"$topic already has ${cur.length} partition(s)")
      topics(topic) = cur ++ Array.fill(newCount - cur.length)(new PartLog)
    }

  /** Retention test hook: drop every message below `upTo` and advance
    * the partition's log-start offset — what a real broker's segment
    * deletion does. */
  def truncate(topic: String, upTo: Long, partition: Int = 0): Unit = {
    val l = logOf(topic, partition)
    l.synchronized {
      val drop = math.min(math.max(upTo - l.base, 0L), l.buf.length.toLong)
      l.buf.remove(0, drop.toInt)
      l.base += drop
    }
  }

  /** Retention test hook: append `msgs` and age the whole log out in
    * one step, under the partition's lock — messages retention took
    * before any consumer could fetch them. */
  def appendExpired(topic: String, msgs: Seq[Array[Byte]],
      partition: Int = 0): Unit = {
    val l = logOf(topic, partition)
    l.synchronized {
      l.buf ++= msgs
      truncate(topic, l.hw, partition)
    }
  }

  private def partsOf(topic: String): Array[PartLog] =
    topics.synchronized {
      topics.getOrElseUpdate(topic, Array.fill(1)(new PartLog))
    }

  private def logOf(topic: String, partition: Int): PartLog = {
    val ps = partsOf(topic)
    require(partition >= 0 && partition < ps.length,
      s"topic $topic has no partition $partition")
    ps(partition)
  }

  /** Open connection sockets, so [[stop]] can drop them — a stopped
    * broker must go silent, not keep answering in-flight requests
    * from half-dead handler threads. */
  private val conns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  private def handle(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (running) {
        val size = in.readInt()
        // frame-size sanity before allocating: a malformed/hostile
        // frame must drop THIS connection, not OOM the broker
        require(size >= 0 && size <= (64 << 20),
          s"unreasonable frame size $size")
        val req = new Array[Byte](size); in.readFully(req)
        val r = new Reader(ByteBuffer.wrap(req))
        val apiKey = r.i16(); val apiVersion = r.i16()
        val corr = r.i32(); r.str() // client id
        require(apiVersion == 0, s"only v0 supported, got $apiVersion")
        val body: Array[Byte] = apiKey match {
          case ApiMetadata => metadata(r)
          case ApiProduce => produce(r)
          case ApiFetch => fetch(r)
          case ApiListOffsets => listOffsets(r)
          case other => throw new IllegalArgumentException(
            s"unsupported api $other")
        }
        val resp = new Writer().i32(corr).raw(body).result()
        out.writeInt(resp.length); out.write(resp); out.flush()
      }
    } catch {
      // IOException = peer went away; any OTHER throw is a malformed
      // frame (bad internal sizes -> BufferUnderflow/NegativeArraySize
      // or the require above) — either way this connection dies
      // cleanly instead of killing the worker with no response and
      // leaving the peer blocked forever
      case _: java.io.IOException => ()
      case scala.util.control.NonFatal(_) => ()
    }
    finally { conns.remove(sock); sock.close() }
  }

  private def metadata(r: Reader): Array[Byte] = {
    val nTopics = r.i32()
    val asked = (0 until nTopics).map(_ => r.str())
    val names =
      if (asked.isEmpty) topics.synchronized(topics.keys.toSeq.sorted)
      else { asked.foreach(partsOf); asked } // auto-create
    val w = new Writer()
    w.i32(1).i32(0).str("localhost").i32(server.getLocalPort) // brokers
    w.i32(names.length)
    names.foreach { t =>
      val nP = partsOf(t).length
      w.i16(0).str(t).i32(nP)
      (0 until nP).foreach { p =>
        w.i16(0).i32(p).i32(0) // partition p, leader node 0
        w.i32(1).i32(0) // replicas [0]
        w.i32(1).i32(0) // isr [0]
      }
    }
    w.result()
  }

  private def produce(r: Reader): Array[Byte] = {
    r.i16(); r.i32() // acks, timeout
    val nTopics = r.i32()
    // (topic, partition, error, base-offset) per produced partition
    val acks = Seq.newBuilder[(String, Int, Int, Long)]
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val setSize = r.i32()
        val set = r.raw(setSize)
        val nP = partsOf(topic).length
        if (partition < 0 || partition >= nP)
          acks += ((topic, partition, 3, -1L)) // UNKNOWN_TOPIC_OR_PARTITION
        else {
          val msgs = ByteBuffer.wrap(set)
          val log = logOf(topic, partition)
          var base = -1L
          log.synchronized {
            while (msgs.remaining() >= 12) {
              msgs.getLong() // producer-side offset, ignored
              val mSize = msgs.getInt()
              val m = new Array[Byte](mSize); msgs.get(m)
              if (base < 0) base = log.hw
              log.buf += m
            }
          }
          acks += ((topic, partition, 0, base))
        }
      }
    }
    val w = new Writer()
    val grouped = acks.result().groupBy(_._1)
    w.i32(grouped.size)
    grouped.toSeq.sortBy(_._1).foreach { case (topic, parts) =>
      w.str(topic).i32(parts.length)
      parts.foreach { case (_, p, err, base) =>
        w.i32(p).i16(err).i64(base) }
    }
    w.result()
  }

  private def fetch(r: Reader): Array[Byte] = {
    r.i32(); r.i32(); r.i32() // replica_id, max_wait, min_bytes
    val nTopics = r.i32()
    val w = new Writer()
    w.i32(nTopics)
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      w.str(topic).i32(nParts)
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val offset = r.i64()
        val maxBytes = r.i32()
        val nP = partsOf(topic).length
        if (partition < 0 || partition >= nP) {
          w.i32(partition).i16(3).i64(-1L).i32(0) // unknown partition
        } else {
          val log = logOf(topic, partition)
          val (base, hw, slice) = log.synchronized {
            (log.base, log.hw,
              if (offset < log.base || offset > log.hw) Seq.empty
              else log.buf.slice(log.idx(offset), log.buf.length).toSeq)
          }
          // error 1 = OFFSET_OUT_OF_RANGE, like a real broker: below
          // the log-start offset (retention truncated past it) or
          // beyond the high-water mark
          if (offset < base || offset > hw) {
            w.i32(partition).i16(1).i64(hw).i32(0)
          } else {
            var budget = maxBytes
            val msgs = Seq.newBuilder[(Long, Array[Byte])]
            var off = offset
            var full = false
            slice.foreach { m =>
              // contiguous prefix only — a budget-skipped message must
              // stop the set (a gap would silently lose messages);
              // always include at least the FIRST message (v0 rule:
              // otherwise a message larger than maxBytes stalls the
              // consumer forever)
              if (!full && (budget - (12 + m.length) >= 0 || off == offset)) {
                msgs += ((off, m)); budget -= (12 + m.length)
              } else full = true
              off += 1
            }
            val set = encodeMessageSet(msgs.result())
            w.i32(partition).i16(0).i64(hw).i32(set.length).raw(set)
          }
        }
      }
    }
    w.result()
  }

  private def listOffsets(r: Reader): Array[Byte] = {
    r.i32() // replica_id
    val nTopics = r.i32()
    val w = new Writer()
    w.i32(nTopics)
    (0 until nTopics).foreach { _ =>
      val topic = r.str()
      val nParts = r.i32()
      w.str(topic).i32(nParts)
      (0 until nParts).foreach { _ =>
        val partition = r.i32()
        val time = r.i64()
        r.i32() // max offsets
        val nP = partsOf(topic).length
        if (partition < 0 || partition >= nP)
          w.i32(partition).i16(3).i32(0) // unknown partition
        else {
          val log = logOf(topic, partition)
          val (base, hw) = log.synchronized((log.base, log.hw))
          // -2 earliest = log-start offset (NOT 0 once truncated), -1
          // latest = high-water — the reset/recovery seam
          val off = if (time == -2L) base else hw
          w.i32(partition).i16(0).i32(1).i64(off)
        }
      }
    }
    w.result()
  }

  def start(): Int = {
    val t = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          conns.add(sock)
          if (!running) sock.close() // raced with stop()
          val worker = new Thread(() => handle(sock))
          worker.setDaemon(true)
          worker.start()
        } catch { case _: java.io.IOException => () }
      }
    }, "graft-kafka-broker")
    t.setDaemon(true)
    t.start()
    server.getLocalPort
  }

  def stop(): Unit = {
    running = false
    server.close()
    conns.forEach(s => try s.close() catch { case _: Exception => () })
    conns.clear()
  }
}

/** Thrown by [[KafkaNativeClient.fetch]] on broker error 1: the
  * requested offset is below the partition's log-start offset
  * (retention truncated past it) or beyond the high-water mark. A
  * consumer recovers by re-seeding from ListOffsets earliest — typed
  * so the poll loop can't confuse it with an empty fetch and spin on
  * a dead offset forever. */
final case class KafkaOffsetOutOfRange(topic: String, partition: Int,
    highWater: Long) extends RuntimeException(
  s"offset out of range on $topic/$partition (high-water $highWater)")

/** v0 producer + consumer over one blocking connection each
  * (api/al_kafka.py get_producer/get_consumer). Thread-safe via a
  * per-client lock; correlation ids are monotonically assigned.
  *
  * Connection lifecycle: the socket dials lazily and RE-DIALS after
  * any IOException — a broker restart or a partially-read (desynced)
  * frame would otherwise leave the client permanently broken while
  * its owner keeps calling it. One transparent retry per call; the
  * retried request is a fresh frame on a fresh socket, so desync
  * can't carry over. A produce retried across the failure is
  * at-least-once — the acks<=1 contract this client already has
  * (matching the reference producer, al_kafka.py:50-121). */
final class KafkaNativeClient(host: String, port: Int) {
  import KafkaWire._

  private var sockOpt: Option[Socket] = None
  private val corr = new java.util.concurrent.atomic.AtomicInteger(1)

  private def sock(): Socket = sockOpt match {
    case Some(s) if !s.isClosed => s
    case _ =>
      val s = new Socket(host, port)
      // a broker that accepts but never answers (or dies mid-frame)
      // must not park this client forever inside its own lock —
      // SocketTimeoutException is an IOException, so the reconnect
      // retry in exchange() handles it
      s.setSoTimeout(30000)
      sockOpt = Some(s); s
  }

  private def dropSocket(): Unit = {
    sockOpt.foreach(s => try s.close() catch { case _: Exception => () })
    sockOpt = None
  }

  /** One framed exchange with a single reconnect retry (see class
    * doc). Callers already hold the client lock. */
  private def exchange(apiKey: Int, body: Array[Byte]): Reader =
    try roundTrip(sock(), apiKey, body, corr.getAndIncrement())
    catch { case _: java.io.IOException =>
      dropSocket()
      roundTrip(sock(), apiKey, body, corr.getAndIncrement())
    }

  /** Produce values (optionally keyed) to a topic partition, acks=1;
    * returns the base offset the broker assigned. */
  def produce(topic: String, values: Seq[(Array[Byte], Array[Byte])],
      partition: Int = 0): Long = synchronized {
    val set = encodeMessageSet(values.zipWithIndex.map { case ((k, v), i) =>
      (i.toLong, encodeMessage(k, v)) })
    val body = new Writer().i16(1).i32(5000)
      .i32(1).str(topic).i32(1).i32(partition)
      .i32(set.length).raw(set).result()
    val r = exchange(ApiProduce, body)
    r.i32() // topic count
    r.str(); r.i32(); r.i32() // topic, partition count, partition
    val err = r.i16()
    require(err == 0, s"produce error $err")
    r.i64()
  }

  def produceStrings(topic: String, values: Seq[String]): Long =
    produce(topic, values.map(v =>
      (null: Array[Byte], v.getBytes(StandardCharsets.UTF_8))))

  /** Fetch from `offset`; returns (offset, key, value) triples and
    * the current high-water mark. Empty when caught up. Throws
    * [[KafkaOffsetOutOfRange]] when the offset fell outside the log
    * (broker retention) — distinct from an empty fetch, so the
    * caller's reset path is unmistakable. */
  def fetch(topic: String, offset: Long, maxBytes: Int = 1 << 20,
      partition: Int = 0)
      : (Seq[(Long, Array[Byte], Array[Byte])], Long) = synchronized {
    val body = new Writer().i32(-1).i32(100).i32(1)
      .i32(1).str(topic).i32(1).i32(partition)
      .i64(offset).i32(maxBytes).result()
    val r = exchange(ApiFetch, body)
    r.i32(); r.str(); r.i32(); r.i32() // topics, topic, parts, part
    val err = r.i16()
    val hw = r.i64()
    val setSize = r.i32()
    if (err == 1) throw KafkaOffsetOutOfRange(topic, partition, hw)
    require(err == 0, s"fetch error $err")
    (decodeMessageSet(r.raw(setSize)), hw)
  }

  /** ListOffsets: earliest (time = -2, the log-START offset — not 0
    * once retention has truncated) or latest (-1) —
    * auto_offset_reset in al_kafka.py:124. */
  def listOffset(topic: String, earliest: Boolean,
      partition: Int = 0): Long = synchronized {
    val body = new Writer().i32(-1)
      .i32(1).str(topic).i32(1).i32(partition)
      .i64(if (earliest) -2L else -1L).i32(1).result()
    val r = exchange(ApiListOffsets, body)
    r.i32(); r.str(); r.i32(); r.i32() // topics, topic, parts, part
    val err = r.i16()
    require(err == 0, s"listOffsets error $err")
    val n = r.i32()
    require(n >= 1, "no offsets returned")
    r.i64()
  }

  /** Metadata probe — returns the topic's partition count; used as
    * the connectivity check and to enumerate partitions to poll. */
  def partitions(topic: String): Int = synchronized {
    val body = new Writer().i32(1).str(topic).result()
    val r = exchange(ApiMetadata, body)
    val nBrokers = r.i32()
    (0 until nBrokers).foreach { _ => r.i32(); r.str(); r.i32() }
    r.i32() // topic count
    r.i16(); r.str() // error, name
    r.i32()
  }

  def close(): Unit = synchronized { dropSocket() }
}
