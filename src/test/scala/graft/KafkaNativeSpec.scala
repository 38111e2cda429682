package graft

import java.nio.charset.StandardCharsets

import graft.streaming.{KafkaMiniBroker, KafkaNativeClient, KafkaWire}

/** Native Kafka wire-protocol stack (v0 Metadata/Produce/Fetch/
  * ListOffsets) — the §2.1 Kafka row without a connector jar, the
  * MQTT-broker treatment applied to Kafka (reference consumer
  * api/al_kafka.py:124-226, cmd `run kafka consumer`
  * member_cmd.py:21481, producer dest kafka@host:port). */
class KafkaNativeSpec extends SparkSpec {

  private def s(b: Array[Byte]) = new String(b, StandardCharsets.UTF_8)

  test("produce/fetch roundtrip: offsets are contiguous, CRC verified, " +
      "fetch from an interior offset returns the suffix") {
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      assert(c.partitions("t1") === 1) // metadata auto-creates
      assert(c.produceStrings("t1", Seq("a", "b")) === 0L)
      assert(c.produceStrings("t1", Seq("c")) === 2L)
      val (msgs, hw) = c.fetch("t1", 0L)
      assert(hw === 3L)
      assert(msgs.map(_._1) === Seq(0L, 1L, 2L))
      assert(msgs.map(m => s(m._3)) === Seq("a", "b", "c"))
      val (tail, _) = c.fetch("t1", 2L)
      assert(tail.map(m => s(m._3)) === Seq("c"))
      val (empty, hw2) = c.fetch("t1", 3L) // caught up
      assert(empty.isEmpty && hw2 === 3L)
      // keyed messages round-trip key AND value
      c.produce("t2", Seq(("k1".getBytes, "v1".getBytes)))
      val (keyed, _) = c.fetch("t2", 0L)
      assert(s(keyed.head._2) === "k1" && s(keyed.head._3) === "v1")
    } finally { c.close(); broker.stop() }
  }

  test("listOffsets: earliest = 0, latest = high-water (the reset knob)") {
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      c.produceStrings("t", Seq("x", "y"))
      assert(c.listOffset("t", earliest = true) === 0L)
      assert(c.listOffset("t", earliest = false) === 2L)
    } finally { c.close(); broker.stop() }
  }

  test("maxBytes caps the fetch to a contiguous prefix; a later fetch " +
      "resumes where it stopped (no gaps, no stall)") {
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      c.produceStrings("big", Seq("m" * 100, "n" * 100, "o" * 100))
      val (first, _) = c.fetch("big", 0L, maxBytes = 150)
      assert(first.map(_._1) === Seq(0L)) // one message fits (barely)
      val (rest, _) = c.fetch("big", 1L, maxBytes = 1 << 20)
      assert(rest.map(_._1) === Seq(1L, 2L))
    } finally { c.close(); broker.stop() }
  }

  test("retention truncation: fetch below log start throws typed " +
      "OFFSET_OUT_OF_RANGE; ListOffsets earliest returns the " +
      "surviving log-start offset, not 0") {
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      c.produceStrings("r", Seq("a", "b", "c", "d", "e"))
      broker.truncate("r", 3L) // retention ate offsets 0..2
      val oor = intercept[graft.streaming.KafkaOffsetOutOfRange](
        c.fetch("r", 0L))
      assert(oor.highWater === 5L)
      assert(c.listOffset("r", earliest = true) === 3L)
      assert(c.listOffset("r", earliest = false) === 5L)
      val (msgs, _) = c.fetch("r", 3L)
      assert(msgs.map(m => s(m._3)) === Seq("d", "e"))
      // appends after truncation keep absolute offsets
      assert(c.produceStrings("r", Seq("f")) === 5L)
    } finally { c.close(); broker.stop() }
  }

  test("multi-partition topic: metadata reports the count, produce " +
      "routes by partition, fetch serves each partition to completion") {
    val broker = new KafkaMiniBroker()
    broker.createTopic("mp", 3)
    val port = broker.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      assert(c.partitions("mp") === 3)
      c.produce("mp", Seq((null, "p0a".getBytes), (null, "p0b".getBytes)),
        partition = 0)
      c.produce("mp", Seq((null, "p1a".getBytes)), partition = 1)
      c.produce("mp", Seq((null, "p2a".getBytes)), partition = 2)
      val all = (0 until 3).flatMap { p =>
        c.fetch("mp", 0L, partition = p)._1.map(m => s(m._3)) }
      assert(all.sorted === Seq("p0a", "p0b", "p1a", "p2a"))
      // per-partition offsets are independent
      assert(c.listOffset("mp", earliest = false, partition = 0) === 2L)
      assert(c.listOffset("mp", earliest = false, partition = 1) === 1L)
      // unknown partition answers error, not a hang or crash
      intercept[IllegalArgumentException](c.fetch("mp", 0L, partition = 9))
    } finally { c.close(); broker.stop() }
  }

  test("client survives a broker restart: IOException re-dials the " +
      "socket instead of leaving the connection permanently broken") {
    val b1 = new KafkaMiniBroker()
    val port = b1.start()
    val c = new KafkaNativeClient("localhost", port)
    try {
      c.produceStrings("t", Seq("before"))
      b1.stop()
      Thread.sleep(100)
      // same port, fresh broker (empty log — a restart, not HA)
      val b2 = new KafkaMiniBroker(port)
      b2.start()
      try {
        // first call hits the dead socket, retries on a fresh dial
        assert(c.produceStrings("t", Seq("after")) === 0L)
        val (msgs, _) = c.fetch("t", 0L)
        assert(msgs.map(m => s(m._3)) === Seq("after"))
      } finally b2.stop()
    } finally c.close()
  }

  test("message CRC corruption is detected, never silently decoded") {
    val m = KafkaWire.encodeMessage(null, "hello".getBytes)
    m(m.length - 1) = (m(m.length - 1) ^ 0x1).toByte
    val set = KafkaWire.encodeMessageSet(Seq((0L, m)))
    intercept[IllegalArgumentException](KafkaWire.decodeMessageSet(set))
  }

  test("engine chain: run kafka consumer lands polled messages in the " +
      "watch dir; reset honored; board row flips; exit stops the loop") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kafkaland")
      val engine = new Engine(spark, new Catalog(spark))
      // pre-existing message: reset = latest must NOT land it
      producer.produceStrings("sensors", Seq("""{"old": 1}"""))
      val out = engine.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = sensors and dir = $dir " +
        "and reset = latest and poll = 50")
      assert(out.contains("kafka consumer polling sensors"))
      producer.produceStrings("sensors",
        Seq("""{"device": "d1", "value": 7}""",
          """{"device": "d2", "value": 9}"""))
      val deadline = System.currentTimeMillis + 10000
      // a fetch batch lands as ONE NDJSON file (one message per line)
      def lines() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      while (lines().size < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      val bodies = lines().sorted
      assert(bodies.size === 2, s"landed $bodies")
      assert(bodies.exists(_.contains("\"d1\"")) &&
        bodies.exists(_.contains("\"d2\"")))
      assert(!bodies.exists(_.contains("old")), "reset=latest replayed")
      assert(engine.execute("get processes").linesIterator.exists(l =>
        l.contains("Kafka Consumer") && l.contains("Running") &&
          l.contains("sensors")))
      assert(engine.execute("exit kafka consumer")
        === "stopped 1 kafka consumer(s)")
      val after = engine.execute("get processes")
      assert(after.linesIterator.exists(l =>
        l.contains("Kafka Consumer") && l.contains("Not declared")))
    } finally { producer.close(); broker.stop() }
  }

  test("run kafka consumer consumes EVERY partition of a " +
      "multi-partition topic to completion") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    broker.createTopic("mp2", 2)
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kafkamp")
      val engine = new Engine(spark, new Catalog(spark))
      engine.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = mp2 and dir = $dir " +
        "and reset = earliest and poll = 50")
      producer.produce("mp2", Seq((null, """{"p": 0}""".getBytes),
        (null, """{"p": 100}""".getBytes)), partition = 0)
      producer.produce("mp2", Seq((null, """{"p": 1}""".getBytes)),
        partition = 1)
      def lines() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      val deadline = System.currentTimeMillis + 10000
      while (lines().size < 3 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      assert(lines().toSet ===
        Set("""{"p": 0}""", """{"p": 1}""", """{"p": 100}"""))
      engine.execute("exit kafka consumer")
    } finally { producer.close(); broker.stop() }
  }

  test("run kafka consumer discovers partitions ADDED while it runs " +
      "(periodic metadata re-probe) and consumes them from earliest") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    broker.createTopic("grow", 1)
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kafkagrow")
      val engine = new Engine(spark, new Catalog(spark))
      engine.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = grow and dir = $dir " +
        "and reset = earliest and poll = 10")
      producer.produceStrings("grow", Seq("""{"p": "zero"}"""))
      def lines() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      var deadline = System.currentTimeMillis + 10000
      while (lines().isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      assert(lines().size === 1)
      // the topic grows under the live consumer — kafka-topics --alter
      broker.addPartitions("grow", 3)
      producer.produce("grow", Seq((null, """{"p": "one"}""".getBytes)),
        partition = 1)
      producer.produce("grow", Seq((null, """{"p": "two"}""".getBytes)),
        partition = 2)
      // ~50 poll rounds at 10 ms until the next metadata re-probe
      deadline = System.currentTimeMillis + 20000
      while (lines().size < 3 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(lines().toSet === Set("""{"p": "zero"}""",
        """{"p": "one"}""", """{"p": "two"}"""),
        s"discovered-partition messages missing: ${lines()}")
      engine.execute("exit kafka consumer")
    } finally { producer.close(); broker.stop() }
  }

  test("run kafka consumer recovers from broker retention: offset " +
      "out of range re-seeds to the surviving log start instead of " +
      "spinning forever") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kafkatrunc")
      val engine = new Engine(spark, new Catalog(spark))
      // long poll: after draining, the consumer sleeps 2 s — a
      // deterministic window to truncate out from under it
      engine.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = tr and dir = $dir " +
        "and reset = latest and poll = 2000")
      def lines() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      producer.produceStrings("tr",
        Seq("""{"m": "a"}""", """{"m": "b"}"""))
      var deadline = System.currentTimeMillis + 10000
      while (lines().size < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      assert(lines().size === 2, s"setup batch: ${lines()}")
      // consumer is drained at offset 2: retention now eats the WHOLE
      // log including 4 messages it never saw (appended and truncated
      // in one step, so no fetch can see them)
      broker.appendExpired("tr",
        (0 until 4).map(i => s"""{"lost": $i}""".getBytes))
      producer.produceStrings("tr", Seq("""{"m": "recovered"}"""))
      deadline = System.currentTimeMillis + 15000
      while (!lines().exists(_.contains("recovered")) &&
          System.currentTimeMillis < deadline) Thread.sleep(50)
      val got = lines()
      assert(got.exists(_.contains("recovered")),
        s"consumer never recovered from truncation: $got")
      assert(!got.exists(_.contains("lost")),
        "truncated messages cannot reappear")
      engine.execute("exit kafka consumer")
    } finally { producer.close(); broker.stop() }
  }

  test("dest = kafka@ publishes over the native producer by default") {
    import graft.engine.{Catalog, Engine, Tables}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val check = new KafkaNativeClient("localhost", port)
    try {
      val cat = new Catalog(spark)
      cat.registerTable("nation", s"$sfDir/nation.parquet")
      val engine = new Engine(spark, cat)
      engine.execute(s"sql edge dest=kafka@localhost:$port " +
        "topic=results format=json " +
        """"select n_name from nation order by n_name limit 2"""")
      val (msgs, _) = check.fetch("results", 0L)
      assert(msgs.size === 1)
      val payload = new String(msgs.head._3, StandardCharsets.UTF_8)
      assert(payload.contains("n_name"), payload)
    } finally { check.close(); broker.stop() }
  }
}

/** The COMPLETE Kafka ingest chain, mirroring MqttClientChainE2ESpec:
  * native producer → mini broker → `run kafka consumer` (lands NDJSON
  * in a watch dir) → `run streamer` (policy mapping + transactional
  * sink) → queryable table. Kafka vs MQTT is purely the transport
  * leg; everything downstream is shared. */
class KafkaChainE2ESpec extends SparkSpec {
  import graft.engine.{Catalog, Engine}
  import graft.streaming.{KafkaMiniBroker, KafkaNativeClient}

  test("kafka consumer + streamer: produced readings become sql rows") {
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val root = java.nio.file.Files.createTempDirectory("kchain")
      val land = root.resolve("land")
      val cat = new Catalog(spark)
      val engine = new Engine(spark, cat)
      engine.dataDir = Some(root.resolve("data").toString)
      engine.execute("""policy add kp {"mapping": {
        "dbms": "iot", "table": "kreadings",
        "schema": {
          "device": {"type": "varchar", "bring": "[device]"},
          "value": {"type": "float", "bring": "[value]"}
        }}}""")
      engine.execute(s"run kafka consumer where ip = localhost and " +
        s"port = $port and topic = telemetry and dir = $land " +
        "and reset = earliest and poll = 50")
      engine.execute(s"run streamer where dir = $land and " +
        "table = kreadings and policy = kp and flush = 1")
      producer.produceStrings("telemetry",
        Seq("""{"device": "k1", "value": 1.0}""",
          """{"device": "k2", "value": 2.0}""",
          """{"device": "k1", "value": 3.0}"""))
      val q = engine.streamerQueries("kreadings")
      val deadline = System.currentTimeMillis + 15000
      def rows() =
        try cat.table("kreadings").count() catch { case _: Exception => 0L }
      while (rows() < 3 && System.currentTimeMillis < deadline) {
        q.processAllAvailable(); Thread.sleep(50)
      }
      assert(rows() === 3L)
      val reply = engine.execute(
        """sql edge format=json "select device, count(*) as n """ +
          """from kreadings group by device order by device"""")
      assert(reply.contains(""""device":"k1","n":2"""), reply)
      engine.execute("exit kafka consumer")
      engine.execute("exit streamer")
    } finally { producer.close(); broker.stop() }
  }

  test("consumer restart resumes from the journaled offset: every " +
      "message lands exactly once across stop/restart (catalog-root " +
      "offset journal beats the reset policy)") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val root = java.nio.file.Files.createTempDirectory("kafkaroot")
      val dir = java.nio.file.Files.createTempDirectory("kafkaonce")
      def lines() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .filter(_.isFile)
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      val e1 = new Engine(spark, new Catalog(spark, Some(root)))
      e1.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = once and dir = $dir " +
        "and reset = earliest and poll = 50")
      producer.produceStrings("once",
        Seq("""{"m": 1}""", """{"m": 2}""", """{"m": 3}"""))
      var deadline = System.currentTimeMillis + 10000
      while (lines().size < 3 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      assert(lines().size === 3, s"first run landed ${lines()}")
      e1.execute("exit kafka consumer")
      // journal persisted beside the catalog files (name carries a
      // topic hash so sanitized collisions can't share a file)
      assert(Option(root.toFile.listFiles()).getOrElse(Array.empty)
        .exists(_.getName.matches("kafkaoff_once_[0-9a-f]+\\.json")),
        "offset journal not persisted")
      // restart: a FRESH catalog reloads the journal; reset=earliest
      // would re-land all 3 retained messages without it
      val e2 = new Engine(spark, new Catalog(spark, Some(root)))
      e2.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = once and dir = $dir " +
        "and reset = earliest and poll = 50")
      producer.produceStrings("once",
        Seq("""{"m": 4}""", """{"m": 5}"""))
      deadline = System.currentTimeMillis + 10000
      while (lines().size < 5 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      // settle window: duplicates from a replay would land right away
      Thread.sleep(400)
      val got = lines()
      assert(got.size === 5, s"exactly-once violated: $got")
      assert((1 to 5).forall(i => got.count(_.contains(s"\"m\": $i")) == 1),
        s"per-message exactly-once violated: $got")
      e2.execute("exit kafka consumer")
    } finally { producer.close(); broker.stop() }
  }

  test("embedded-newline payloads: pretty-printed JSON re-serializes " +
      "compact (ONE row per message); a non-JSON multiline payload " +
      "routes to the err dir, never the landing") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    val producer = new KafkaNativeClient("localhost", port)
    try {
      val dir = java.nio.file.Files.createTempDirectory("kafkandjson")
      val engine = new Engine(spark, new Catalog(spark))
      engine.execute(s"run kafka consumer where ip = localhost " +
        s"and port = $port and topic = nd and dir = $dir " +
        "and reset = earliest and poll = 50")
      val pretty = "{\n  \"device\": \"p1\",\n  \"value\": 42\n}"
      val garbage = "not json\nat all"
      val garbage1l = "also not json, single line"
      producer.produceStrings("nd", Seq(pretty, garbage, garbage1l,
        """{"device": "ok", "value": 1}"""))
      def landed() =
        Option(dir.toFile.listFiles()).getOrElse(Array.empty).toSeq
          .filter(_.isFile)
          .flatMap(f => java.nio.file.Files.readString(f.toPath)
            .linesIterator.toSeq)
      val deadline = System.currentTimeMillis + 10000
      while (landed().size < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(30)
      val got = landed()
      assert(got.size === 2, s"landing: $got")
      // the pretty payload became exactly one compact line
      val compactLine = got.filter(_.contains("p1"))
      assert(compactLine.size === 1 && !compactLine.head.contains("\n") &&
        compactLine.head.contains("42"), s"compacted: $compactLine")
      // the garbage routed to the SIBLING err dir intact (beside the
      // watch dir, never inside it — the streamer's file source must
      // not see .bad files as data)
      val errDir = dir.resolveSibling(
        dir.getFileName.toString + ".err").toFile
      val errFiles = Option(errDir.listFiles()).getOrElse(Array.empty)
      assert(errFiles.length === 2, s"err dir: ${errFiles.toSeq}")
      val errBodies = errFiles.map(f =>
        java.nio.file.Files.readString(f.toPath)).toSet
      // BOTH garbage shapes quarantined: multiline AND single-line
      // (a single-line non-JSON line would otherwise corrupt the
      // landing just as surely, one failed row at a time)
      assert(errBodies === Set(garbage, garbage1l), errBodies.toString)
      engine.execute("exit kafka consumer")
    } finally { producer.close(); broker.stop() }
  }

  test("the offset-journal topic claim is as wide as the journal: a " +
      "SECOND engine over the same catalog root is refused the topic " +
      "while the first polls it, and admitted after exit") {
    import graft.engine.{Catalog, Engine}
    val broker = new KafkaMiniBroker()
    val port = broker.start()
    try {
      val root = java.nio.file.Files.createTempDirectory("kclaim")
      val d1 = java.nio.file.Files.createTempDirectory("kclaim1")
      val d2 = java.nio.file.Files.createTempDirectory("kclaim2")
      val e1 = new Engine(spark, new Catalog(spark, Some(root)))
      val e2 = new Engine(spark, new Catalog(spark, Some(root)))
      e1.execute(s"run kafka consumer where ip = localhost and " +
        s"port = $port and topic = claimed and dir = $d1 " +
        "and reset = earliest and poll = 50")
      // same topic, same journal scope, DIFFERENT engine: refused —
      // two live cursors would clobber each other's restart point
      val ex = intercept[IllegalArgumentException](e2.execute(
        s"run kafka consumer where ip = localhost and port = $port " +
          s"and topic = claimed and dir = $d2 and reset = earliest"))
      assert(ex.getMessage.contains("already polling topic claimed"))
      // a DIFFERENT topic on the second engine is fine
      e2.execute(s"run kafka consumer where ip = localhost and " +
        s"port = $port and topic = other and dir = $d2 " +
        "and reset = earliest and poll = 50")
      // after the first exits, the claim releases and e2 may take it
      e1.execute("exit kafka consumer")
      e2.execute(s"run kafka consumer where ip = localhost and " +
        s"port = $port and topic = claimed and dir = $d2 " +
        "and reset = earliest and poll = 50")
      e2.execute("exit kafka consumer")
    } finally broker.stop()
  }
}
