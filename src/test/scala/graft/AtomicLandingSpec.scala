package graft

/** Landings appear whole: the msg client stages each PUBLISH in a
  * hidden dir beside the watch dir and renames it in, so a lister
  * (Spark's file source, here a tight poller) never sees a `.json` file
  * still being written, and no temp file outlives its landing. */
class AtomicLandingSpec extends SparkSpec {
  import graft.engine.{Catalog, Engine}
  import graft.streaming.MqttBroker

  /** Raw MQTT 3.1.1 QoS 1 publisher with the varint remaining length
    * that multi-megabyte frames need. */
  private def publish(port: Int, topic: String, msgs: Seq[String]): Unit = {
    def remLen(n: Int): Array[Byte] = {
      val b = scala.collection.mutable.ArrayBuffer[Byte]()
      var x = n
      while ({
        var d = x % 128; x /= 128
        if (x > 0) d |= 0x80
        b += d.toByte
        x > 0
      }) ()
      b.toArray
    }
    val sock = new java.net.Socket("localhost", port)
    try {
      val os = new java.io.BufferedOutputStream(sock.getOutputStream)
      val is = sock.getInputStream
      val cid = "bigpub".getBytes("UTF-8")
      val conn = Array[Byte](0, 4, 'M', 'Q', 'T', 'T', 4, 2, 0, 60) ++
        Array[Byte](0, cid.length.toByte) ++ cid
      os.write(Array[Byte](0x10) ++ remLen(conn.length) ++ conn)
      os.flush()
      assert((is.read() >> 4) === 2) // CONNACK
      is.skip(is.read().toLong)
      msgs.zipWithIndex.foreach { case (m, i) =>
        val t = topic.getBytes("UTF-8")
        val body = Array[Byte](0, t.length.toByte) ++ t ++
          Array[Byte](0, (i + 1).toByte) ++ m.getBytes("UTF-8")
        os.write(Array[Byte](0x32) ++ remLen(body.length) ++ body)
        os.flush()
        assert((is.read() >> 4) === 4) // PUBACK from the broker
        is.skip(is.read().toLong)
      }
    } finally sock.close()
  }

  test("a poller finds every visible landing complete while large " +
      "payloads land, and no temp file is left behind") {
    val watch = java.nio.file.Files.createTempDirectory("atomic_land")
    val pad = "x" * (8 << 20)
    val msgs = (0 until 6).map(i => s"""{"device": "b$i", "pad": "$pad"}""")
    val size = msgs.head.length.toLong
    val broker = new MqttBroker((_, _) => ())
    val port = broker.start()
    val engine = new Engine(spark, new Catalog(spark))
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val whole = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    @volatile var polling = true
    val poller = new Thread(() =>
      while (polling) {
        Option(watch.toFile.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".json") &&
            !whole.contains(f.getName))
          .foreach { f =>
            val got = java.nio.file.Files.readAllBytes(f.toPath).length
            if (got == size) whole.add(f.getName)
            else torn.add(s"${f.getName}: $got of $size bytes")
          }
      })
    poller.setDaemon(true)
    try {
      engine.execute(s"run msg client where broker = localhost and " +
        s"port = $port and topic = big/# and dir = $watch and qos = 1")
      poller.start()
      publish(port, "big/a", msgs)
      val deadline = System.currentTimeMillis + 30000
      while (whole.size < msgs.size && System.currentTimeMillis < deadline)
        Thread.sleep(20)
      polling = false
      poller.join(10000)
      assert(torn.isEmpty,
        s"${torn.size} torn reads: ${torn.toArray.take(5).mkString("; ")}")
      assert(whole.size === msgs.size)
      val left = watch.toFile.list().toSeq
      assert(left.count(_.endsWith(".json")) === msgs.size)
      assert(left.filter(_.startsWith(".")).isEmpty, left.mkString(", "))
      val stage = watch.resolveSibling(s".${watch.getFileName}.landing")
      assert(Option(stage.toFile.list()).forall(_.isEmpty))
    } finally {
      polling = false
      engine.execute("exit msg client")
      broker.stop()
    }
  }
}
