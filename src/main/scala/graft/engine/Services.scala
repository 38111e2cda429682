package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong,
  AtomicReference}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.Engine.{arg, reqArg}
import graft.streaming.Landing

/** The node's background services: the `get processes` board
  * (member_cmd.py:8521 get_processes_stat — every service reports
  * Running / Not declared plus a details line) and the four ingest
  * services behind `run|exit kafka consumer`, `run plc client` / `exit
  * plc`, `run|exit msg client` and `run|exit streamer`. The reference
  * runs its Kafka, PLC and MQTT clients and its streamer on one
  * poll-and-land design; here the four share one lifecycle:
  *  - a started service is registered under its recorded artifact key
  *    (`kafka consumer:<topics>`, `plc client:<name>`, `msg
  *    client:<topics>`, `streamer:<table>`), and the command that
  *    started it is recorded, so `attach all` after an engine restart
  *    re-issues it;
  *  - re-declaring a live service with its recorded command is a no-op
  *    answered with the service's "already ..." reply (a retried
  *    command, the attach-all replay); a different command is refused
  *    loudly — silently keeping the old configuration would make the
  *    new command a 200-status lie;
  *  - its board row reads Running with the live services' details,
  *    else Not declared with the command that starts one;
  *  - an exit halts it, joins its poll thread, and drops the record, so
  *    a stopped service stays stopped across `attach all`.
  * Each command's lock class is decided in [[Engine.commands]]. */
private[engine] final class Services(engine: Engine) {
  import Services._

  private def catalog = engine.catalog

  /** One started ingest service. `halt` asks it to stop (a stop flag,
    * a query or client stop); `thread`, when it polls on one, is joined
    * on exit; `query` is a streamer's streaming query. */
  private final class Service(val kind: Kind, val live: () => Boolean,
      val detail: () => String, val halt: () => Unit,
      val thread: Option[Thread] = None,
      val query: Option[StreamingQuery] = None)

  /** Started services by artifact key, in start order. */
  private val running = mutable.LinkedHashMap.empty[String, Service]

  /** Start the service `key` that command `t` declares, unless it is
    * live: then `t` must be its recorded command (answered `same`), or
    * the re-declaration is refused naming `what`. `start` starts the
    * service and returns it with the reply; a dead service under the
    * same key is superseded. The run commands are Write entries, so the
    * check and the insert cannot interleave with another declaration. */
  private def declare(key: String, t: String, what: String, same: String)(
      start: => (Service, String)): String =
    if (running.synchronized(running.get(key)).exists(_.live())) {
      val recorded = catalog.artifactRecord(key)
      require(recorded.contains(t.trim),
        s"$what already running with a different configuration — exit " +
          s"it first (recorded: ${recorded.getOrElse("?")})")
      same
    } else {
      val (service, reply) = start
      running.synchronized(running.put(key, service)).foreach(_.halt())
      catalog.recordArtifact(key, t.trim)
      reply
    }

  /** Exit the services under `keys` and drop their records. Every one
    * is halted first, so an in-flight landing (file write + offset
    * journal) finishes: an interrupt inside that window aborts the write
    * via `ClosedByInterruptException` after bytes hit disk, truncating
    * the landing or re-landing the batch on restart. Only a thread
    * still alive after a 1.5 s join (parked in a poll sleep or a wedged
    * socket) is interrupted, then joined again. Returns how many
    * services were registered under `keys`. */
  private def exit(keys: Seq[String]): Int = {
    val victims = running.synchronized(keys.flatMap(running.remove))
    victims.foreach(_.halt())
    val threads = victims.flatMap(_.thread)
    threads.foreach(_.join(1500))
    threads.foreach(th => if (th.isAlive) th.interrupt())
    threads.foreach(_.join(2000))
    keys.foreach(catalog.removeArtifact)
    victims.size
  }

  private def keysOf(kind: Kind): Seq[String] = running.synchronized(
    running.collect { case (k, s) if s.kind eq kind => k }.toSeq)

  /** Live watch-dir streamers' queries by table. */
  def streamerQueries: Map[String, StreamingQuery] = running.synchronized(
    running.iterator.flatMap { case (k, s) =>
      s.query.map(k.stripPrefix("streamer:") -> _) }.toMap)

  /** Board rows registered by components outside this class (the REST
    * frontend, [[HttpFrontend.start]]); one replaces the fixed row of
    * the same name. */
  private val registered = new java.util.concurrent.ConcurrentHashMap[
    String, (() => Boolean, () => String)]()

  def registerService(name: String, active: () => Boolean,
      details: () => String): Unit = registered.put(name, (active, details))

  private def row(kind: Kind): (String, Boolean, String) = {
    val live = running.synchronized(running.values.toSeq)
      .filter(s => (s.kind eq kind) && s.live())
    if (live.isEmpty) (kind.board, false, kind.hint)
    else (kind.board, true, kind.summary(live.map(_.detail())))
  }

  /** `get processes [where format = json]`: the fixed board in the
    * reference's order, then any other registered rows by name. The
    * out-of-scope services report Not declared with their scope note as
    * details. */
  def processes(json: Boolean): String = {
    import scala.jdk.CollectionConverters._
    val dynamic = registered.asScala.toMap
    def fixed(name: String, active: => Boolean, details: => String) =
      dynamic.get(name).fold((name, active, details))(v =>
        (name, v._1(), v._2()))
    val sched = engine.taskScheduler
    val board = Seq(
      fixed("TCP Server", false,
        "out of parity scope (SURVEY: the reference's native block " +
          "protocol; Spark exchanges replace it)"),
      fixed("REST Server", false, ""),
      fixed("Operator", engine.dataDir.isDefined,
        engine.dataDir.fold("")(d => s"ingest root $d")),
      fixed("Message Broker", false, ""),
      row(MsgClient),
      row(Streamer),
      fixed("Scheduler", sched.ids.exists(sched.isRunning), {
        val on = sched.ids.filter(sched.isRunning)
        if (on.isEmpty) "" else s"scheduler id(s) ${on.mkString(", ")}" }),
      fixed("Blockchain Sync", false,
        "policy store is local and synchronous here (no background " +
          "sync thread needed)"),
      row(KafkaConsumer),
      row(PlcClient))
    val rows = (board ++ dynamic.keys.filterNot(board.map(_._1).contains)
      .toSeq.sorted.map { n => val (a, d) = dynamic(n); (n, a(), d()) })
      .map { case (n, a, d) => (n, if (a) "Running" else "Not declared", d) }
    // user-supplied strings (topic names, watch-dir paths) reach the
    // details cell — escape them or a quote/backslash yields invalid
    // JSON output
    def jstr(s: String): String = Render.jsonStr(s)
    if (json)
      rows.map { case (n, st, d) =>
        val detail = if (d.isEmpty) "" else s""", "Details": ${jstr(d)}"""
        s"""${jstr(n)}: {"Status": ${jstr(st)}$detail}"""
      }.mkString("{", ", ", "}")
    else renderBoard(Seq("Process", "Status", "Details"),
      rows.map(r => Seq(r._1, r._2, r._3)))
  }

  /** `run kafka consumer where ip = <host> and port = <n> and
    * topic = <t>[,<t2>…] and dir = <landing> [and reset =
    * earliest|latest] [and poll = <ms>]` — the reference's Kafka
    * client mode (cmd/member_cmd.py:21481, api/al_kafka.py:124-226:
    * subscribe and continuously poll, `reset` = auto_offset_reset),
    * over the NATIVE v0 wire client — no connector jar. Every polled
    * message value lands as one NDJSON file in the watch dir, so the
    * ordinary watch-dir → mapping-policy → table chain takes over:
    * the same downstream as `run msg client`, making Kafka vs MQTT
    * purely a which-transport choice (the reference routes both
    * through the same mapping machinery). The board shows each live
    * consumer's topics, with its degraded streak and consumer lag. */
  def runKafkaConsumer(t: String): String = {
    val host = reqArg(t, "ip", "run kafka consumer")
    val port = reqArg(t, "port", "run kafka consumer").toInt
    val topics = reqArg(t, "topic", "run kafka consumer").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val dir = Paths.get(reqArg(t, "dir", "run kafka consumer"))
    Files.createDirectories(dir)
    val earliest =
      arg(t, "reset").map(_.toLowerCase).getOrElse("latest") match {
        case "earliest" => true
        case "latest" => false
        case other => throw new IllegalArgumentException(
          s"reset must be earliest|latest, got $other")
      }
    val pollMs = arg(t, "poll").map(_.toLong).getOrElse(500L)
    val names = topics.mkString(", ")
    declare(s"kafka consumer:${topics.mkString(",")}", t,
        s"kafka consumer for $names",
        s"kafka consumer already polling $names") {
      // one live consumer per topic per OFFSET JOURNAL: the journal is
      // keyed (topic, partition) under the catalog root, so a second
      // consumer of the same topic — from this engine OR another engine
      // over the same root — would clobber the first's cursor and turn
      // its restart resume into silent message loss. The claim registry
      // is JVM-wide and keyed by the root ([[Services.kafkaTopicClaims]]),
      // as wide as the journal it protects; the reference gets the same
      // exclusion from its consumer group — here the journal scope IS
      // the group. Claims release on exit and on poll-thread death.
      val scopeClaims = kafkaTopicClaims.computeIfAbsent(
        claimScope(catalog, engine),
        _ => new java.util.concurrent.ConcurrentHashMap[
          String, java.lang.Boolean]())
      val claimed = topics.takeWhile(
        scopeClaims.putIfAbsent(_, java.lang.Boolean.TRUE) == null)
      if (claimed.size < topics.size) {
        claimed.foreach(scopeClaims.remove(_)) // roll back partial claims
        throw new IllegalArgumentException(
          s"kafka consumer already polling topic ${topics(claimed.size)} " +
            "against this offset journal — exit it first (the per-topic " +
            "journal admits one cursor per metadata root)")
      }
      val client = new graft.streaming.KafkaNativeClient(host, port)
      // connectivity + auto-create probe; enumerate EVERY partition the
      // Metadata response reports (not just partition 0) and seed each
      // partition's starting offset independently. Partition counts are
      // RE-PROBED periodically in the loop: a repartitioned topic's new
      // partitions are picked up live (seeded from earliest — everything
      // in a NEW partition is data this consumer has never seen,
      // whatever the initial reset policy was). A probe failure here
      // (broker down) must release the topic claims before propagating,
      // or the failed connect would block every retry forever.
      val (partCount, offsets) =
        try {
          val pc = mutable.Map(topics.map(tp => tp -> client.partitions(tp)): _*)
          // seed order: the catalog's journaled cursor FIRST (the
          // offset after the last batch this node landed — a restarted
          // consumer resumes there, re-ingesting nothing), then the
          // reset policy for a partition never consumed here before
          val off = mutable.Map(topics.flatMap { tp =>
            (0 until pc(tp)).map(p =>
              (tp, p) -> catalog.kafkaOffset(tp, p)
                .getOrElse(client.listOffset(tp, earliest, p)))
          }: _*)
          (pc, off)
        } catch {
          case e: Throwable =>
            topics.foreach(scopeClaims.remove(_))
            try client.close()
            catch { case NonFatal(_) => () }
            throw e
        }
      // high-water marks from the last fetch, for the board's lag figure
      val hws = mutable.Map.empty[(String, Int), Long]
      val stop = new AtomicBoolean(false)
      val n = new AtomicInteger
      val epoch = java.lang.Long.toHexString(System.nanoTime())
      // "" while polling cleanly; the degraded streak and lag otherwise,
      // so a broker outage shows on the board instead of hiding behind
      // a Running status
      val health = new AtomicReference[String]("")
      // consecutive-failure streaks PER (topic, partition) — a healthy
      // partition's success must not erase the degraded status of a
      // persistently failing sibling (poll-thread-private)
      val errStreaks = mutable.Map.empty[(String, Int), Int]
      val th = new Thread(() => try {
        var rounds = 0L
        while (!stop.get()) {
          var drained = true
          // partition re-probe every ~50 rounds (one Metadata exchange
          // per topic — control-plane cheap at any poll interval)
          if (rounds % 50 == 49) topics.foreach { tp =>
            try {
              val now = client.partitions(tp)
              val known = partCount(tp)
              if (now > known) {
                (known until now).foreach { p =>
                  offsets((tp, p)) = catalog.kafkaOffset(tp, p).getOrElse(
                    client.listOffset(tp, earliest = true, p))
                }
                partCount(tp) = now
                engine.logEvent(s"kafka consumer $tp: discovered " +
                  s"partitions $known..${now - 1}")
              }
            } catch { case _: Exception => () } // next probe retries
          }
          rounds += 1
          val parts = topics.flatMap(tp =>
            (0 until partCount(tp)).map(p => tp -> p))
          parts.foreach { case (tp, p) =>
            try {
              val (msgs, hw) = client.fetch(tp, offsets((tp, p)),
                partition = p)
              hws((tp, p)) = hw
              errStreaks.remove((tp, p))
              if (msgs.nonEmpty) {
                // one NDJSON landing per FETCH batch (the reference's
                // consumer also lands poll batches, not single records,
                // api/al_kafka.py:158-226 buffering) — messages are
                // one-line JSON docs, the line-oriented contract the
                // whole watch-dir chain already has
                val lines = msgs.flatMap { m =>
                  val raw = new String(m._3,
                    java.nio.charset.StandardCharsets.UTF_8)
                  Landing.normalizeNdjsonPayload(raw).orElse {
                    val err = Landing.quarantinePayload(dir,
                      s"k${epoch}_${tp.replaceAll("[^A-Za-z0-9]", "_")}" +
                        s"_${p}_${m._1}.bad", raw)
                    engine.logError(s"kafka consumer $tp/$p",
                      s"non-JSON payload at offset ${m._1} routed to $err")
                    None
                  }
                }
                if (lines.nonEmpty) {
                  val f = dir.resolve(s"k${epoch}_${n.incrementAndGet()}_" +
                    s"${tp.replaceAll("[^A-Za-z0-9]", "_")}_$p.json")
                  Landing.write(f, lines.mkString("\n"))
                }
                offsets((tp, p)) = msgs.last._1 + 1
                // journal AFTER the landing: a crash between the two
                // re-delivers at most this one batch
                catalog.saveKafkaOffset(tp, p, msgs.last._1 + 1)
                drained = false
              }
            } catch {
              case graft.streaming.KafkaOffsetOutOfRange(_, _, _) =>
                // broker retention truncated past our offset: re-seed
                // from the surviving log start (al_kafka.py's
                // auto_offset_reset recovery) instead of spinning on
                // the dead offset forever
                try {
                  val seeded = client.listOffset(tp, earliest = true, p)
                  engine.logEvent(s"kafka consumer $tp/$p: offset out " +
                    s"of range, re-seeded to $seeded")
                  offsets((tp, p)) = seeded
                  drained = false // retry the fetch promptly
                } catch { case e: Exception =>
                  engine.logError(s"kafka consumer $tp/$p reseed",
                    Option(e.getMessage).getOrElse("")) }
              case e: Exception =>
                errStreaks((tp, p)) = errStreaks.getOrElse((tp, p), 0) + 1
                engine.logError(s"kafka consumer $tp/$p",
                  Option(e.getMessage).getOrElse(""))
            }
          }
          // board health, recomputed once per round from ALL partitions:
          // degraded streaks first (one healthy partition cannot erase a
          // failing sibling's status), then the consumer-lag figure
          // (messages the broker holds that this consumer hasn't landed)
          val lag = offsets.iterator.map { case (k, o) =>
            math.max(hws.getOrElse(k, o) - o, 0L) }.sum
          val failing = errStreaks.toSeq.sortBy(_._1)
          health.set(
            if (failing.nonEmpty) {
              val ((dt, dp), k) = failing.head
              degraded(s"$dt/$dp", k, failing.size - 1) +
                (if (lag > 0) s"; lag $lag" else "")
            } else if (lag > 0) s"lag $lag" else "")
          if (drained && !stop.get())
            try Thread.sleep(pollMs)
            catch { case _: InterruptedException => stop.set(true) }
        }
        client.close()
      } finally {
        // release the journal-scope claims however the loop ends — a
        // dead consumer must not block a replacement
        topics.foreach(scopeClaims.remove(_))
      }, s"graft-kafka-consumer-$epoch")
      th.setDaemon(true)
      th.start()
      // the offset journal makes a consumer resumed by `attach all`
      // land nothing twice
      (new Service(KafkaConsumer, () => th.isAlive,
        () => { val h = health.get()
          if (h.isEmpty) names else s"$names ($h)" },
        () => stop.set(true), Some(th)),
        s"kafka consumer polling $names at $host:$port (reset " +
          s"${if (earliest) "earliest" else "latest"}, landing in $dir)")
    }
  }

  /** `exit kafka consumer` — stop every native consumer loop. */
  def exitKafkaConsumer(): String =
    s"stopped ${exit(keysOf(KafkaConsumer))} kafka consumer(s)"

  /** One PLC poller's row on `get plc clients`: the counters the
    * reference keeps per client (clients_info_, api/plc_client.py:
    * 270-276 — protocol, status, frequency, Reads). `reads` counts
    * LANDED polls only: an empty poll (every point failed) lands
    * nothing and does not count, the reference's PLC_modbus_empty_poll
    * semantics. */
  private final class PlcClientHandle(val name: String,
      val protocol: String, val frequency: Double) {
    @volatile var status: String = "running"
    val reads = new AtomicLong
  }

  // insertion-ordered and RETAINING terminated entries, like the
  // reference's clients_info_ (a terminated client stays on the
  // board and its name becomes reusable)
  private val plcClients = mutable.LinkedHashMap.empty[String, PlcClientHandle]

  /** The `type =` of PLC command `cmd`: only `modbus` — the
    * reference's opcua/etherip types are out of parity scope. */
  private def modbusType(t: String, cmd: String): String = {
    val ptype = reqArg(t, "type", cmd).toLowerCase
    require(ptype == "modbus", s"$cmd: type $ptype is out of parity " +
      "scope (SURVEY §2.1) — only type = modbus is supported")
    ptype
  }

  /** `map = [ ... ]` is a bracketed JSON value with spaces — the \S+
    * option grammar cannot carry it; take the balanced bracket span
    * (string-literal aware, so a `]` inside a name does not close
    * early). */
  private def modbusMapJson(t: String): String = {
    val m = "(?i)\\bmap\\s*=\\s*\\[".r.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(
        "plc command requires map = [ ... ]"))
    val from = m.end - 1
    var depth = 0; var i = from; var end = -1; var inStr = false
    while (i < t.length && end < 0) {
      val c = t.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) end = i
        case _ => ()
      }
      i += 1
    }
    require(end > from, "plc command: unbalanced brackets in map =")
    t.substring(from, end + 1)
  }

  /** `run plc client where type = modbus and hostname = <h> and
    * port = <p> and name = <id> and frequency = <sec> and dir =
    * <landing> [and device_id = <unit>] [and timeout = <ms>] [and
    * table = <t> | and dynamic = true] and map = [ ... ]` — the
    * reference's industrial
    * poller (`run plc client`, cmd/member_cmd.py:21390,
    * api/plc_client.py:219) for its Modbus TCP connector
    * (api/modbus_client.py): every `frequency` seconds read the map's
    * points over a native Modbus TCP client (graft wire stack, no
    * pymodbus), decode long/float/byte + swap/scale/offset, and land
    * ONE wide NDJSON row per poll — {"timestamp", "duration",
    * <name>: value, ...} — in the watch dir, where the ordinary
    * streamer → mapping-policy → table chain takes over (the same
    * downstream as the Kafka and MQTT transports; the reference
    * routes all three through add_data). With `dynamic = true` (and
    * no table), each point lands its own row in a
    * `{name}_{field}` subdirectory — one table per map point
    * (modbus_client.py:92 modbus_dynamic_table_name).
    *
    * Reads are BATCHED: single-address points of one kind merge into
    * contiguous block reads (ModbusMap.plan), so a wide map costs a
    * handful of TCP round-trips per poll. A failed point drops its
    * column from that row (never a null placeholder); a poll where
    * EVERY point fails lands nothing and does not count a Read. The
    * reference's opcua/etherip types are declared out of parity
    * scope (SURVEY §2.1) — only `type = modbus` is accepted. A
    * terminated client's name is reusable (the reference refuses
    * duplicate names of running clients, api/plc_client.py:287). */
  def runPlcClient(t: String): String = {
    import graft.streaming.{ModbusMap, ModbusTcpClient}
    val ptype = modbusType(t, "run plc client")
    val host = reqArg(t, "hostname", "run plc client")
    val port = reqArg(t, "port", "run plc client").toInt
    val name = reqArg(t, "name", "run plc client")
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    val freq = reqArg(t, "frequency", "run plc client").toDouble
    require(freq > 0, "frequency must be > 0 seconds")
    val dir = Paths.get(reqArg(t, "dir", "run plc client"))
    Files.createDirectories(dir)
    val dynamic = arg(t, "dynamic").exists(_.equalsIgnoreCase("true"))
    val table = arg(t, "table")
    require(!(dynamic && table.isDefined),
      "run plc client: dynamic = true cannot be combined with " +
        "table = ... (omit table =)")
    val points = ModbusMap.parse(modbusMapJson(t))
    // the read plan is immutable for the life of the client — compile
    // once here, reuse every poll cycle (SCALING.md's 'compiles ONCE')
    val compiledPlan = ModbusMap.plan(points)
    val ops = compiledPlan._1
    declare(s"plc client:$name", t, s"plc client $name",
        s"plc client $name already polling") {
      val client = new ModbusTcpClient(host, port,
        timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
      client.connect() // fail fast on an unreachable server
      val stop = new AtomicBoolean(false)
      val handle = new PlcClientHandle(name, ptype, freq)
      val health = new AtomicReference[String]("")
      val epoch = java.lang.Long.toHexString(System.nanoTime())
      val n = new AtomicInteger
      val isoUtc = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
        .withZone(java.time.ZoneOffset.UTC)
      val errStreaks = mutable.Map.empty[String, Int]
      def pollOnce(): Boolean = {
        import org.json4s._
        val t0 = System.currentTimeMillis
        val read = ModbusMap.readAll(client, unit, points, compiledPlan)
        val t1 = System.currentTimeMillis
        val decoded: Seq[(String, JValue)] = read.flatMap {
          case (p, Right(v)) =>
            errStreaks.remove(p.name)
            Some(p.name -> v)
          case (p, Left(err)) =>
            // failed point: omit the column (no null placeholder),
            // surface the streak on the board like the Kafka loop
            errStreaks(p.name) = errStreaks.getOrElse(p.name, 0) + 1
            engine.logError(s"plc client $name ${p.tag}", err)
            None
        }
        health.set(
          if (errStreaks.isEmpty) ""
          else {
            val (worstName, k) = errStreaks.maxBy(_._2)
            degraded(worstName, k, errStreaks.size - 1)
          })
        if (decoded.isEmpty) return false // empty poll: no land, no Read
        val ts = JString(isoUtc.format(java.time.Instant.ofEpochMilli(t0)))
        if (dynamic) {
          decoded.foreach { case (field, v) =>
            val sub = dir.resolve(ModbusMap.dynamicTableName(name, field))
            Files.createDirectories(sub)
            val row = JObject(List("timestamp" -> ts, "value" -> v))
            Landing.write(
              sub.resolve(s"p${epoch}_${n.incrementAndGet()}.json"),
              org.json4s.jackson.JsonMethods.compact(row))
          }
        } else {
          val row = JObject(
            ("timestamp" -> ts) :: ("duration" -> JLong(t1 - t0)) ::
              decoded.toList)
          Landing.write(
            dir.resolve(s"p${epoch}_${n.incrementAndGet()}.json"),
            org.json4s.jackson.JsonMethods.compact(row))
        }
        true
      }
      val th = new Thread(() => try {
        while (!stop.get()) {
          val began = System.currentTimeMillis
          try { if (pollOnce()) handle.reads.incrementAndGet() }
          catch { case NonFatal(e) =>
            engine.logError(s"plc client $name poll",
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName)) }
          // sliced sleep: a long frequency must not pin `exit plc`
          // against the grace join — the stop flag is honored within
          // ~50 ms without resorting to an interrupt mid-landing
          var leftMs = (math.max(freq -
            (System.currentTimeMillis - began) / 1000.0, 0) * 1000).toLong
          while (!stop.get() && leftMs > 0) {
            val nap = math.min(leftMs, 50L)
            try Thread.sleep(nap)
            catch { case _: InterruptedException => stop.set(true) }
            leftMs -= nap
          }
        }
      } finally {
        handle.status = "terminated"
        try client.close()
        catch { case NonFatal(_) => () }
      }, s"graft-plc-$name")
      th.setDaemon(true)
      th.start()
      plcClients.synchronized { plcClients(name) = handle }
      (new Service(PlcClient, () => handle.status == "running",
        () => { val h = health.get()
          s"$name ($ptype)" + (if (h.isEmpty) "" else s" $h") },
        () => stop.set(true), Some(th)),
        s"plc client $name polling $host:$port every ${freq}s " +
          s"(${points.size} point(s) in ${ops.size} read(s), " +
          s"landing in $dir)")
    }
  }

  /** `get plc clients` — the reference's status board
    * (api/plc_client.py:99): Client Name | Protocol | Status |
    * Frequency | Reads. Terminated clients stay listed. */
  def getPlcClients(): String = {
    val rows = plcClients.synchronized {
      plcClients.valuesIterator.map(h =>
        Seq(h.name, h.protocol, h.status, h.frequency.toString,
          h.reads.get.toString)).toSeq
    }
    if (rows.isEmpty) return "no plc clients declared"
    renderBoard(Seq("Client Name", "Protocol", "Status", "Frequency",
      "Reads"), rows)
  }

  /** `get plc values where type = modbus and hostname = <h> and
    * port = <p> [and device_id = <unit>] and map = [ ... ]` — the
    * reference's ONE-SHOT read (`get plc values`,
    * api/plc_client.py:627): connect, execute one batched poll
    * cycle, render each point's decoded value (or its error) as one
    * JSON object, disconnect. The diagnostic twin of `run plc
    * client` — same map grammar, same decode, no landing. */
  def getPlcValues(t: String): String = {
    import graft.streaming.{ModbusMap, ModbusTcpClient}
    modbusType(t, "get plc values")
    val points = ModbusMap.parse(modbusMapJson(t))
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    val client = new ModbusTcpClient(reqArg(t, "hostname", "get plc values"),
      reqArg(t, "port", "get plc values").toInt,
      timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
    try {
      client.connect()
      import org.json4s._
      val fields = ModbusMap.readAll(client, unit, points).map {
        case (p, Right(v)) => p.name -> v
        case (p, Left(err)) =>
          p.name -> JObject(List("error" -> JString(err)))
      }
      org.json4s.jackson.JsonMethods.compact(JObject(fields.toList))
    } finally client.close()
  }

  /** `get plc struct where type = modbus and hostname = <h> and
    * port = <p> [and device_id = <unit>] [and max_registers = <n>]
    * [and scan_chunk = <n>] [and format = nodes|map|get_value|
    * run_client] [and name/frequency/table/dir = ..]` — the
    * reference's device DISCOVERY (`modbus_struct` + chunked
    * `discover_all_points`, api/modbus_client.py:906-1065): probe the
    * four point kinds in chunk-sized block reads over address 0..max,
    * collect the readable addresses, and render them as canonical
    * tags (`nodes`), a ready-to-edit register map (`map`, default), or
    * a ready-to-run command (`get_value` / `run_client`). Chunk
    * granularity matches the reference: a chunk read that trips
    * ILLEGAL DATA ADDRESS marks the whole chunk unreadable and the
    * scan moves on. */
  def getPlcStruct(t: String): String = {
    import graft.streaming.{ModbusError, ModbusTcp, ModbusTcpClient}
    modbusType(t, "get plc struct")
    val host = reqArg(t, "hostname", "get plc struct")
    val port = reqArg(t, "port", "get plc struct").toInt
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    // reference defaults: 50 addresses probed in chunks of 10
    val maxAddr = math.max(1, math.min(
      arg(t, "max_registers").map(_.toInt).getOrElse(50), 65536))
    val chunk = math.max(1, math.min(
      arg(t, "scan_chunk").map(_.toInt).getOrElse(10),
      ModbusTcp.MaxRegistersPerRead))
    val format = arg(t, "format").map(_.toLowerCase).getOrElse("map")
    require(Seq("nodes", "map", "get_value", "run_client")
      .contains(format),
      s"get plc struct: format $format (expected nodes, map, " +
        "get_value, or run_client)")
    val client = new ModbusTcpClient(host, port,
      timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
    // ILLEGAL DATA ADDRESS is per-chunk information (the device
    // answered: nothing there) — a TRANSPORT failure is not. An
    // accepting-but-unresponsive endpoint would otherwise cost a
    // socket timeout per chunk across four kind scans, an unbounded
    // stall under user-set max_registers/scan_chunk; two consecutive
    // transport failures abort the whole discovery instead.
    var transportDead = false
    val tags = try {
      client.connect()
      def scan(prefix: String,
          read: (Int, Int) => IndexedSeq[Int]): Seq[(String, Int)] = {
        val found = mutable.ArrayBuffer.empty[(String, Int)]
        var addr = 0
        var ioStreak = 0
        while (addr < maxAddr && !transportDead) {
          val count = math.min(chunk, maxAddr - addr)
          try {
            val vals = read(addr, count)
            ioStreak = 0
            (0 until vals.length).foreach(i => found += ((prefix, addr + i)))
          } catch {
            case ModbusError(_, _) => ioStreak = 0 // device answered
            case _: java.io.IOException =>
              ioStreak += 1
              if (ioStreak >= 2) transportDead = true
          }
          addr += count
        }
        found.toSeq
      }
      scan("hr", (a, c) => client.readHoldingRegisters(unit, a, c)) ++
        scan("ir", (a, c) => client.readInputRegisters(unit, a, c)) ++
        scan("c", (a, c) => client.readCoils(unit, a, c)) ++
        scan("di", (a, c) => client.readDiscreteInputs(unit, a, c))
    } finally client.close()
    require(!transportDead,
      s"get plc struct: $host:$port stopped answering mid-scan " +
        "(transport failures on consecutive chunk reads) — discovery " +
        "aborted; check the device and retry")
    require(tags.nonEmpty,
      "get plc struct: discovery found no readable addresses in the " +
        s"configured range (device_id=$unit, max_registers=$maxAddr) " +
        "— increase max_registers or set an explicit map")
    val sorted = tags.distinct.sortBy { case (p, a) => (p, a) }
    if (format == "nodes")
      return sorted.map { case (p, a) => s""""$p:$a"""" }
        .mkString("[", ", ", "]")
    val mapJson = sorted.map { case (p, a) =>
      val srcKey = p match {
        case "hr" => "register"
        case "ir" => "inputRegister"
        case "c" => "coil"
        case _ => "input"
      }
      s"""{"name": "${p}_$a", "$srcKey": $a}"""
    }.mkString("[", ", ", "]")
    format match {
      case "map" => mapJson
      case "get_value" =>
        s"get plc values where type = modbus and hostname = $host " +
          s"and port = $port and device_id = $unit and map = $mapJson"
      case _ =>
        val name = arg(t, "name").getOrElse("modbus_client")
        val freq = arg(t, "frequency").getOrElse("1")
        val table = arg(t, "table").getOrElse("modbus_readings")
        val dir = arg(t, "dir").getOrElse("plc_land")
        s"run plc client where type = modbus and hostname = $host " +
          s"and port = $port and device_id = $unit and " +
          s"frequency = $freq and name = $name and table = $table " +
          s"and dir = $dir and map = $mapJson"
    }
  }

  /** `exit plc <name|all>` — stop the named poller (or every
    * poller), reference cmd `exit plc 1` / `exit plc all`
    * (member_cmd.py:21942). */
  def exitPlc(t: String): String = {
    val who = t.trim.split("\\s+").drop(2).mkString(" ")
    require(who.nonEmpty, "usage: exit plc <name|all>")
    // the exit targets EVERY named client, running or not: a client
    // whose thread died on its own still has an attach record, and an
    // explicit exit must drop it
    val named = plcClients.synchronized {
      if (who.equalsIgnoreCase("all")) plcClients.valuesIterator.toList
      else List(plcClients.getOrElse(who,
        throw new IllegalArgumentException(s"no plc client $who")))
    }
    val n = exit(named.map(h => s"plc client:${h.name}"))
    // flip status HERE, not only in the poll thread's finally: a
    // thread wedged past the grace joins (blocked in a socket read —
    // interrupt cannot unblock java.io reads) would otherwise stay
    // "running" on `get plc clients`
    named.foreach(_.status = "terminated")
    s"stopped $n plc client(s)"
  }

  /** `run streamer where dir = <watch> and table = <t> [and policy =
    * <id>] [and flush = <seconds>] [and archive = <dir>]` — the
    * reference's streamer/watch-dir background process as a COMMAND
    * (member_cmd.py:21339 `run streamer` writes buffered streaming
    * data through the mapping layer; the watch-dir → mapping-policy →
    * table chain is §2.1 row 10). One Structured Streaming query per
    * table: file-watch source (optionally archiving processed files),
    * policy mapping (or the registered schema when no policy), then
    * the TRANSACTIONAL sink — one foreachBatch owning both the
    * idempotent table append and the standing-view folds, so a
    * checkpoint replay duplicates neither. A time-partitioned table
    * gets each batch as bucket dirs, like every other append into it.
    * Shows on `get processes` as Streamer and in `get streaming` as
    * `streamer_<table>`. */
  def runStreamer(t: String): String = {
    val dir = reqArg(t, "dir", "run streamer")
    val table = reqArg(t, "table", "run streamer")
    val flush = arg(t, "flush").map(_.toLong).getOrElse(60L)
    declare(s"streamer:$table", t, s"streamer for $table",
        s"streamer for $table already running") {
      val raw = graft.streaming.StreamIngest.watchDir(engine.spark, dir,
        archiveDir = arg(t, "archive"))
      val rows = arg(t, "policy") match {
        case Some(id) =>
          val pj = catalog.policy(id).getOrElse(
            throw new IllegalArgumentException(s"unknown mapping policy: $id"))
          graft.streaming.StreamIngest.pipeline(raw,
            graft.ingest.MappingPolicy.fromJson(pj))._1
        case None =>
          val schema = catalog.tableSchema(table).getOrElse(
            throw new IllegalArgumentException("run streamer without " +
              s"policy = requires table $table registered with a schema"))
          val user = org.apache.spark.sql.types.StructType(
            schema.fields.filterNot(f => Set("row_id", "insert_timestamp",
              "tsd_name", "tsd_id", "__par")(f.name)))
          raw.select(from_json(col("value"), user).as("r")).select("r.*")
      }
      val path = catalog.tablePath(table)
        .orElse(engine.dataDir.map(r => s"$r/$table"))
        .getOrElse(throw new IllegalArgumentException(
          s"unknown table $table — register it (or set a data dir) first"))
      if (catalog.tablePath(table).isEmpty)
        catalog.registerTable(table, path, Some(rows.schema))
      val q = graft.streaming.StreamIngest.startTransactionalSink(
        engine, table, rows, path, s"${path}_ckpt_streamer", flush,
        name = Some(s"streamer_$table"),
        partition = catalog.partitionMeta(table))
      (new Service(Streamer, () => q.isActive, () => table, () => q.stop(),
        query = Some(q)),
        s"streamer for $table watching $dir (flush ${flush} s)")
    }
  }

  /** `exit streamer [table]` — stop one table's streamer or all. */
  def exitStreamer(t: String): String = {
    val which = "(?i)^exit streamer\\s+(\\S+)".r
      .findFirstMatchIn(t.trim).map(_.group(1))
    val keys = which.fold(keysOf(Streamer))(tb =>
      Seq(s"streamer:$tb").filter(k => running.synchronized(running.contains(k))))
    require(which.isEmpty || keys.nonEmpty,
      s"no streamer for ${which.get}")
    s"stopped ${exit(keys)} streamer(s)"
  }

  /** `run msg client where broker = <host> and port = <n> and
    * topic = <t>[,<t2>…] and dir = <watch-dir> [and qos = 1]` — the
    * reference's client mode (`run msg client`,
    * tcpip/mqtt_client.py:495-513): SUBSCRIBE to an EXTERNAL broker
    * and land every delivered message as one NDJSON file in the watch
    * dir — from there the ordinary watch-dir → mapping-policy → table
    * streaming chain takes over (the same downstream as broker mode,
    * so client vs broker is purely a which-side-initiates choice).
    * QoS 1 by default: the client PUBACKs AFTER the file lands, and
    * duplicate redeliveries are absorbed by the ingest gates. */
  def runMsgClient(t: String): String = {
    val host = reqArg(t, "broker", "run msg client")
    val port = reqArg(t, "port", "run msg client").toInt
    val topics = reqArg(t, "topic", "run msg client").split(",")
      .map(_.trim).filter(_.nonEmpty)
    val dir = Paths.get(reqArg(t, "dir", "run msg client"))
    Files.createDirectories(dir)
    val qos = arg(t, "qos").map(_.toInt).getOrElse(1)
    require(qos >= 0 && qos <= 1,
      s"run msg client: qos $qos unsupported — this client implements " +
        "QoS 0/1 only (QoS 2 receiver flow is not implemented)")
    val names = topics.mkString(", ")
    declare(s"msg client:${topics.mkString(",")}", t,
        s"msg client for $names",
        s"msg client already subscribed to $names") {
      // file names must be unique ACROSS client restarts and across two
      // clients sharing a dir/topic: a bare per-client counter restarts
      // at 1 and a landing REPLACES an existing name, overwriting an
      // unprocessed landing (and Spark's file source tracks seen paths —
      // a re-used name is silently skipped). A per-client nano-epoch
      // prefix + the counter makes every landing a fresh path.
      val n = new AtomicInteger
      val clientEpoch = java.lang.Long.toHexString(System.nanoTime())
      val client = new graft.streaming.MqttClient(host, port,
        s"graft-$clientEpoch",
        (topic, payload) => {
          val stem = s"m${clientEpoch}_${n.incrementAndGet()}_" +
            topic.replaceAll("[^A-Za-z0-9]", "_")
          Landing.normalizeNdjsonPayload(payload) match {
            case Some(line) => Landing.write(dir.resolve(stem + ".json"), line)
            case None =>
              val err = Landing.quarantinePayload(dir, stem + ".bad", payload)
              engine.logError(s"msg client $topic",
                s"non-JSON payload at mqtt delivery routed to $err")
          }
        })
      client.start(topics.toSeq.map(tp => (tp, qos)))
      (new Service(MsgClient, () => client.isRunning,
        () => if (client.isConnected) "" else "reconnecting",
        () => client.stop()),
        s"msg client subscribed to $names at $host:$port " +
          s"(qos $qos, landing in $dir)")
    }
  }

  /** `exit msg client` — disconnect every running msg client. */
  def exitMsgClient(): String =
    s"${exit(keysOf(MsgClient))} msg client(s) disconnected"
}

object Services {
  /** One board row of ingest services: its name, the command hint shown
    * while none runs, and how the live services' details join into the
    * row's details cell. */
  private final class Kind(val board: String, val hint: String,
      val summary: Seq[String] => String)

  private val KafkaConsumer = new Kind("Kafka Consumer",
    "start with `run kafka consumer where ip = .. and port = .. and " +
      "topic = .. and dir = ..` (native wire-protocol client — no " +
      "connector jar needed)", _.mkString("; "))
  private val PlcClient = new Kind("PLC Client",
    "start with `run plc client where type = modbus and hostname = .. " +
      "and port = .. and name = .. and frequency = .. and dir = .. and " +
      "map = [..]` (native Modbus TCP stack — no pymodbus equivalent " +
      "needed)", _.mkString("; "))
  // a live msg client's detail is "reconnecting" during a backoff
  private val MsgClient = new Kind("Msg Client",
    "start with `run msg client where broker = .. and port = .. and " +
      "topic = .. and dir = ..`", { ds =>
      val reconnecting = ds.count(_.nonEmpty)
      s"${ds.size} client(s)" +
        (if (reconnecting > 0) s" ($reconnecting reconnecting)" else "")
    })
  private val Streamer = new Kind("Streamer",
    "start with `run streamer where dir = .. and table = ..`",
    _.sorted.mkString(", "))

  /** A health cell for consecutive-failure streaks: `what` failed
    * `streak` times in a row, and `others` more points fail too. */
  private def degraded(what: String, streak: Int, others: Int): String =
    s"degraded: $what x$streak" +
      (if (others > 0) s" (+$others more)" else "")

  /** Column-aligned status board (`| a | b |` rows under a header) —
    * the one renderer behind `get processes` and `get plc clients`. */
  private def renderBoard(header: Seq[String],
      rows: Seq[Seq[String]]): String = {
    val widths = header.indices.map(i =>
      (header(i) +: rows.map(_(i))).map(_.length).max)
    def line(cells: Seq[String]) =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    (line(header) +: rows.map(line)).mkString("\n")
  }

  /** JVM-wide live-consumer topic claims, keyed by the catalog
    * metadata root the offset journal lives under. The per-engine
    * duplicate-topic guard alone is not enough: two Engine instances
    * over ONE catalog root would each pass their local check and then
    * clobber the shared (topic, partition) cursor — this registry
    * makes the claim as wide as the journal it protects. Rootless
    * catalogs key by engine identity (journal is in-memory anyway, no
    * cross-engine hazard). Claims release on consumer exit and on
    * poll-thread death. */
  private val kafkaTopicClaims =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]()

  private def claimScope(catalog: Catalog, engine: AnyRef): String =
    catalog.metaRoot
      .map(_.toAbsolutePath.normalize.toString)
      .getOrElse("engine:" + System.identityHashCode(engine).toHexString)
}
