package graft

import java.nio.file.Files

import graft.engine.{Catalog, Engine, TimePartitions}
import graft.streaming.{KafkaMiniBroker, ModbusBank, ModbusTcpServer,
  MqttBroker}

/** The four ingest services share one lifecycle (`engine.Services`):
  * start, an identical re-declaration answered with the "already ..."
  * reply, a conflicting one refused, a Running board row, and an exit
  * that drops the attach record and turns the row back to Not declared
  * with the command that starts one. */
class ServiceLifecycleSpec extends SparkSpec {
  test("kafka consumer, plc client, msg client and streamer: start, " +
      "re-declare, conflict, board row, exit") {
    val kafka = new KafkaMiniBroker()
    val kport = kafka.start()
    val plc = new ModbusTcpServer(ModbusBank(holding = Vector(1)))
    val pport = plc.start()
    val mqtt = new MqttBroker((_, _) => ())
    val mport = mqtt.start()
    val root = Files.createTempDirectory("lifecycle")
    val engine = new Engine(spark, new Catalog(spark, Some(root)))
    engine.dataDir = Some(root.resolve("data").toString)
    def dir(n: String) = Files.createDirectories(root.resolve(n))
    engine.execute("""policy add sp {"mapping": {"table": "st", """ +
      """"schema": {"v": {"type": "int"}}}}""")
    // (board row, artifact key, start command, conflicting edit,
    //  re-declaration reply, exit command)
    val services = Seq(
      ("Kafka Consumer", "kafka consumer:kt",
        s"run kafka consumer where ip = localhost and port = $kport " +
          s"and topic = kt and dir = ${dir("k")} and poll = 50",
        "poll = 50" -> "poll = 60",
        "kafka consumer already polling kt", "exit kafka consumer"),
      ("PLC Client", "plc client:p1",
        s"run plc client where type = modbus and hostname = localhost " +
          s"and port = $pport and name = p1 and frequency = 5 and " +
          s"dir = ${dir("p")} and table = pt and " +
          """map = [{"name":"a","register":0}]""",
        "frequency = 5" -> "frequency = 9",
        "plc client p1 already polling", "exit plc p1"),
      ("Msg Client", "msg client:mt",
        s"run msg client where broker = localhost and port = $mport " +
          s"and topic = mt and dir = ${dir("m")} and qos = 1",
        "qos = 1" -> "qos = 0",
        "msg client already subscribed to mt", "exit msg client"),
      ("Streamer", "streamer:st",
        s"run streamer where dir = ${dir("s")} and table = st and " +
          "policy = sp and flush = 1",
        "flush = 1" -> "flush = 2",
        "streamer for st already running", "exit streamer st"))
    def row(name: String): String =
      engine.execute("get processes").linesIterator
        .find(_.startsWith(s"| $name ")).getOrElse(fail(s"no $name row"))
    try services.foreach { case (name, key, start, (from, to), again,
        exit) =>
      engine.execute(start)
      assert(engine.execute("get artifacts").contains(key), name)
      assert(engine.execute(start) === again)
      val refused = intercept[IllegalArgumentException](
        engine.execute(start.replace(from, to)))
      assert(refused.getMessage.contains("already running with a " +
        "different configuration"), refused.getMessage)
      assert(row(name).contains("Running"), row(name))
      engine.execute(exit)
      assert(!engine.execute("get artifacts").contains(key), name)
      val hint = "start with `" + start.substring(0,
        start.indexOf(" where ") + " where".length)
      assert(row(name).contains("Not declared") &&
        row(name).contains(hint), row(name))
    } finally { kafka.stop(); plc.stop(); mqtt.stop() }
  }
}

/** `run streamer` into a table registered with time partitions writes
  * each micro-batch as bucket dirs, like every other append into it —
  * flat files beside the `__par=` dirs would hide the streamed rows. */
class PartitionedStreamerSpec extends SparkSpec {
  test("run streamer into a time-partitioned table lands its rows in " +
      "the batch's day buckets") {
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import spark.implicits._
    val root = Files.createTempDirectory("parstream")
    val tbl = root.resolve("pts").toString
    TimePartitions.write(Seq(("2024-01-01 10:00:00", 1L)).toDF("ts_s", "k")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s"),
      "ts", "day", 1, tbl)
    val cat = new Catalog(spark)
    cat.registerPartitionedTable("pts", tbl, "ts", "day", 1)
    val engine = new Engine(spark, cat)
    engine.execute("""policy add pp {"mapping": {"table": "pts", """ +
      """"schema": {"ts": {"type": "timestamp"}, """ +
      """"k": {"type": "bigint"}}}}""")
    val watch = Files.createDirectories(root.resolve("watch"))
    engine.execute(s"run streamer where dir = $watch and table = pts " +
      "and policy = pp and flush = 1")
    try {
      Files.writeString(watch.resolve("a.json"),
        """{"ts": "2024-01-02 09:00:00", "k": 2}""")
      engine.streamerQueries("pts").processAllAvailable()
      assert(cat.table("pts").count() === 2L)
      assert(TimePartitions.partitions(spark, tbl) ===
        Seq("2024-01-01", "2024-01-02"))
    } finally engine.execute("exit streamer pts")
  }
}
