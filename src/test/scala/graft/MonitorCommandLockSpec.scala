package graft

import java.util.concurrent.{TimeUnit, TimeoutException}

import graft.engine.{Catalog, Engine}

/** The commands that reset or switch the engine's own logs and
  * counters are Read, like their `get` twins: each returns while a
  * Write command holds the write gate's exclusive side. The Write is a
  * `matview create` whose aggregate calls a UDF that blocks on a latch
  * (the holds of [[TableLockSpec]]). */
class MonitorCommandLockSpec extends SparkSpec {
  import TableLockSpec._

  private val secs = 120L

  test("reset event log returns while a Write command blocks holding " +
      "the exclusive gate") {
    val dir = java.nio.file.Files.createTempDirectory("mcl")
    val engine = new Engine(spark, new Catalog(spark))
    engine.dataDir = Some(dir.resolve("data").toString)
    engine.ingest("m", (0 until 10).map(i =>
      f"""{"ts": "2024-01-01 00:$i%02d:00", "device": "d${i % 2}", """ +
        s""""v": $i.5}""").mkString("\n"))
    val id = newHold()
    spark.udf.register(s"mcl_hold_$id", (v: Double) => { hold(id); v })
    val create = async(engine.execute(s"matview create where table = m " +
      s"and path = ${dir.resolve("mv")} and spec = " +
      """{"keys": ["device"], "aggs": [{"fn": "sum", "expr": """ +
      s""""mcl_hold_$id(v)", "alias": "sv"}]}"""))
    val write = try {
      assert(entered.get(id).await(secs, TimeUnit.SECONDS),
        "the matview create never reached its UDF")
      // the gate is held: another Write command waits
      val write = async(engine.execute("set view auto refresh = on"))
      intercept[TimeoutException](write.get(2, TimeUnit.SECONDS))
      Seq("reset event log" -> "event log reset",
          "reset error log" -> "error log reset",
          "reset query log" -> "query log reset",
          "reset queries time" -> "queries time reset",
          "set query log on" -> "query log on").foreach { case (c, reply) =>
        assert(async(engine.execute(c)).get(secs, TimeUnit.SECONDS) === reply,
          c)
      }
      assert(!create.isDone, "the held create returned early")
      write
    } finally release.get(id).countDown()
    assert(create.get(secs, TimeUnit.SECONDS).startsWith("matview created"))
    assert(write.get(secs, TimeUnit.SECONDS) === "view auto refresh on")
  }
}
