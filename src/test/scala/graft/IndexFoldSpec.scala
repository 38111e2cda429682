package graft

import java.util.concurrent.{FutureTask, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

/** The PUT auto-fold of the index families: its Spark job count, and
  * its commits racing `index retain`. */
class IndexFoldSpec extends SparkSpec {

  private def docs(k: Int): String = (0 until 20).map { i =>
    s"""{"id": ${k * 100 + i}, "text": "w${i % 7} w${(k + i) % 5} doc $k"}"""
  }.mkString("\n")

  private def engineAt(name: String) = {
    val dir = java.nio.file.Files.createTempDirectory(name)
    val engine = new graft.engine.Engine(spark, new graft.engine.Catalog(spark))
    engine.dataDir = Some(dir.resolve("data").toString)
    (dir, engine)
  }

  private def noFoldErrors(engine: graft.engine.Engine): Unit = {
    val report = engine.execute("get view auto refresh")
    assert(report.contains("no fold errors"), report)
  }

  test("a PUT into a tindex-backed table takes the batch's watermark " +
      "from the ledger: 8 Spark jobs, and the index verifies exact") {
    val (dir, engine) = engineAt("ifjb")
    engine.ingest("tj", docs(1))
    val tx = dir.resolve("tx")
    engine.execute(s"tindex create where table = tj and path = $tx " +
      "and id = id and text = text")
    engine.ingest("tj", docs(2))
    val (n, jobs) = JobCount(spark)(engine.ingest("tj", docs(3)))
    assert(n === 20L)
    assert(jobs === 8, s"PUT with tindex auto-fold ran $jobs jobs")
    noFoldErrors(engine)
    val audit = engine.execute("artifact verify where table = tj")
    assert(audit.contains(s"tindex $tx: VERIFIED exact"), audit)
  }

  test("index retain rewriting the retention file while PUTs fold " +
      "leaves no fold error") {
    val (dir, engine) = engineAt("ifrr")
    engine.ingest("rr", docs(1))
    val mv = dir.resolve("mv")
    engine.execute(s"matview create where table = rr and path = $mv and " +
      """spec = {"keys": ["text"], "aggs": [{"fn": "count", "alias": "n"}]}""")
    val tx = dir.resolve("tx")
    engine.execute(s"tindex create where table = rr and path = $tx " +
      "and id = id and text = text")
    val stop = new AtomicBoolean
    val retains = new FutureTask[Int](() => {
      var n = 0
      while (!stop.get) {
        Seq(mv, tx).foreach(p =>
          engine.execute(s"index retain where path = $p and keep = ${3 + n % 2}"))
        n += 1
      }
      n
    })
    val t = new Thread(retains)
    t.setDaemon(true)
    t.start()
    try (2 to 9).foreach(k => assert(engine.ingest("rr", docs(k)) === 20L))
    finally stop.set(true)
    assert(retains.get(120, TimeUnit.SECONDS) > 0)
    noFoldErrors(engine)
    Seq(mv, tx).foreach { p =>
      assert(Set(3, 4)(graft.ops.IndexStore.retention(spark, p.toString)))
    }
  }
}
