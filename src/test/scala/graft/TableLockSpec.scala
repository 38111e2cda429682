package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, FutureTask,
  TimeUnit, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{lit, udf}

import graft.engine.{Catalog, Engine, HttpFrontend}

object TableLockSpec {
  /** Per hold id: the fold's UDF has started / may return. */
  val entered = new ConcurrentHashMap[Int, CountDownLatch]()
  val release = new ConcurrentHashMap[Int, CountDownLatch]()
  private val ids = new java.util.concurrent.atomic.AtomicInteger

  def newHold(): Int = {
    val id = ids.incrementAndGet()
    entered.put(id, new CountDownLatch(1))
    release.put(id, new CountDownLatch(1))
    id
  }

  def hold(id: Int): Unit = {
    entered.get(id).countDown()
    release.get(id).await()
  }
}

/** Writes into different tables run at the same time; writes into one
  * table, or into the two sides of one join matview, take turns; a
  * Write command waits for every table write. A fold of table `a` is
  * held mid-job by a delta whose UDF waits on a latch. */
class TableLockSpec extends SparkSpec {
  import TableLockSpec._

  private val secs = 120L

  private def body(k: Int): String = (0 until 20).map { i =>
    f"""{"ts": "2024-01-01 00:${i % 60}%02d:00", "device": "d${i % 3}", """ +
      f""""v": ${k * 100 + i}.5}"""
  }.mkString("\n")

  /** An engine with tables `a` and `b`, each carrying a matview. */
  private def node(name: String): Engine = {
    val dir = java.nio.file.Files.createTempDirectory(name)
    val engine = new Engine(spark, new Catalog(spark))
    engine.dataDir = Some(dir.resolve("data").toString)
    Seq("a", "b").foreach { t =>
      engine.ingest(t, body(if (t == "a") 0 else 50))
      engine.execute(s"matview create where table = $t and path = " +
        s"${dir.resolve(s"mv_$t")} and spec = " +
        """{"keys": ["device"], "aggs": [{"fn": "count", "alias": "n"}, """ +
        """{"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    }
    engine
  }

  private def async[A](body: => A): FutureTask[A] = {
    val f = new FutureTask[A](() => body)
    val t = new Thread(f)
    t.setDaemon(true)
    t.start()
    f
  }

  /** Start `foldStandingViews(table, …)` with a one-row delta whose UDF
    * blocks; returns, once that UDF runs, the fold and its release. */
  private def holdFold(engine: Engine, table: String)
      : (FutureTask[Unit], () => Unit) = {
    val id = newHold()
    val held = udf { (v: Double) => hold(id); v }.asNondeterministic()
    val delta = spark.range(1)
      .select(lit("d9").as("device"), held(lit(1.5)).as("v"))
    val fold = async(engine.foldStandingViews(table, delta))
    assert(entered.get(id).await(secs, TimeUnit.SECONDS),
      "the held fold never reached its UDF")
    (fold, () => release.get(id).countDown())
  }

  private def noFoldErrors(engine: Engine): Unit = {
    val report = engine.execute("get view auto refresh")
    assert(report.contains("no fold errors"), report)
  }

  test("while a fold of A is held, an in-process PUT into B completes " +
      "and a PUT into A waits for the release") {
    val engine = node("tla")
    val (fold, release) = holdFold(engine, "a")
    val putA = async(engine.ingest("a", body(1)))
    try {
      val putB = async(engine.ingest("b", body(2)))
      assert(putB.get(secs, TimeUnit.SECONDS) === 20L)
      assert(!putA.isDone, "the PUT into A returned during A's fold")
    } finally release()
    assert(putA.get(secs, TimeUnit.SECONDS) === 20L)
    fold.get(secs, TimeUnit.SECONDS)
    noFoldErrors(engine)
  }

  test("while a fold of A is held, an HTTP PUT into B is answered and " +
      "an HTTP PUT into A waits for the release") {
    val engine = node("tlb")
    val fe = new HttpFrontend(engine)
    val port = fe.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def put(t: String, b: String) = client.sendAsync(
      java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://localhost:$port/"))
        .header("table", t)
        .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(b)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    // a thread of the server is inside Engine.ingest
    def serving(): Boolean = Thread.getAllStackTraces.asScala.exists {
      case (_, st) => st.exists(e =>
        e.getClassName == "graft.engine.Engine" && e.getMethodName == "ingest")
    }
    try {
      val (fold, release) = holdFold(engine, "a")
      val putA = put("a", body(1))
      try {
        val deadline = System.nanoTime() + secs * 1000000000L
        while (!serving() && System.nanoTime() < deadline) Thread.sleep(10)
        assert(serving(), "the PUT into A never reached the engine")
        val putB = put("b", body(2)).get(secs, TimeUnit.SECONDS)
        assert(putB.statusCode === 200, putB.body)
        assert(putB.body.contains(""""appended": 20"""), putB.body)
        assert(!putA.isDone, "the PUT into A was answered during A's fold")
      } finally release()
      val a = putA.get(secs, TimeUnit.SECONDS)
      assert(a.statusCode === 200 && a.body.contains(""""appended": 20"""),
        a.body)
      fold.get(secs, TimeUnit.SECONDS)
      noFoldErrors(engine)
    } finally fe.stop()
  }

  test("a Write command waits for a held fold") {
    val engine = node("tlc")
    val (fold, release) = holdFold(engine, "b")
    val write = async(engine.execute("matview sync where table = a"))
    try intercept[TimeoutException](write.get(2, TimeUnit.SECONDS))
    finally release()
    fold.get(secs, TimeUnit.SECONDS)
    assert(write.get(secs, TimeUnit.SECONDS).nonEmpty)
    noFoldErrors(engine)
  }

  test("concurrent PUTs into both sides of a join matview leave it " +
      "VERIFIED exact") {
    val dir = java.nio.file.Files.createTempDirectory("tld")
    val engine = new Engine(spark, new Catalog(spark))
    engine.dataDir = Some(dir.resolve("data").toString)
    def left(k: Int) = (0 until 10).map(i =>
      s"""{"lk": ${(k * 10 + i) % 12}, "g": "g${i % 3}"}""").mkString("\n")
    def right(k: Int) = (0 until 10).map(i =>
      s"""{"rk": ${(k * 7 + i) % 12}, "v": ${k * 10 + i}}""").mkString("\n")
    engine.ingest("jl", left(0))
    engine.ingest("jr", right(0))
    val jmv = dir.resolve("jmv")
    engine.execute(s"join matview create where path = $jmv " +
      """and spec = {"left": "jl", "right": "jr", "on": [["lk", "rk"]], """ +
      """"keys": ["g"], "aggs": [{"fn": "count", "alias": "n"}, """ +
      """{"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    val go = new CountDownLatch(1)
    val writers = Seq(("jl", left _), ("jr", right _)).map { case (t, b) =>
      async { go.await(); (1 to 4).map(k => engine.ingest(t, b(k))).sum }
    }
    go.countDown()
    assert(writers.map(_.get(secs * 2, TimeUnit.SECONDS)) === Seq(40L, 40L))
    noFoldErrors(engine)
    val audit = engine.execute("artifact verify where table = jl")
    assert(audit.contains(s"join matview $jmv: VERIFIED exact"), audit)
  }
}
