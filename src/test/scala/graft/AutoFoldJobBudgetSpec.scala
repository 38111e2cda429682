package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Counts the Spark jobs a thunk starts on the calling thread, through
  * a job group. Listener events arrive asynchronously but in order, so
  * a marker job run after the thunk bounds the wait. */
object JobCount {
  def apply[A](spark: SparkSession)(thunk: => A): (A, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val (group, marker) = (s"jobs-$id", s"marker-$id")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(started.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted", interruptOnCancel = false)
      val out = try thunk finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(marker), "listener never saw the marker job")
      (out, started.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}

/** The PUT auto-fold's Spark job budget: a PUT into a table with a
  * registered rollup and matview (auto refresh on) stays within 13
  * jobs, and both folded artifacts still equal a from-scratch create. */
class AutoFoldJobBudgetSpec extends SparkSpec {

  private def body(k: Int): String = (0 until 20).map { i =>
    val s = (k * 7919 + i * 613) % 86400
    f"""{"ts": "2024-01-01 ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d", """ +
      f""""device": "d${(k + i) % 4}", "v": ${k * 100 + i}.25}"""
  }.mkString("\n")

  private def sorted(df: DataFrame): Seq[String] =
    df.drop(graft.ops.MatView.WatermarkCol).collect().map(_.toString)
      .toSeq.sorted

  test("a PUT folds its rollup and matview in at most 13 Spark jobs; " +
      "served totals equal the table and each artifact equals a fresh " +
      "create") {
    val dir = java.nio.file.Files.createTempDirectory("afjb")
    val cat = new graft.engine.Catalog(spark)
    val engine = new graft.engine.Engine(spark, cat)
    engine.dataDir = Some(dir.resolve("data").toString)
    engine.ingest("jb", body(1))
    def create(ru: String, mv: String): Unit = {
      engine.execute(s"rollup create where table = jb and path = $ru " +
        "and time = ts and value = v and grain = minute and dims = (device)")
      engine.execute(s"matview create where table = jb and path = $mv " +
        """and spec = {"keys": ["device"], "aggs": [{"fn": "count", """ +
        """"alias": "n"}, {"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    }
    val (ru, mv) = (dir.resolve("ru").toString, dir.resolve("mv").toString)
    create(ru, mv)
    engine.ingest("jb", body(2))
    val (n, jobs) = JobCount(spark)(engine.ingest("jb", body(3)))
    assert(n === 20L)
    assert(jobs <= 13, s"PUT with rollup + matview auto-fold ran $jobs jobs")
    assert(engine.execute("get view auto refresh").contains("no fold errors"))

    val table = cat.tablePath("jb").get
    val rows = spark.read.parquet(table).count()
    assert(rows === 60L)
    // served: the answer comes from the artifact, reading no table file
    // (the control query, which no artifact answers, does read them)
    def scans(sql: String) = engine.query(s"""sql edge "$sql"""")
      .inputFiles.exists(_.contains(table))
    assert(scans("select max(v) as m from jb"))
    def total(sql: String): Long = {
      assert(!scans(sql), sql)
      engine.query(s"""sql edge "$sql"""").collect()
        .map(_.getAs[Number]("n").longValue).sum
    }
    assert(total("select increments(year, 1, ts), count(*) as n from jb")
      === rows)
    assert(total("select device, count(*) as n from jb group by device")
      === rows)

    val folded = Seq(ru, mv).map(p =>
      sorted(graft.ops.IndexStore.read(spark, p).get))
    val (ru2, mv2) = (dir.resolve("ru2").toString, dir.resolve("mv2").toString)
    create(ru2, mv2)
    val fresh = Seq(ru2, mv2).map(p =>
      sorted(graft.ops.IndexStore.read(spark, p).get))
    assert(folded === fresh)
    assert(folded.head.nonEmpty && folded(1).length === 4)
  }
}
