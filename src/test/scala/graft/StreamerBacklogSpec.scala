package graft

/** A landed backlog drains as ONE streamer micro-batch: the file source
  * admits by bytes (one wave of full-size read tasks), not by a file
  * count, and the transactional sink appends the batch as at most
  * `defaultParallelism` parquet files — the reference flushes its whole
  * buffer at once (`generic/streaming_data.py:29-32`). */
class StreamerBacklogSpec extends SparkSpec {
  import graft.engine.{Catalog, Engine}

  test("a 250-file backlog lands in one micro-batch, each row once, " +
      "appended as at most defaultParallelism files, matview-served") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("backlog")
    val watch = root.resolve("watch")
    java.nio.file.Files.createDirectories(watch)
    val n = 250
    (0 until n).foreach { i =>
      java.nio.file.Files.writeString(watch.resolve(f"m$i%03d.json"),
        s"""{"g": "g${i % 5}", "k": $i}""")
    }
    val tbl = root.resolve("t.parquet").toString
    Seq.empty[(String, Long)].toDF("g", "k").write.parquet(tbl)
    val cat = new Catalog(spark)
    cat.registerTable("t", tbl)
    val engine = new Engine(spark, cat)
    engine.execute(s"matview create where table = t and " +
      s"path = ${root.resolve("mv")} " +
      """and spec = {"keys": ["g"], "aggs": [{"fn": "count", "alias": "n"}]}""")
    engine.execute(s"run streamer where dir = $watch and table = t " +
      "and flush = 1")
    val q = engine.streamerQueries("t")
    try {
      q.processAllAvailable()
      val t0 = System.currentTimeMillis
      while (!q.recentProgress.exists(_.numInputRows > 0) &&
          System.currentTimeMillis - t0 < 10000) Thread.sleep(20)
      val first = q.recentProgress.find(_.numInputRows > 0)
      assert(first.map(_.numInputRows) === Some(n.toLong),
        q.recentProgress.map(_.numInputRows).mkString(","))
      assert(engine.execute("get view auto refresh")
        .contains("no fold errors"))

      val rows = spark.read.parquet(tbl)
      assert(rows.count() === n.toLong)
      assert(rows.select("k").distinct().count() === n.toLong)
      assert(rows.agg(org.apache.spark.sql.functions.sum("k"))
        .head().getLong(0) === (0 until n).sum.toLong)

      // served from the matview: the query reads no table file
      val served = """sql edge "select g, count(*) as n from t group by g""""
      assert(!engine.query(served).inputFiles.exists(_.contains(tbl)))
      assert(engine.query(served).collect()
        .map(_.getAs[Number]("n").longValue).sum === n.toLong)

      val id = first.get.batchId
      val files = new java.io.File(tbl).list().toSeq
        .filter(f => f.startsWith(s"b${id}_") && f.endsWith(".parquet"))
      assert(files.nonEmpty &&
        files.size <= spark.sparkContext.defaultParallelism,
        files.mkString(", "))
    } finally engine.execute("exit streamer t")
  }
}
