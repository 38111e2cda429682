package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.IndexStore

/** A PUT folds into its rollup and matview as one aggregate over the
  * stored state and the batch's per-row partials. The committed rows
  * must equal the two-level fold (the batch grouped into partials
  * first, then merged into the state), written out here with plain
  * `groupBy` and `count`/`sum`/`min`/`max`, and a fresh create; the
  * spec records a `count(*)`, and the batches carry NULL measures, a
  * `count(expr)` over NULLs, int, decimal(18,2) and double sums
  * (exactly representable values), a brand-new group and an all-NULL
  * group. */
class FoldEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("g", StringType),
    StructField("i", IntegerType), StructField("d", DecimalType(18, 2)),
    StructField("x", DoubleType)))

  private val aggs = Seq(("count", "1", "n"), ("count", "x", "nx"),
    ("count", "i", "ni"), ("sum", "i", "si"), ("sum", "d", "sd"),
    ("sum", "x", "sx"), ("min", "x", "mnx"), ("max", "x", "mxx"),
    ("min", "d", "mnd"), ("max", "i", "mxi"), ("count", "*", "ns"))

  private val spec = """{"keys": ["g"], "aggs": [""" + aggs.map {
    case (f, e, a) => s"""{"fn": "$f", "expr": "$e", "alias": "$a"}"""
  }.mkString(", ") + "]}"

  private def row(ts: String, g: String, i: Any, d: Any, x: Any): String = {
    def v(a: Any) = if (a == null) "null" else a.toString
    s"""{"ts": "2024-01-01 $ts", "g": "$g", "i": ${v(i)}, "d": ${v(d)}, "x": ${v(x)}}"""
  }

  private val puts = Seq(
    // NULL measures in a stored group, a count(x) over NULLs, a new group
    Seq(row("00:00:10", "a", 3, "1.25", 0.5), row("00:00:40", "a", null, null, null),
      row("00:01:05", "b", -2, "-0.75", null), row("00:03:00", "c", 7, "10.50", 2.25)),
    // an all-NULL brand-new group, beside late rows into stored buckets
    Seq(row("00:05:00", "z", null, null, null), row("00:05:30", "z", null, null, null),
      row("00:00:20", "a", 1, "0.25", -1.75), row("00:02:00", "b", 4, "2.00", 8.0)),
    // the all-NULL group gains a value; a NULL row into a new bucket
    Seq(row("00:05:45", "z", 2, "0.50", 1.5), row("00:07:00", "c", null, null, null),
      row("00:03:10", "c", 5, "3.75", -0.25)))

  private def collected(df: DataFrame): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The matview's two-level fold: the batch's grouped partials, then
    * the merge into the state. */
  private def mvTwoLevel(state: DataFrame, batch: DataFrame): DataFrame = {
    val part = batch.groupBy("g").agg(count(lit(1)).as("n"),
      count(col("x")).as("nx"), count(col("i")).as("ni"),
      sum(col("i")).as("si"), sum(col("d")).as("sd"), sum(col("x")).as("sx"),
      min(col("x")).as("mnx"), max(col("x")).as("mxx"),
      min(col("d")).as("mnd"), max(col("i")).as("mxi"),
      count(expr("*")).as("ns"))
    state.unionByName(part).groupBy("g").agg(sum(col("n")).as("n"),
      sum(col("nx")).as("nx"), sum(col("ni")).as("ni"),
      sum(col("si")).as("si"), sum(col("sd")).as("sd"),
      sum(col("sx")).as("sx"), min(col("mnx")).as("mnx"),
      max(col("mxx")).as("mxx"), min(col("mnd")).as("mnd"),
      max(col("mxi")).as("mxi"), sum(col("ns")).as("ns"))
  }

  /** The rollup's two-level fold at minute grain, dims (g), measures
    * i, d and x. */
  private def ruTwoLevel(state: DataFrame, batch: DataFrame): DataFrame = {
    val ms = Seq("i", "d", "x")
    val part = batch.groupBy(date_trunc("minute", col("ts")).as("grain_ts"),
        col("g"))
      .agg(count(lit(1)).as("n"), ms.flatMap(m => Seq(
        count(col(m)).as(s"nv_$m"),
        sum(col(m).cast(DecimalType(18, 2))).cast(DecimalType(28, 2))
          .as(s"sum_dec_$m"),
        min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))): _*)
      .withColumn("grain", lit("minute")).withColumn("ts_col", lit("ts"))
    state.unionByName(part).groupBy(col("grain_ts"), col("g"))
      .agg(sum(col("n")).as("n"), ms.flatMap(m => Seq(
        sum(col(s"nv_$m")).as(s"nv_$m"),
        sum(col(s"sum_dec_$m")).cast(DecimalType(28, 2)).as(s"sum_dec_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"))): _*)
      .withColumn("grain", lit("minute")).withColumn("ts_col", lit("ts"))
  }

  test("each PUT commits the two-level fold of its batch into the " +
      "rollup and the matview; three PUTs later both equal a fresh " +
      "create and verify exact") {
    val dir = java.nio.file.Files.createTempDirectory("feq")
    val tbl = dir.resolve("fe").toString
    graft.ingest.SystemColumns.stamp(spark.createDataFrame(
      java.util.Arrays.asList(
        Row(java.sql.Timestamp.valueOf("2024-01-01 00:00:05"), "a", 10,
          new java.math.BigDecimal("5.50"), 4.0),
        Row(java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "b", null,
          null, null)), schema), "rst", 0)
      .write.parquet(tbl)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("fe", tbl)
    val engine = new graft.engine.Engine(spark, cat)
    def create(ru: String, mv: String): Unit = {
      engine.execute(s"rollup create where table = fe and path = $ru " +
        "and time = ts and value = (i, d, x) and grain = minute and " +
        "dims = (g)")
      engine.execute(s"matview create where table = fe and path = $mv " +
        s"and spec = $spec")
    }
    val (ru, mv) = (dir.resolve("ru").toString, dir.resolve("mv").toString)
    create(ru, mv)

    puts.foreach { lines =>
      val before = Seq(ru, mv).map(p => collected(IndexStore.read(spark, p).get))
      assert(engine.ingest("fe", lines.mkString("\n")) === lines.size.toLong)
      val t = cat.table("fe")
      val batch = t.filter(col("tsd_id") ===
        t.agg(max(col("tsd_id"))).head().getInt(0))
      assert(batch.count() === lines.size.toLong)
      Seq((ru, ruTwoLevel _), (mv, mvTwoLevel _)).zip(before).foreach {
        case ((p, twoLevel), state) =>
          val got = IndexStore.read(spark, p).get
          assert(sorted(got) === sorted(twoLevel(state, batch)
            .select(got.columns.map(col): _*)), p)
      }
    }
    val report = engine.execute("get view auto refresh")
    assert(report.contains("no fold errors"), report)
    val audit = engine.execute("artifact verify where table = fe")
    assert(audit.contains(s"rollup $ru: VERIFIED exact"), audit)
    assert(audit.contains(s"matview $mv: VERIFIED exact"), audit)

    val folded = Seq(ru, mv).map(p => sorted(IndexStore.read(spark, p).get))
    val (ru2, mv2) = (dir.resolve("ru2").toString, dir.resolve("mv2").toString)
    create(ru2, mv2)
    assert(folded === Seq(ru2, mv2).map(p =>
      sorted(IndexStore.read(spark, p).get)))
    // the all-NULL group's counts are 0 and its sums NULL, not absent
    assert(folded(1).exists(_.startsWith("[z,3,1,1,2,0.50,1.5,")),
      folded(1))
  }

  test("a transactional-sink batch into a table with a matview runs 4 " +
      "Spark jobs: checkpoint, append, the fold's aggregate and its " +
      "write") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("feqs")
    val tbl = dir.resolve("t").toString
    Seq(("a", 1L)).toDF("g", "k").write.parquet(tbl)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("fs", tbl)
    val engine = new graft.engine.Engine(spark, cat)
    val mv = dir.resolve("mv").toString
    engine.execute(s"matview create where table = fs and path = $mv " +
      """and spec = {"keys": ["g"], "aggs": [{"fn": "count", "alias": """ +
      """"n"}, {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          Seq("sql.streaming.queryId", "spark.jobGroup.id")
            .flatMap(k => Option(p.getProperty(k))).headOption
            .foreach(started.add)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.StreamIngest.startTransactionalSink(engine,
      "fs", mem.toDF().toDF("g", "k"), tbl,
      dir.resolve("ckpt").toString, flushSeconds = 1)
    val jobs = try {
      mem.addData(("a", 10L), ("b", 2L))
      q.processAllAvailable()
      val marker = s"marker-${q.id}"
      spark.sparkContext.setJobGroup(marker, "marker",
        interruptOnCancel = false)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!started.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(started.contains(marker), "listener never saw the marker job")
      started.toArray.count(_ == q.id.toString)
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs === 4, s"transactional sink batch ran $jobs jobs")
    val got = engine.execute(s"matview get where path = $mv")
    assert(got.contains(""""g":"a","n":2,"sk":11"""), got)
    assert(got.contains(""""g":"b","n":1,"sk":2"""), got)
    assert(engine.execute("get view auto refresh").contains("no fold errors"))
  }
}
