package graft

import graft.ops.IndexStore

/** IndexStore's in-process schema memo: a memoized read reports
  * exactly the schema Spark infers from the committed files, runs no
  * job, never serves a dropped store's schema, and holds only the
  * retained versions. */
class SchemaMemoSpec extends SparkSpec {
  import spark.implicits._

  private def inferred(dir: String) = spark.read.parquet(
    s"$dir/v=${IndexStore.currentVersion(spark, dir).get}").schema

  test("rollup, matview, join matview and tindex reads report the " +
      "inferred parquet schema, with no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("sm1")
    val cat = new graft.engine.Catalog(spark)
    val engine = new graft.engine.Engine(spark, cat)
    engine.dataDir = Some(dir.resolve("data").toString)
    engine.ingest("sl", Seq((1, "x", "2024-01-01 10:00:00", "alpha beta"),
        (2, "y", "2024-01-01 11:30:00", "beta gamma")).map {
      case (k, g, ts, txt) =>
        s"""{"lk": $k, "g": "$g", "ts": "$ts", "v": ${k * 10}, "text": "$txt"}"""
    }.mkString("\n"))
    engine.ingest("sr", """{"rk": 1, "w": 5}""" + "\n" + """{"rk": 2, "w": 7}""")
    val p = (n: String) => dir.resolve(n).toString
    engine.execute(s"rollup create where table = sl and path = ${p("ru")} " +
      "and time = ts and value = v and grain = hour and dims = (g)")
    engine.execute(s"matview create where table = sl and path = ${p("mv")} " +
      """and spec = {"keys": ["g"], "aggs": [{"fn": "count", "alias": "n"},""" +
      """ {"fn": "max", "expr": "v", "alias": "mx"}]}""")
    engine.execute(s"join matview create where path = ${p("jm")} and " +
      """spec = {"left": "sl", "right": "sr", "on": [["lk", "rk"]], """ +
      """"keys": ["g"], "aggs": [{"fn": "sum", "expr": "w", "alias": "sw"}]}""")
    engine.execute(s"tindex create where table = sl and path = ${p("tx")} " +
      "and id = lk and text = text")
    // a PUT folds every artifact into a new version
    engine.ingest("sl", """{"lk": 3, "g": "x", "ts": "2024-01-01 12:00:00", """ +
      """"v": 30, "text": "gamma delta"}""")
    assert(engine.execute("get view auto refresh").contains("no fold errors"))
    for (a <- Seq("ru", "mv", "jm", "tx")) {
      assert(IndexStore.currentVersion(spark, p(a)) === Some(2L), a)
      val (df, jobs) = JobCount(spark)(IndexStore.read(spark, p(a)).get)
      assert(jobs === 0, s"$a read ran $jobs jobs")
      assert(df.schema === inferred(p(a)), a)
    }
  }

  test("a drop and re-create at the same path reads the new schema; " +
      "pruned versions leave the memo") {
    val dir = java.nio.file.Files.createTempDirectory("sm2")
      .resolve("idx").toString
    IndexStore.write(Seq((1L, "a")).toDF("id", "s"), dir)
    assert(IndexStore.read(spark, dir).get.columns.toSeq === Seq("id", "s"))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    IndexStore.write(Seq((2.5, Seq(1, 2))).toDF("x", "arr"), dir)
    val re = IndexStore.read(spark, dir).get
    assert(re.schema === inferred(dir))
    assert(re.columns.toSeq === Seq("x", "arr"))
    assert(re.collect().head.getDouble(0) === 2.5)

    (1 to 3).foreach(i => IndexStore.write(Seq(i.toDouble -> Seq(i))
      .toDF("x", "arr"), dir))
    assert(IndexStore.committedVersions(spark, dir) === Seq(3L, 4L))
    import scala.jdk.CollectionConverters._
    val memo = IndexStore.schemas.keySet.asScala.map(_._1)
      .filter(_.contains(s"$dir/v=")).map(_.split("/v=").last.toLong)
    assert(memo === Set(3L, 4L))
  }
}
