package graft

import org.apache.spark.sql.functions._

/** The six `wm_`-tagged standing-artifact families (matview, rollup,
  * vindex, tindex, sindex, dedup index) driven together through the
  * command surface: every `<family> sync`, `sync all`, `artifact verify`
  * and the auto-fold inventory, over one lineage-stamped table whose
  * batch was missed while auto refresh was off. */
class ArtifactFamilySpec extends SparkSpec {
  import spark.implicits._

  test("a missed batch: each family's sync folds it once, sync all and " +
      "artifact verify see all six, the sidecars serve it") {
    val dir = java.nio.file.Files.createTempDirectory("af1")
    Seq((1L, "2024-01-01 10:00:00", 10L, "alpha beta gamma",
        Array(1.0f, 0.0f)),
      (2L, "2024-01-01 11:00:00", 20L, "delta epsilon zeta",
        Array(0.0f, 1.0f)))
      .toDF("id", "ts_s", "v", "text", "vec")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .withColumn("tsd_id", lit(1))
      .write.parquet(dir.resolve("af.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("af", dir.resolve("af.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val p = Seq("mv", "ru", "vx", "tx", "sx", "dx")
      .map(n => n -> dir.resolve(n).toString).toMap
    engine.execute(s"matview create where table = af and path = ${p("mv")} " +
      """and spec = {"keys": ["id"], "aggs": [{"fn": "count", """ +
      """"alias": "n"}, {"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    engine.execute(s"rollup create where table = af and path = ${p("ru")} " +
      "and time = ts and value = v and grain = hour")
    engine.execute(s"vindex create where table = af and path = ${p("vx")} " +
      "and id = id and vector = vec and type = sq8")
    engine.execute(s"tindex create where table = af and path = ${p("tx")} " +
      "and id = id and text = text and grams = true")
    engine.execute(s"sindex create where table = af and key = text " +
      s"and text = text and k = 8 and path = ${p("sx")}")
    engine.execute(s"dedup index create where table = af and " +
      s"path = ${p("dx")} and type = exact and id = id and text = text")

    engine.execute("set view auto refresh = off")
    engine.ingest("af", Seq(
      """{"id": 3, "ts": "2024-01-01 12:00:00", "v": 30, """ +
        """"text": "eta theta iota", "vec": [1.0, 1.0]}""",
      """{"id": 4, "ts": "2024-01-01 13:00:00", "v": 40, """ +
        """"text": "kappa lambda mu", "vec": [0.5, 0.5]}""")
      .mkString("\n"))

    val words =
      Seq("matview", "rollup", "vindex", "tindex", "sindex", "dedup index")
    words.foreach { w =>
      val first = engine.execute(s"$w sync where table = af")
      assert(first.startsWith(s"$w for af synced: 2 missed row(s)"), first)
      val second = engine.execute(s"$w sync where table = af")
      assert(second.startsWith(s"$w for af in sync"), second)
    }
    val all = engine.execute("sync all where table = af")
    words.foreach(w =>
      assert(all.linesIterator.count(_.startsWith(s"$w for af in sync")) === 1,
        all))
    assert(all.linesIterator.size === 6, all)

    val verify = engine.execute("artifact verify where table = af")
    assert(verify.linesIterator.count(_.contains("VERIFIED exact")) === 5,
      verify)
    assert(verify.contains(s"vindex ${p("vx")}: verify REFUSED"), verify)
    assert(!verify.contains("DIVERGED") && !verify.contains("FAILED"),
      verify)

    val inv = engine.execute("get view auto refresh")
    Seq("matview" -> "mv", "rollup" -> "ru", "vindex" -> "vx",
        "tindex" -> "tx", "sindex" -> "sx", "dedup index" -> "dx").foreach { case (w, n) =>
      assert(inv.contains(s"af: $w ${p(n)}"), inv)
    }
    assert(inv.linesIterator.count(_.startsWith("af: ")) === 6, inv)

    // the synced batch reaches both sidecars: the trigram sidecar serves
    // `tindex like`, and the Bloom prefilter passes a re-sent copy of a
    // batch doc on to the exact join
    val like = engine.execute(
      "tindex like where table = af and pattern = \"theta\"")
    assert(like.contains(""""id":3"""), like)
    val gated = graft.ops.Dedup.exactGate(
      Seq((20L, "kappa lambda mu")).toDF("id", "text"),
      graft.ops.IndexStore.read(spark, p("dx")).get,
      graft.ops.IndexStore.read(spark, s"${p("dx")}-bloom"), "text", "id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gated === Map(20L -> 1), gated)
  }
}
