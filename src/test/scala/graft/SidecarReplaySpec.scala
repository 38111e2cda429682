package graft

import org.apache.spark.sql.functions._

/** A fold that commits a family's main store and then its sidecar (the
  * tindex trigram sidecar `<path>-grams`, the exact dedup index's Bloom
  * sidecar `<path>-bloom`) can crash between the two commits. The main
  * store then carries the batch tag and the sidecar does not, so a
  * replay of the batch must fold the sidecar alone. */
class SidecarReplaySpec extends SparkSpec {
  import spark.implicits._

  test("a replayed fold folds a sidecar that never committed, though " +
      "the main store already carries the batch tag") {
    val dir = java.nio.file.Files.createTempDirectory("scr1")
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("id", "text").withColumn("tsd_id", lit(1))
      .write.parquet(dir.resolve("sr.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("sr", dir.resolve("sr.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val tx = dir.resolve("tx").toString
    val dx = dir.resolve("dx").toString
    engine.execute(s"tindex create where table = sr and path = $tx " +
      "and id = id and text = text and grams = true")
    engine.execute(s"dedup index create where table = sr and " +
      s"path = $dx and type = exact and id = id and text = text")
    engine.execute("set view auto refresh = off")
    engine.ingest("sr", """{"id": 3, "text": "eta theta iota"}""")
    val batch = cat.table("sr").filter(col("id") === 3L)
    val wm = batch.select(col("tsd_id").cast("long")).head().getLong(0)

    // the state a crash between the two commits leaves: each main
    // store holds the batch's fold under the batch tag and the advanced
    // watermark, its sidecar is still at the version before the batch
    val tag = "stream_sr_5"
    val postings = graft.ops.IndexStore.read(spark, tx).get
    graft.ops.IndexStore.write(graft.ops.Retrieval.refreshPostingsIndex(
        postings, batch, "text", "id").localCheckpoint(), tx,
      Seq(tag, s"wm_$wm"))
    val hashes = graft.ops.IndexStore.read(spark, dx).get
    graft.ops.IndexStore.write(hashes.unionByName(
        graft.ops.Dedup.exactHashIndex(batch, "text", "id"))
        .localCheckpoint(), dx, Seq(tag, s"wm_$wm"))

    engine.foldStandingViews("sr", batch, batchTag = Some(tag))
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))

    val gated = graft.ops.Dedup.exactGate(
      Seq((20L, "eta theta iota")).toDF("id", "text"),
      graft.ops.IndexStore.read(spark, dx).get,
      graft.ops.IndexStore.read(spark, s"$dx-bloom"), "text", "id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gated === Map(20L -> 1),
      s"the Bloom sidecar let a duplicate of the replayed batch in: $gated")
    val like = engine.execute(
      "tindex like where table = sr and pattern = \"theta\"")
    assert(like.contains(""""id":3"""),
      s"the trigram sidecar missed the replayed batch: $like")
    // a second replay changes nothing: every store carries the tag now
    val versions = Seq(tx, s"$tx-grams", dx, s"$dx-bloom")
      .map(graft.ops.IndexStore.currentVersion(spark, _))
    engine.foldStandingViews("sr", batch, batchTag = Some(tag))
    assert(Seq(tx, s"$tx-grams", dx, s"$dx-bloom")
      .map(graft.ops.IndexStore.currentVersion(spark, _)) === versions)
  }
}
