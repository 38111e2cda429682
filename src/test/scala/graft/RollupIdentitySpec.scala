package graft

import org.apache.spark.sql.functions._

import graft.ops.{IndexStore, Rollup}

/** `Rollup.refreshStore` refuses a stored state whose identity does
  * not match the fold, with the same messages as the per-probe checks
  * it replaced, and commits nothing. */
class RollupIdentitySpec extends SparkSpec {
  import spark.implicits._

  private val events = Seq((1L, "2024-01-01 00:10:07", "a", 1.5),
      (2L, "2024-01-01 02:20:00", "b", 2.0))
    .toDF("event_id", "s", "event_type", "value")
    .withColumn("ts", col("s").cast("timestamp"))
    .withColumn("ts2", col("ts"))

  private def refused(stored: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("rid")
      .resolve("ru").toString
    IndexStore.write(stored, dir)
    val ex = intercept[IllegalArgumentException](Rollup.refreshStore(
      spark, dir, events, "ts", "minute", Seq("event_type"), Seq("value")))
    assert(IndexStore.currentVersion(spark, dir) === Some(1L))
    ex.getMessage
  }

  test("a stored state with another ts_col is refused") {
    val other = Rollup.build(events, "ts2", "minute", Seq("event_type"),
      Seq("value"))
    assert(refused(other).contains("mixed-identity rollup union: " +
      "(grain=minute, ts_col=ts), (grain=minute, ts_col=ts2)"))
  }

  test("a mixed-grain stored state is refused") {
    def at(g: String) = Rollup.build(events, "ts", g, Seq("event_type"),
      Seq("value"))
    assert(refused(at("minute").unionByName(at("hour")))
      .contains("mixed-grain rollup: hour, minute"))
  }

  test("Rollup.refresh refuses a foreign ts_col and an empty state") {
    val other = Rollup.build(events, "ts2", "minute", Seq("event_type"),
      Seq("value"))
    def fold(r: org.apache.spark.sql.DataFrame) =
      Rollup.refresh(r, events, "ts", Seq("event_type"), Seq("value"))
    assert(intercept[IllegalArgumentException](fold(other)).getMessage
      .contains("mixed-identity rollup union"))
    assert(intercept[IllegalStateException](fold(other.limit(0)))
      .getMessage.contains("empty rollup state carries no grain rows"))
  }
}
