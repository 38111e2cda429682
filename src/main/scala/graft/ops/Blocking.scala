package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood blocking (Hernández & Stolfo SIGMOD 1995): sort
  * the corpus by a blocking key and emit candidate pairs only within a
  * sliding window of `w` positions — the classic entity-resolution
  * complement of LSH blocking (LSH finds high-set-overlap pairs; a
  * sorted key finds prefix/attribute-skewed near-matches, and the pair
  * budget is EXACTLY n*w by construction, no hot-bucket blowup).
  *
  * Scale shape: the global sort position is computed WITHOUT a global
  * single-partition window — one range exchange, per-partition local
  * ranks, plus a #partitions-row offset table (two tiny jobs) joined
  * back broadcast. The window pairing is an equi-join on the position
  * block (`pos div w`, own + next block) filtered to gap <= w — never
  * a cross join. Output order is partitioning-independent: positions
  * rank the TOTAL order (key, id), whatever the range boundaries.
  */
object Blocking {
  /** Dense global rank (0-based `pos`) of every row in (keyCol, idCol)
    * order, appended as a column. Two extra tiny jobs: the range
    * exchange's partition sizes -> prefix offsets (#partitions rows,
    * driver-side scan), then offset + local per-partition rank. */
  def globalRank(df: DataFrame, keyCol: String, idCol: String,
      parts: Int = 0): DataFrame = {
    val n = if (parts > 0) parts
      else df.sparkSession.sparkContext.defaultParallelism
    val parted = df
      .repartitionByRange(n, col(keyCol), col(idCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint() // pin the range assignment for both passes
    val counts = parted.groupBy("__pid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until n).scanLeft(0L) {
      case (acc, pid) => acc + counts.getOrElse(pid, 0L)
    }
    val offDf = df.sparkSession
      .createDataFrame(offsets.init.zipWithIndex.map {
        case (off, pid) => (pid, off)
      }).toDF("__pid", "__off")
    parted.join(broadcast(offDf), "__pid")
      .withColumn("pos",
        col("__off") + row_number().over(
          Window.partitionBy("__pid").orderBy(col(keyCol), col(idCol)))
          - 1)
      .drop("__pid", "__off")
  }

  /** Candidate pairs within `w` positions of each other in (keyCol,
    * idCol) order: `(id_a, id_b, gap)` with id_a the earlier position.
    * Exactly the pairs {(i, j) : 0 < pos_j - pos_i <= w} — n*w pairs
    * total, emitted through a block equi-join (`pos div w` own + next
    * block), never a cross join. */
  def sortedNeighborhoodPairs(df: DataFrame, keyCol: String,
      idCol: String, w: Int): DataFrame = {
    require(w >= 1, "window w must be >= 1")
    val ranked = globalRank(df, keyCol, idCol)
      .select(col(idCol).as("id"), col("pos"))
    val blocks = ranked.select(col("id"), col("pos"),
        explode(array(expr(s"pos div $w"), expr(s"pos div $w + 1")))
          .as("blk"))
    val left = blocks.select(col("id").as("id_a"),
      col("pos").as("pa"), col("blk"))
    val right = ranked.select(col("id").as("id_b"),
      col("pos").as("pb"), expr(s"pos div $w").as("blk"))
    left.join(right, Seq("blk"))
      .filter(col("pb") > col("pa") && col("pb") - col("pa") <= w)
      .select(col("id_a"), col("id_b"), (col("pb") - col("pa")).as("gap"))
      .distinct()
  }
}
