package graft.streaming

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

import graft.ingest.MappingPolicy

/** Structured-Streaming ingest pipeline: watch-dir JSON files (or any
  * streaming source) -> mapping policy -> conditions -> partitioned
  * parquet append.
  *
  * Reference mapping (/root/reference):
  *  - watch-dir consumption `members/aloperator.py` + dispatch
  *    `generic/streaming_data.py:397` -> Spark's file streaming source
  *    (native archiving via `cleanSource`/`sourceArchiveDir`).
  *  - flush thresholds 60 s / 10,000 B (`streaming_data.py:29-30`) ->
  *    micro-batch `Trigger.ProcessingTime`; `write_immediate` (:32) ->
  *    a short trigger. Like the reference's flush of its whole buffer,
  *    one trigger takes everything that has landed: admission is
  *    bounded by bytes (one wave of full-size read tasks, see
  *    [[watchDir]]), not by a file count.
  *  - time partitioning `dbms/partitions.py` -> `partitionBy` on a
  *    derived date column; partition pruning replaces the reference's
  *    partition-name matching at query time.
  */
object StreamIngest {

  /** Build the file-watch source (one JSON document per line).
    * A trigger admits every landed file up to [[triggerBytes]], so a
    * backlog of small landings drains as one micro-batch. Memory
    * follows bytes, not file count: the file source already lists the
    * whole dir and remembers every seen path on each trigger. Names
    * starting with `.` or `_` are skipped; transports publish each
    * landing whole through [[Landing]].
    * `archiveDir` moves processed files out of the watch dir via the
    * file source's native `cleanSource` archiving — the reference's
    * watch-dir → archive flow (§2.1 row 10). */
  def watchDir(spark: SparkSession, dir: String,
      archiveDir: Option[String] = None): DataFrame = {
    val r0 = spark.readStream
      .format("text")
      .option("maxBytesPerTrigger", triggerBytes(spark))
    archiveDir.map(a => r0.option("cleanSource", "archive")
      .option("sourceArchiveDir", a)).getOrElse(r0)
      .load(dir)
  }

  /** A trigger's admission bound: one wave of full-size read tasks,
    * `spark.sql.files.maxPartitionBytes` × default parallelism (512 MB
    * at the 128 MB default on 4 cores). Derived, not a setting. */
  private def triggerBytes(spark: SparkSession): Long =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf.filesMaxPartitionBytes *
      spark.sparkContext.defaultParallelism

  /** Compile the full ingest flow on any streaming (or batch) frame of
    * raw JSON documents. Returns (rows, alerts). */
  def pipeline(raw: DataFrame, policy: MappingPolicy.Policy,
      conditions: Seq[StreamOps.Condition] = Nil)
      : (DataFrame, DataFrame) = {
    val mapped = MappingPolicy.compile(policy, raw)
    StreamOps.applyConditions(mapped, conditions)
  }

  /** Start the append sink: micro-batches land as parquet partitioned by
    * the given column, with the reference's 60 s default flush cadence. */
  def startParquetSink(rows: DataFrame, outDir: String,
      checkpoint: String, partitionCol: Option[String] = None,
      flushSeconds: Long = 60, name: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w0: DataStreamWriter[Row] = rows.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(flushSeconds, TimeUnit.SECONDS))
      .outputMode("append")
    // a named query shows up in `get streaming` (Engine) by that name
    val w = name.map(w0.queryName).getOrElse(w0)
    partitionCol.map(c => w.partitionBy(c)).getOrElse(w).start()
  }

  /** The STREAMING twin of the PUT auto-fold: keep every registered
    * standing aggregate artifact (matview / rollup / join matview)
    * fresh as a stream lands in `table`. Pair it with
    * [[startParquetSink]] on the SAME rows frame:
    *
    *   - the parquet file sink owns the TABLE append (Spark's file-sink
    *     commit log makes that leg exactly-once on its own checkpoint);
    *   - this sink owns the VIEW folds, exactly-once through the
    *     IndexStore batch-tag protocol
    *     ([[graft.engine.Engine.foldStandingViews]] with
    *     `stream_<table>_<batchId>` — a replayed batch whose tag is
    *     live skips; the two-version lookback covers checkpointed
    *     retry-the-last-batch).
    *
    * Each leg is exactly-once; the two run on separate checkpoints, so
    * a view may LEAD or LAG the table by up to one micro-batch — the
    * documented eventual-consistency window (the alternative, one
    * foreachBatch doing both, would make the table append at-least-once
    * under replay and double-ingest rows: lagging views reconcile,
    * duplicated rows never do). Fold errors never kill the stream —
    * they record in the engine's auto-fold error log (`get view auto
    * refresh`). */
  def startViewFoldSink(engine: graft.engine.Engine, table: String,
      rows: DataFrame, checkpoint: String, flushSeconds: Long = 60,
      name: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w0 = rows.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        engine.foldStandingViews(table, b,
          batchTag = Some(s"stream_${table}_$id"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(flushSeconds, TimeUnit.SECONDS))
    name.map(w0.queryName).getOrElse(w0).start()
  }

  /** Idempotent per-batch parquet append — the table leg of
    * [[startTransactionalSink]]: materialize the micro-batch under a
    * hidden scratch dir (`_txn_b<id>`, invisible to parquet readers),
    * then move its part files into `outDir` under DETERMINISTIC names
    * (`b<id>_<i>.parquet`), deleting any same-batch leftovers first.
    * A replay of the same batch id rewrites the same file names with
    * the same rows — no duplicate rows and no reliance on Spark's
    * file-sink commit log, which is exactly what lets the table append
    * share ONE foreachBatch with the view folds. Renames are per-file
    * metadata ops; the data is written once. */
  def appendBatchIdempotent(b: DataFrame, outDir: String,
      id: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(outDir)
      .getFileSystem(b.sparkSession.sparkContext.hadoopConfiguration)
    val out = new Path(outDir)
    fs.mkdirs(out)
    val scratch = new Path(out, s"_txn_b$id")
    fs.delete(scratch, true)
    b.write.mode("overwrite").parquet(scratch.toString)
    moveBatchFiles(fs, scratch, out, id)
    fs.delete(scratch, true)
  }

  /** Move a scratch write's part files into `dst` under deterministic
    * `b<id>_<i>.parquet` names, clearing a crashed previous attempt of
    * the SAME batch first (its names are about to be rewritten). */
  private def moveBatchFiles(fs: org.apache.hadoop.fs.FileSystem,
      scratch: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path, id: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val parts = fs.listStatus(scratch).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    fs.mkdirs(dst)
    fs.listStatus(dst).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(s"b${id}_"))
        fs.delete(st.getPath, false)
    }
    parts.zipWithIndex.foreach { case (p, i) =>
      fs.rename(p, new Path(dst, s"b${id}_$i.parquet"))
    }
  }

  /** The TIME-PARTITIONED twin of [[appendBatchIdempotent]]: the batch
    * buckets by [[graft.engine.TimePartitions.bucketExpr]] and each
    * bucket's files move into `outDir/__par=<bucket>/` under the same
    * deterministic per-batch names — retention (`drop partition`) and
    * the Engine's partition pruning see exactly the layout
    * TimePartitions.write produces. Replay determinism: the batch is
    * repartitioned BY the bucket column before the scratch write, so
    * each bucket lands as one task's file(s) and a replayed batch
    * reproduces the same bucket set; same-batch leftovers per bucket
    * clear before the renames, covering even a task-count change. */
  def appendBatchIdempotentPartitioned(b: DataFrame, outDir: String,
      id: Long, tsCol: String, unit: String, n: Int): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val fs = new Path(outDir)
      .getFileSystem(b.sparkSession.sparkContext.hadoopConfiguration)
    val out = new Path(outDir)
    fs.mkdirs(out)
    val scratch = new Path(out, s"_txn_b$id")
    fs.delete(scratch, true)
    b.withColumn("__par",
        graft.engine.TimePartitions.bucketExpr(tsCol, unit, n))
      .repartition(col("__par"))
      .sortWithinPartitions(col("__par"), col(tsCol))
      .write.mode("overwrite").partitionBy("__par")
      .parquet(scratch.toString)
    fs.listStatus(scratch).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("__par="))
        moveBatchFiles(fs, st.getPath,
          new Path(out, st.getPath.getName), id)
    }
    fs.delete(scratch, true)
  }

  /** The SINGLE transactional sink: one foreachBatch owns BOTH the
    * table append and the standing-view folds, keyed to the same
    * checkpointed batch id — retiring the documented one-micro-batch
    * lead/lag window of the [[startParquetSink]] + [[startViewFoldSink]]
    * pairing (two sinks on separate checkpoints could each be one
    * batch ahead of the other after a crash).
    *
    * Exactly-once under at-least-once foreachBatch replay, leg by leg:
    *  - table append: [[appendBatchIdempotent]] — deterministic
    *    per-batch file names, a replay rewrites the same files;
    *  - view folds: the IndexStore batch-tag protocol
    *    ([[graft.engine.Engine.foldStandingViews]] with
    *    `txn_<table>_<id>` — a batch whose tag is live skips).
    * A crash ANYWHERE inside the batch replays both legs idempotently:
    * there is no state where the table holds a batch the views can
    * never learn about, or vice versa. Fold errors record in the
    * engine's auto-fold log, never kill the stream.
    *
    * The batch is coalesced to at most `defaultParallelism` partitions
    * before the checkpoint both legs consume: the file source packs
    * tiny landings by `openCostInBytes`, so a 1000-file backlog reads
    * as ~32 partitions and would append ~32 parquet files. Replay
    * stays deterministic: the file list comes from the source log and
    * the packing and coalesce depend only on it.
    *
    * `outDir` should be the engine table's registered storage path, so
    * folds and queries see the appended rows immediately. With
    * `partition` set ((tsCol, unit, n) — the TimePartitions layout),
    * the append buckets per [[appendBatchIdempotentPartitioned]] so
    * retention and pruning work over the sink's output too. */
  def startTransactionalSink(engine: graft.engine.Engine, table: String,
      rows: DataFrame, outDir: String, checkpoint: String,
      flushSeconds: Long = 60, name: Option[String] = None,
      partition: Option[(String, String, Int)] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w0 = rows.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val batch = b.coalesce(b.sparkSession.sparkContext.defaultParallelism)
          .localCheckpoint() // consumed by both legs
        partition match {
          case Some((tsCol, unit, n)) =>
            appendBatchIdempotentPartitioned(batch, outDir, id,
              tsCol, unit, n)
          case None => appendBatchIdempotent(batch, outDir, id)
        }
        engine.foldStandingViews(table, batch,
          batchTag = Some(s"txn_${table}_$id"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(flushSeconds, TimeUnit.SECONDS))
    name.map(w0.queryName).getOrElse(w0).start()
  }
}
