package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Streaming-side operators (work identically on batch DataFrames and
  * Structured Streaming DataFrames — all are plain declarative
  * transforms).
  *
  * Reference mapping (/root/reference):
  *  - streaming conditions `generic/streaming_conditions.py:31`
  *    (`set_streaming_condition` / `:291 apply_conditions`): per-table
  *    `if <cond> then <action>` rules applied to arriving rows.
  *  - data monitor `cmd/data_monitor.py:43-116`: in-memory tumbling
  *    intervals keeping Min/Max/Sum/Count per table, with threshold
  *    alerts (:398-466). Interval count was capped at 100 in-memory; with
  *    a watermark Spark bounds the state the same way.
  *  - ingest buffering `generic/streaming_data.py:29-32`: 60 s / 10 KB
  *    flush thresholds -> micro-batch trigger interval (applied at the
  *    writeStream site, see StreamIngest).
  */
object StreamOps {

  sealed trait Action
  /** Drop matching rows before they reach storage. */
  case object Drop extends Action
  /** Keep the row but emit it on the alert stream tagged with `tag`. */
  final case class Alert(tag: String) extends Action

  final case class Condition(whenSql: String, action: Action)

  /** Apply streaming conditions: returns (rows to store, alert rows).
    * Alert rows carry an `alert_tag` column. Both outputs are plain
    * filters — fully pushdown-friendly, no state. */
  def applyConditions(df: DataFrame, conds: Seq[Condition])
      : (DataFrame, DataFrame) = {
    val dropPred = conds.collect { case Condition(w, Drop) => expr(w) }
      .reduceOption(_ || _).getOrElse(lit(false))
    // null-safe negation: a NULL predicate (e.g. `value > 100` on a NULL
    // value) means "matched no Drop rule" -> KEEP the row. Plain
    // !NULL = NULL would silently drop it at ingest.
    val kept = df.filter(!coalesce(dropPred, lit(false)))
    val alerts = conds.collect { case Condition(w, Alert(tag)) =>
      // NULL alert predicate = no alert, explicitly
      df.filter(coalesce(expr(w), lit(false))).withColumn("alert_tag", lit(tag))
    } match {
      case Nil => df.filter(lit(false)).withColumn("alert_tag", lit(""))
      case seq => seq.reduce(_.unionByName(_))
    }
    (kept, alerts)
  }

  /** Session windows (absent in the reference — SURVEY §2.8 "free if
    * wanted"): group events into gap-separated sessions per key. Works on
    * batch and streams (add a watermark upstream for streaming). */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String,
      gapSeconds: Int): DataFrame =
    df.groupBy(session_window(col(tsCol), s"$gapSeconds seconds")
        .as("session"), col(keyCol))
      .agg(count(lit(1)).as("n_events"))

  /** Data-monitor aggregation: tumbling `intervalSec`-second windows per
    * key with min/max/sum/count and a derived alert flag. On a stream,
    * add `withWatermark(tsCol, ...)` upstream (the reference keeps the
    * last N intervals in memory; the watermark is Spark's bounded-state
    * equivalent — SURVEY §2.8 watermark row). */
  def monitor(df: DataFrame, tsCol: String, keyCol: String, valueCol: String,
      intervalSec: Int, alertAvgAbove: Option[Double] = None): DataFrame = {
    val w = window(col(tsCol), s"$intervalSec seconds")
    val base = df.groupBy(w.as("interval"), col(keyCol))
      .agg(
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        sum(col(valueCol)).as("sum_value"),
        count(lit(1)).as("events_count"))
    val withAvg = base.withColumn("avg_value",
      col("sum_value") / col("events_count"))
    alertAvgAbove match {
      case Some(t) => withAvg.withColumn("alert", col("avg_value") > t)
      case None => withAvg
    }
  }

  /** Streaming exact dedup: keep only the FIRST row per dedup key across
    * the whole stream, with per-key state expired after `retentionMs` of
    * processing time — the streaming face of the batch hash-dedup
    * (ops.Dedup.exact) for continuous ingest.
    *
    * Spark's own `dropDuplicates` on a stream keeps state until the
    * watermark; this variant uses `flatMapGroupsWithState` so the
    * retention policy is explicit. retentionMs > 0 arms a
    * processing-time timeout that expires idle keys (a re-sent payload
    * after the window is admitted again — the at-least-once upstream
    * contract of the reference's ingest buffers); note an armed timeout
    * makes the micro-batch engine self-trigger to fire expirations, so
    * pair it with a ProcessingTime trigger, not the default ASAP
    * trigger. retentionMs <= 0 keeps state for the stream's lifetime.
    * State per key is one boolean: bounded by distinct keys, never by
    * row volume. */
  def streamingDedup(df: DataFrame, keyCol: String,
      retentionMs: Long = 0L): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val rowEnc = RowEncoder.encoderFor(df.schema)
    val keyIdx = df.schema.fieldIndex(keyCol)
    val timeoutConf =
      if (retentionMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    df.groupByKey(r => String.valueOf(r.get(keyIdx)))(Encoders.STRING)
      .flatMapGroupsWithState[Boolean, Row](OutputMode.Append, timeoutConf)(
        (_: String, rows: Iterator[Row], state: GroupState[Boolean]) => {
          if (retentionMs > 0 && state.hasTimedOut) {
            state.remove(); Iterator.empty
          }
          else if (state.exists) {
            // refresh the timeout on every sighting so retention means
            // IDLE time — a still-hot key must not expire and re-admit
            // its duplicates just because the first sighting is old
            if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
            Iterator.empty // key seen -> drop batch
          }
          else {
            state.update(true)
            if (retentionMs > 0) state.setTimeoutDuration(retentionMs)
            rows.take(1) // first occurrence within the batch wins too
          }
        })(Encoders.scalaBoolean, rowEnc)
  }

  /** Streaming NEAR-dup gate, one micro-batch at a time: the
    * `foreachBatch` body for continuous near-dup-free ingest. Each batch
    * is (1) tested against the STANDING shingle index at `indexDir`
    * with the prefix-filtered incremental join (ops.Dedup
    * .incrementalJaccard — a universal boilerplate shingle cannot blow
    * up the candidate set), (2) self-deduped (within-batch pairs via
    * jaccardPairs; the LOWER id of each near-dup pair survives), and
    * (3) folded into the index (refreshShingleIndex for an existing
    * index, a fresh build for the first batch). Returns the accepted
    * rows for the caller to append to the corpus sink.
    *
    * The dedup state lives in the PARQUET INDEX, not executor memory —
    * unlike keyed streaming state, it is bounded only by corpus size,
    * survives restarts with the checkpoint, and is the same artifact
    * batch jobs query (q96). Wire it as:
    * {{{
    * stream.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
    *   val kept = StreamOps.nearDupIngestBatch(b, idxDir, "text", "doc_id")
    *   kept.write.mode("append").parquet(corpusDir)
    * }
    * }}}
    *
    * CRASH STORY (the index is the most expensive artifact the gate
    * owns — it must survive any failure):
    *  - the index is committed through [[graft.ops.IndexStore]]: a new
    *    immutable version + atomic marker, never an in-place overwrite,
    *    so a crash mid-write leaves the previous version live.
    *  - the index commits BEFORE the caller appends `kept` to the
    *    corpus sink, and the whole batch is REPLAY-IDEMPOTENT, so a
    *    crash between the two just re-runs the batch: a doc never
    *    near-dups ITSELF (`corpus_id == new_id` is excluded — on replay
    *    the batch is already in the index), and the fold-in first drops
    *    index rows carrying the batch's own ids, so re-folding yields
    *    the identical index (shingles are a pure function of text).
    *    Replaying a fully-committed batch therefore returns the same
    *    `kept` rows and leaves the index byte-identical — foreachBatch
    *    at-least-once becomes exactly-once as long as `idCol` is stable
    *    across retries (derive it from content, not an invocation
    *    counter) and the corpus sink dedupes on batch id as usual. */
  def nearDupIngestBatch(batch: DataFrame, indexDir: String,
      textCol: String, idCol: String, shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    import graft.ops.{Dedup, IndexStore}
    val standing = IndexStore.read(batch.sparkSession, indexDir)
    // (1) drop batch docs that near-dup the standing corpus; a doc
    // already folded in by a crashed earlier attempt must not reject
    // its own replay, so self-matches are excluded
    val survivors = standing match {
      case None => batch
      case Some(idx) =>
        batch.join(
          Dedup.incrementalJaccard(batch, idx, textCol, idCol, shingleN,
              threshold)
            .filter(col("corpus_id") =!= col("new_id"))
            .select(col("new_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
    }
    // (2) resolve within-batch near-dups: lower id survives
    val kept = survivors.join(
        Dedup.jaccardPairs(survivors, textCol, idCol, shingleN, threshold)
          .select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      // materialize: consumed twice below (index fold + caller append)
      .localCheckpoint()
    // (3) fold the accepted docs into the standing index — idempotent:
    // rows with the batch's own ids (a replayed fold) are dropped and
    // re-derived identically from the batch text
    val newIdx = standing match {
      case None => Dedup.shingleIndex(kept, textCol, idCol, shingleN)
      case Some(idx) =>
        Dedup.refreshShingleIndex(
          idx.join(kept.select(col(idCol).as("id")), Seq("id"),
            "left_anti"),
          kept, textCol, idCol, shingleN)
    }
    // no localCheckpoint: the new version's write STREAMS from the old
    // version's files (distinct dirs — no self-overwrite hazard), so
    // the index never has to fit in executor storage
    IndexStore.write(newIdx, indexDir)
    kept
  }

  /** The PRODUCTION-GEOMETRY Hamming twin of [[nearDupIngestBatch]]:
    * a `foreachBatch` body gating continuous ingest on SimHash
    * Hamming-radius near-duplicates against the standing (id, sig)
    * index at `indexDir` ([[graft.ops.Dedup.incrementalHamming]] —
    * pigeonhole 16-bit bands over simhash64, the q171-measured
    * geometry). Orders of magnitude cheaper per doc than the shingle
    * gate (16 bytes of state per doc, one band join, no df
    * maintenance) at the price of catching only near-IDENTICAL token
    * multisets — run it as the cheap first gate in front of the
    * Jaccard gate, or alone when the corpus's duplication is
    * boilerplate-shaped. Same crash story as the shingle gate: the
    * index commits through [[graft.ops.IndexStore]], self-matches are
    * excluded, fold-in drops the batch's own ids first — replay is
    * byte-identical, exactly-once for content-stable ids. */
  def hammingIngestBatch(batch: DataFrame, indexDir: String,
      textCol: String, idCol: String, radius: Int = 3,
      bandBits: Int = 16): DataFrame = {
    import graft.ops.{Dedup, IndexStore}
    val standing = IndexStore.read(batch.sparkSession, indexDir)
    val survivors = standing match {
      case None => batch
      case Some(idx) =>
        batch.join(
          Dedup.incrementalHamming(batch, idx, textCol, idCol, radius,
              bandBits)
            .filter(col("corpus_id") =!= col("new_id"))
            .select(col("new_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
    }
    // within-batch: lower id survives
    val kept = survivors.join(
        Dedup.hammingPairs(survivors, textCol, idCol, radius, bandBits)
          .select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint() // consumed twice: fold + caller append
    val newIdx = standing match {
      case None => Dedup.simhashIndex(kept, textCol, idCol)
      case Some(idx) => Dedup.refreshSimhashIndex(idx, kept, textCol,
        idCol) // refresh itself drops the batch's own ids (replay)
    }
    IndexStore.write(newIdx, indexDir)
    kept
  }

  /** The VECTOR twin of [[nearDupIngestBatch]]: a `foreachBatch` body
    * gating continuous ingest on EMBEDDING near-duplicates against the
    * standing embedding index at `indexDir` (ops.Dedup
    * .incrementalEmbeddingDedup — OR-amplified LSH candidates, exact
    * cosine verify), then self-deduping the batch (lower id survives)
    * and folding survivors in (refreshEmbeddingIndex: batch rows hash
    * with the geometry the index RECORDS, so buckets keep aligning;
    * first batch derives geometry from `bits`/`tables`, 0 = from batch
    * size + recall target). Same crash story as the shingle gate: the
    * index commits through [[graft.ops.IndexStore]] (immutable
    * versions, atomic marker), self-matches are excluded and the
    * fold-in drops the batch's own ids first, so replay after a crash
    * returns the same kept rows and leaves the index byte-identical —
    * exactly-once for content-stable ids. */
  def embeddingIngestBatch(batch: DataFrame, indexDir: String,
      vecCol: String, idCol: String, threshold: Double = 0.35,
      bits: Int = 0, tables: Int = 0,
      targetRows: Long = 1024L): DataFrame = {
    import graft.ops.{Dedup, IndexStore}
    val standing = IndexStore.read(batch.sparkSession, indexDir)
    val survivors = standing match {
      case None => batch
      case Some(idx) =>
        batch.join(
          Dedup.incrementalEmbeddingDedup(batch, idx, vecCol, idCol,
              threshold = threshold)
            .filter(col("corpus_id") =!= col("new_id"))
            .select(col("new_id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
    }
    // within-batch near-dups on the INDEX geometry (or the first-batch
    // derivation), so gate and fold agree on bucket boundaries
    val (b, l) = standing match {
      case Some(idx) if idx.columns.contains("bits") =>
        val m = (if (idx.columns.contains("tables"))
            idx.select(col("bits"), col("tables"))
          else idx.select(col("bits"), lit(1).as("tables"))).take(1)
        m.headOption.map(r => (r.getInt(0), r.getInt(1)))
          .getOrElse((bits, tables))
      case _ => (bits, tables)
    }
    val kept = survivors.join(
        Dedup.embeddingNearDups(survivors, vecCol, idCol, b, threshold, l)
          .select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .localCheckpoint() // consumed twice: fold + caller append
    val newIdx = standing match {
      case None => Dedup.embeddingIndex(kept, vecCol, idCol, bits, tables)
      case Some(idx) =>
        Dedup.refreshEmbeddingIndex(
          idx.join(kept.select(col(idCol).as("id")), Seq("id"),
            "left_anti"),
          kept, vecCol, idCol)
    }
    // AUTO-geometry mode only: an index born at a small corpus must not
    // keep its tiny signature forever — per-bucket occupancy (hence the
    // quadratic verify cost) would grow with the corpus while recall
    // calibration assumed the derived width. When the re-derived width
    // outgrows the recorded one by > 1 bit (occupancy > ~2x target),
    // rebuild from the index's OWN rows (id + vector are right there —
    // the corpus is never re-read), with recall-calibrated tables for
    // the new width. Pinned geometry (bits/tables params) is never
    // second-guessed.
    val finalIdx =
      if (bits != 0 || tables != 0) newIdx
      else {
        val total = newIdx.count()
        val recorded = newIdx.select(col("bits")).take(1)
          .headOption.map(_.getInt(0)).getOrElse(0)
        val derived = Dedup.deriveBits(total, targetRows)
        if (recorded > 0 && derived > recorded + 1)
          Dedup.embeddingIndex(newIdx.select(col("id"), col("v")),
            "v", "id", derived, Dedup.deriveTables(derived))
        else newIdx
      }
    IndexStore.write(finalIdx, indexDir)
    kept
  }

  /** EXACT-dedup ingest gate with a Bloom fast path — the third gate in
    * the family ([[nearDupIngestBatch]] shingles / [[embeddingIngestBatch]]
    * vectors / this one content identity). The standing state is two
    * [[graft.ops.IndexStore]] artifacts under `stateDir`:
    * `hashes/` (id, h) — the exact content-hash index — and `bloom/`
    * (the [[graft.ops.Dedup.bloomIndex]] bitmap derived from it).
    *
    * Per batch: hash each doc (charPolyHash — the q27 content-identity
    * family), probe the Bloom ([[graft.ops.Dedup.bloomGate]], map-side,
    * zero shuffle); rows the Bloom rules out are DEFINITELY new and skip
    * the verify join entirely — at steady state that's almost the whole
    * batch, so the per-batch cost is a broadcast probe plus a join of
    * only the few maybe-dups against the hash index. Maybe-dups are
    * verified exactly (h equality, self-id excluded), the batch then
    * self-dedupes (lowest id per h survives), survivors append to the
    * hash index and OR into the Bloom ([[graft.ops.Dedup
    * .mergeBloomIndexes]] — exact set-union, so the Bloom stays the
    * PRECISE filter of the hash index it summarizes).
    *
    * Same crash story as the sibling gates: both artifacts commit
    * through IndexStore (hashes FIRST — a crash between the two writes
    * leaves the Bloom one batch stale, which only costs extra verify
    * joins, never correctness, and the next refresh repairs it); replay
    * drops the batch's own ids before folding, so a re-run returns the
    * same kept rows and leaves both artifacts equivalent. AUTO-geometry
    * Blooms rebuild from the hash index when the corpus outgrows the
    * recorded width by >1 doubling (the saturation discipline of
    * deriveBloomBits); pinned `mBits` is never second-guessed. */
  def exactDedupIngestBatch(batch: DataFrame, stateDir: String,
      textCol: String, idCol: String, shards: Int = 1,
      bitsPerKey: Int = 16, k: Int = 4, mBits: Int = 0): DataFrame = {
    import graft.functions.F
    import graft.ops.{Dedup, IndexStore}
    val spark = batch.sparkSession
    val hashesDir = s"$stateDir/hashes"
    val bloomDir = s"$stateDir/bloom"
    val hb = batch.withColumn("__h", F.charPolyHash(col(textCol)))
    // standing hash index, minus this batch's own ids (crash replay);
    // no localCheckpoint — the new version's write streams from the old
    // version's files (distinct dirs), so the index never has to fit in
    // executor storage
    val standing = IndexStore.read(spark, hashesDir).map(
      _.join(hb.select(col(idCol).as("id")), Seq("id"), "left_anti"))
    val survivors = standing match {
      case None => hb
      case Some(hashes) =>
        // Bloom probe first: misses skip the verify join entirely
        val bloom = IndexStore.read(spark, bloomDir)
          .getOrElse(Dedup.bloomIndex(hashes, "h", shards, bitsPerKey,
            k, mBits))
        val gated = Dedup.bloomGate(hb, bloom, "__h")
        val maybes = gated.filter(col("bloom_hit"))
        // no self-id clause needed: the batch's own ids were already
        // anti-joined out of `hashes` above (an unqualified id
        // inequality here also broke callers whose idCol is literally
        // named "id" — ambiguous reference on the verify join)
        val dupIds = maybes.join(hashes,
            maybes("__h") === hashes("h"), "left_semi")
          .select(col(idCol)).distinct()
        gated.drop("bloom_hit").join(dupIds, Seq(idCol), "left_anti")
    }
    // within-batch exact dups: lowest id per hash survives
    val kept = survivors
      .withColumn("__keep",
        col(idCol) === min(col(idCol))
          .over(org.apache.spark.sql.expressions.Window.partitionBy(
            col("__h"))))
      .filter(col("__keep")).drop("__keep")
      .localCheckpoint() // consumed thrice: fold, bloom, caller append
    val keptHashes = kept.select(col(idCol).as("id"), col("__h").as("h"))
    val newHashes = standing match {
      case None => keptHashes
      case Some(hashes) => hashes.unionByName(keptHashes)
    }
    IndexStore.write(newHashes, hashesDir)
    // Bloom refresh: OR the batch in at the standing geometry; rebuild
    // from the hash index on first batch, pinned-geometry change, or
    // auto-geometry outgrowth (> 1 doubling past the recorded width)
    val standingBloom = IndexStore.read(spark, bloomDir)
    val newBloom = standingBloom match {
      case Some(bl) =>
        val (m, kk, s) = Dedup.bloomMeta(bl)
        lazy val derived =
          Dedup.deriveBloomBits(IndexStore.read(spark, hashesDir).get
            .count(), bitsPerKey, s)
        if (mBits > 0 && (m != mBits || kk != k || s != shards))
          Dedup.bloomIndex(IndexStore.read(spark, hashesDir).get, "h",
            shards, bitsPerKey, k, mBits)
        else if (mBits == 0 && derived > 2 * m)
          Dedup.bloomIndex(IndexStore.read(spark, hashesDir).get, "h",
            s, bitsPerKey, kk)
        else
          Dedup.mergeBloomIndexes(bl,
            Dedup.bloomIndex(keptHashes, "h", s, bitsPerKey, kk, m))
      case None =>
        Dedup.bloomIndex(IndexStore.read(spark, hashesDir).get, "h",
          shards, bitsPerKey, k, mBits)
    }
    IndexStore.write(newBloom, bloomDir)
    kept.drop("__h")
  }

  /** `foreachBatch` body keeping a STANDING ROLLUP fresh as events
    * ingest ([[graft.ops.Rollup.refreshStore]] per micro-batch): the
    * batch is the only event data scanned, late rows fold into their
    * buckets with no watermark, and a registered rollup keeps serving
    * dashboards ([[graft.dialect.RollupServe]]) that now include the
    * batch. NOT replay-idempotent by itself — counts/sums would
    * double-fold a replayed batch (unlike the dedup gates, there are no
    * ids to exclude) — so pair it with checkpointed foreachBatch and
    * skip already-committed batch ids:
    * {{{ df.writeStream.foreachBatch { (b, id) =>
    *       if (id > lastFolded(dir)) {
    *         StreamOps.rollupIngestBatch(b, dir, "ts", "minute",
    *           Seq("event_type"), "value")
    *         recordFolded(dir, id)   // e.g. a marker file next to it
    *       } } }}} */
  def rollupIngestBatch(batch: DataFrame, rollupDir: String,
      tsCol: String, grain: String, dims: Seq[String],
      valueCol: String): DataFrame =
    graft.ops.Rollup.refreshStore(batch.sparkSession, rollupDir, batch,
      tsCol, grain, dims, valueCol)

  /** EXACTLY-ONCE variant of [[rollupIngestBatch]] keyed by the
    * foreachBatch `batchId`: the batch tag commits ATOMICALLY with the
    * fold (a `_GRAFT_TAG_batch_<id>` file inside the new version dir,
    * created before the version's commit marker — there is no state
    * where the fold committed but the tag didn't, so the
    * marker-after-commit double-fold window does not exist). A batch
    * whose tag is visible on a LIVE version is skipped, turning
    * at-least-once replay into a no-op. IndexStore retains the
    * previous committed version, so the lookback covers the current
    * and prior fold — exactly what checkpointed Structured Streaming
    * needs (batch ids strictly increase; only the last batch
    * retries). Returns true when the batch folded, false when its tag
    * showed it already had. */
  def rollupIngestBatchOnce(batch: DataFrame, batchId: Long,
      rollupDir: String, tsCol: String, grain: String,
      dims: Seq[String], valueCol: String): Boolean = {
    import graft.ops.{IndexStore, Rollup}
    val spark = batch.sparkSession
    val tag = s"batch_$batchId"
    if (IndexStore.hasTag(spark, rollupDir, tag)) false
    else {
      Rollup.refreshStore(spark, rollupDir, batch, tsCol, grain, dims,
        Seq(valueCol), Some(tag))
      true
    }
  }

  /** DSIR importance gate at ingest (`foreachBatch` body, keyed by the
    * checkpointed `batchId`): score the batch against the STANDING
    * target/raw histogram index (ops.Curation.dsirIndex) and return the
    * rows whose quantized weight clears `minWeightQ` (>= 0 means "at
    * least as target-like as the pool average"), with `weight_q`
    * appended; then fold the WHOLE batch into the raw histogram — the
    * pool distribution must see everything it was offered, or the
    * ratios drift — and `isTarget` rows into the target histogram.
    *
    * Exactly-once: histogram addition is NOT content-idempotent (a
    * replayed fold would double-count), so the fold commits with an
    * atomic batch tag exactly like [[rollupIngestBatchOnce]]. Replay
    * determinism: a retried batch whose tag already shows scores
    * against the RETAINED PREVIOUS version (IndexStore.readBefore) —
    * the same pre-fold state the crashed attempt saw — so the kept set
    * is identical and no second fold happens. Cold start (no index)
    * keeps everything: there is no distribution to judge against yet. */
  def dsirIngestBatchOnce(batch: DataFrame, batchId: Long,
      indexDir: String, textCol: String, idCol: String, isTarget: Column,
      numBuckets: Int = 512, minWeightQ: Long = 0L): DataFrame = {
    import graft.ops.{Curation, IndexStore}
    // the new version's write streams from the old version's files
    // (distinct dirs) — numBuckets rows, no self-overwrite hazard
    val (preFold, _) = IndexStore.foldOnce(batch.sparkSession, indexDir,
        s"batch_$batchId") {
      case None =>
        Curation.dsirIndex(batch.filter(isTarget), batch, textCol,
          numBuckets)
      case Some(idx) =>
        Curation.refreshDsirIndex(idx, batch.filter(isTarget), batch,
          textCol)
    }
    preFold match {
      case None => batch
      case Some(idx) =>
        Curation.dsirScores(idx, batch, textCol, idCol)
          .filter(col("weight_q") >= minWeightQ)
    }
  }

  /** Standing-PQ-index maintenance at ingest (`foreachBatch` body,
    * keyed by the checkpointed `batchId`): the FIRST batch trains the
    * codebooks ([[graft.ops.Similarity.pqIndex]] — so it must carry at
    * least `ksub` vectors; the recorded books are the index geometry
    * forever after), later batches encode against the RECORDED books
    * and fold ([[graft.ops.Similarity.refreshPqIndex]] — no codeword
    * ever moves, codes stay comparable across batches). Returns the
    * batch's coded rows (id, sub, code) — what a serving fleet ships.
    *
    * Replay is doubly safe: codes are pure per-row functions of
    * (vector, books) so a refold would produce identical rows, the
    * refresh anti-joins the batch's own ids so they would not even
    * duplicate — and the atomic batch tag (same discipline as
    * [[rollupIngestBatchOnce]]) makes the replayed fold a no-op read
    * against the RETAINED PREVIOUS version, so the returned codes are
    * byte-identical to the crashed attempt's. */
  def pqIngestBatchOnce(batch: DataFrame, batchId: Long,
      indexDir: String, vecCol: String, idCol: String, numSub: Int,
      ksub: Int, iters: Int = 1, scale: Int = 1000): DataFrame = {
    import graft.ops.{IndexStore, Similarity}
    def fold(preFold: Option[DataFrame]) = preFold match {
      case None =>
        Similarity.pqIndex(batch, vecCol, idCol, numSub, ksub, iters,
          scale)
      case Some(idx) =>
        Similarity.refreshPqIndex(idx, batch, vecCol, idCol, numSub,
          scale)
    }
    val (preFold, written) = IndexStore.foldOnce(batch.sparkSession,
      indexDir, s"batch_$batchId")(fold)
    written.getOrElse(fold(preFold)).filter(col("role") === "code")
      .join(batch.select(col(idCol).as("id")), Seq("id"), "left_semi")
      .select(col("id"), col("sub"), col("code"))
  }

  /** Standing POSTINGS-index maintenance at ingest (`foreachBatch`
    * body, keyed by the checkpointed `batchId`): tokenize the batch
    * map-side and fold its positional postings into the standing
    * full-text index ([[graft.ops.Retrieval.refreshPostingsIndex]] —
    * everything in the index is per-doc, so fold == rebuild exactly
    * and no global statistic ever moves). Returns the batch's len rows
    * (id, dl) — the ingest receipt.
    *
    * Replay safety is the [[pqIngestBatchOnce]] discipline: postings
    * are pure per-row functions of the text, the refresh REPLACES any
    * already-present batch ids (anti-join), and the atomic batch tag
    * makes a replayed fold a no-op read against the retained previous
    * version. */
  def postingsIngestBatchOnce(batch: DataFrame, batchId: Long,
      indexDir: String, textCol: String, idCol: String): DataFrame = {
    import graft.ops.{IndexStore, Retrieval}
    def fold(preFold: Option[DataFrame]) = preFold match {
      case None => Retrieval.postingsIndex(batch, textCol, idCol)
      case Some(idx) =>
        Retrieval.refreshPostingsIndex(idx, batch, textCol, idCol)
    }
    val (preFold, written) = IndexStore.foldOnce(batch.sparkSession,
      indexDir, s"batch_$batchId")(fold)
    written.getOrElse(fold(preFold)).filter(col("role") === "len")
      .join(batch.select(col(idCol).cast("long").as("id")), Seq("id"),
        "left_semi")
      .select(col("id"), col("dl"))
  }

  /** Standing COUNT-MIN maintenance at ingest (`foreachBatch` body):
    * sketch the batch's `valueCol` occurrences and fold into the
    * standing counters by cell-wise addition
    * ([[graft.ops.Sketches.cmsMerge]] — sketch of the union == merge
    * of the parts, so fold order never matters). The artifact is the
    * bounded depth*width counter table; corpus-scale term telemetry
    * with O(1) state. Returns the folded counters. Replay safety is
    * the batch-tag gate: a replayed fold is a no-op read against the
    * retained previous version (addition is NOT idempotent, so unlike
    * the postings fold the tag is the ONLY thing preventing
    * double-counting — the reason this helper exists). */
  def cmsIngestBatchOnce(batch: DataFrame, batchId: Long,
      sketchDir: String, valueCol: String, depth: Int,
      width: Int): DataFrame = {
    import graft.ops.{IndexStore, Sketches}
    val spark = batch.sparkSession
    IndexStore.foldOnce(spark, sketchDir, s"batch_$batchId") { preFold =>
      val fresh = Sketches.cmsCounters(batch, valueCol, depth, width)
      val newCounters = preFold match {
        case None => fresh
        case Some(prev) => Sketches.cmsMerge(prev, fresh)
      }
      newCounters.localCheckpoint()
    }
    IndexStore.read(spark, sketchDir).get
  }

  /** Standing HYPERLOGLOG maintenance at ingest: register-wise max
    * fold ([[graft.ops.Sketches.hllMerge]]). Max IS idempotent, so a
    * replayed fold could never corrupt the registers — the batch tag
    * still gates the version commit for a byte-identical replay
    * receipt (same discipline as every standing artifact). Returns the
    * folded registers. */
  def hllIngestBatchOnce(batch: DataFrame, batchId: Long,
      sketchDir: String, valueCol: String, m: Int): DataFrame = {
    import graft.ops.{IndexStore, Sketches}
    val spark = batch.sparkSession
    IndexStore.foldOnce(spark, sketchDir, s"batch_$batchId") { preFold =>
      val fresh = Sketches.hllRegisters(batch, valueCol, m)
      val newRegs = preFold match {
        case None => fresh
        case Some(prev) => Sketches.hllMerge(prev, fresh)
      }
      newRegs.localCheckpoint()
    }
    IndexStore.read(spark, sketchDir).get
  }

  /** Standing per-key KMV maintenance at ingest: sketch the batch's
    * `(keyCol, hashCol)` occurrences and fold by per-key bottom-k union
    * ([[graft.ops.Sketches.kmvMergeKeyed]]). Bottom-k is an idempotent
    * lattice join — a replayed fold could never corrupt the sketches —
    * and the batch tag still gates the version commit for a
    * byte-identical replay receipt (the [[hllIngestBatchOnce]]
    * discipline). Returns the folded `(key, sk)` artifact. */
  def kmvIngestBatchOnce(batch: DataFrame, batchId: Long,
      sketchDir: String, keyCol: String, hashCol: String,
      k: Int): DataFrame = {
    import graft.ops.{IndexStore, Sketches}
    val spark = batch.sparkSession
    IndexStore.foldOnce(spark, sketchDir, s"batch_$batchId") { preFold =>
      val fresh = Sketches.kmvKeyed(batch, keyCol, hashCol, k)
      val folded = preFold match {
        case None => fresh
        case Some(prev) => Sketches.kmvMergeKeyed(prev, fresh, k)
      }
      folded.localCheckpoint()
    }
    IndexStore.read(spark, sketchDir).get
  }

  /** Standing CUSUM monitor state (the q146 statistic as a STREAMING
    * fold): per key, the tail of the drift recursion — `(etype, k100,
    * last_m, s, runmin)` with S = Σ(100·x − k100) over all minutes seen
    * and runmin = min prefix of S. The recursion composes EXACTLY
    * across batches (S_total = S_prev + S_batch; runmin_total =
    * min(runmin_prev, S_prev + runmin_batch)), so folding ordered
    * batches reproduces the whole-series tail bit-for-bit —
    * [[cusumRebuild]] is the differential reference. The reference
    * rate k100 is FROZEN at init (the recorded-codebook discipline:
    * a drift monitor that re-estimates its baseline from drifted data
    * stops alarming). Current alarm level = S − min(0, runmin). */
  def cusumInit(minutes: DataFrame): DataFrame = {
    val k = minutes.groupBy("etype")
      .agg(expr("(sum(x) * 100) div count(1)").as("k100"))
    cusumRebuild(minutes, k)
  }

  /** Whole-series tail state for FROZEN `k (etype, k100)` — the
    * rebuild the fold must equal. */
  def cusumRebuild(minutes: DataFrame, k: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("etype").orderBy("m")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    minutes.join(k, "etype")
      .withColumn("s", sum(col("x") * 100 - col("k100")).over(w))
      .withColumn("rm", min(col("s")).over(w))
      .groupBy(col("etype"), col("k100"))
      .agg(max(struct(col("m"), col("s"), col("rm"))).as("t"))
      .select(col("etype"), col("k100"), col("t.m").as("last_m"),
        col("t.s").as("s"), col("t.rm").as("runmin"))
  }

  /** Fold a batch of STRICTLY-LATER minutes into the state: batch rows
    * at or before a key's `last_m` are rejected (a monitor fed
    * out-of-order history would silently corrupt the recursion — throw
    * instead). Keys absent from the batch pass through; keys new in
    * the batch initialize with their own batch-estimated k100. */
  def cusumFold(state: DataFrame, batch: DataFrame): DataFrame = {
    val late = batch.join(state.select(col("etype"),
        col("last_m").as("__lm")), Seq("etype"))
      .filter(col("m") <= col("__lm")).count()
    require(late == 0L,
      s"cusumFold: $late batch rows at or before a key's last_m — " +
        "the CUSUM recursion needs strictly-ordered batches")
    val known = batch.join(state.select(col("etype"), col("k100")),
      Seq("etype"), "left_semi")
    val fresh = batch.join(state.select(col("etype")), Seq("etype"),
      "left_anti")
    val foldedKnown = cusumRebuild(known,
        state.select(col("etype"), col("k100")))
      .select(col("etype"), col("last_m").as("bm"), col("s").as("bs"),
        col("runmin").as("brm"))
      .join(state, Seq("etype"), "right")
      .select(col("etype"), col("k100"),
        coalesce(col("bm"), col("last_m")).as("last_m"),
        (col("s") + coalesce(col("bs"), lit(0L))).as("s"),
        least(col("runmin"),
          col("s") + coalesce(col("brm"), lit(0L))).as("runmin"))
    if (fresh.isEmpty) foldedKnown
    else foldedKnown.unionByName(cusumInit(fresh))
  }

  /** Current alarm level per key: `(etype, k100, last_m, level)` with
    * level = S − min(0, runmin) in the x100 lattice. */
  def cusumLevel(state: DataFrame): DataFrame =
    state.select(col("etype"), col("k100"), col("last_m"),
      (col("s") - least(col("runmin"), lit(0L))).as("level"))

  /** Exactly-once CUSUM maintenance at ingest ([[cmsIngestBatchOnce]]
    * tag discipline — the fold is NOT idempotent, the batch tag is
    * what prevents double-folding a replayed batch). `batch` carries
    * `(etype, m, x)` per-minute counts strictly later than the stored
    * state. Returns the folded state. */
  def cusumIngestBatchOnce(batch: DataFrame, batchId: Long,
      stateDir: String): DataFrame = {
    import graft.ops.IndexStore
    val spark = batch.sparkSession
    IndexStore.foldOnce(spark, stateDir, s"batch_$batchId") { preFold =>
      val folded = preFold match {
        case None => cusumInit(batch)
        case Some(prev) => cusumFold(prev, batch)
      }
      folded.localCheckpoint()
    }
    IndexStore.read(spark, stateDir).get
  }

  /** Standing QUANTILE-HISTOGRAM maintenance at ingest: bucket the
    * batch's `valueCol` on the log lattice and fold by cell-wise
    * addition ([[graft.ops.Sketches.quantileHistogram]] — histogram of
    * the union == sum of the parts). Addition is NOT idempotent, so
    * the batch tag is the thing preventing double-counting (the
    * [[cmsIngestBatchOnce]] discipline). Returns the folded
    * `(key, b, c)` histogram; serve quantiles with
    * [[graft.ops.Sketches.quantileEst]]. */
  def quantileIngestBatchOnce(batch: DataFrame, batchId: Long,
      sketchDir: String, keyCol: String, valueCol: String): DataFrame = {
    import graft.ops.{IndexStore, Sketches}
    val spark = batch.sparkSession
    IndexStore.foldOnce(spark, sketchDir, s"batch_$batchId") { preFold =>
      val fresh = Sketches.quantileHistogram(batch, keyCol, valueCol)
      val folded = preFold match {
        case None => fresh
        case Some(prev) => prev.unionByName(fresh).groupBy("key", "b")
          .agg(org.apache.spark.sql.functions.sum("c").as("c"))
      }
      folded.localCheckpoint()
    }
    IndexStore.read(spark, sketchDir).get
  }
}
