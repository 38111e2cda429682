package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.dialect.Increments

/** Standing time rollup — incremental materialization of the decomposable
  * aggregates (`count / sum / min / max`, hence `avg`) at a fixed time
  * grain, so that `increments(unit, n, ts)` queries at ANY coarser unit
  * are answered from the rollup instead of rescanning event history.
  *
  * Reference behavior: EdgeLake re-aggregates raw rows on every
  * increments() query (dbms/unify_results.py:482-556 — the remote nodes
  * scan their partitions each time). At 100 TB of event history that
  * rescan IS the query cost; a minute-grain rollup is ~10^5 rows per dim
  * combination per year — five orders of magnitude less input for every
  * dashboard refresh, maintained by scanning ONLY each ingest delta.
  *
  * Exactness discipline (the q86/q94 lessons): each measure's sum is
  * kept as DECIMAL(28,2) — exact under ANY partial-aggregation order and
  * ANY regrouping, so serving from the rollup is bit-identical to a
  * direct full scan in every engine (float sums would drift on the
  * re-aggregate; see CoreQueries `dsum`). `avg` is derived as exact-sum
  * / exact-count at serve time, never maintained directly (averages
  * don't compose).
  *
  * MULTI-MEASURE: a rollup carries any number of measure columns, each
  * with `nv_<m>` (non-null count — count(m)/avg(m) stay exact under
  * NULLs), `sum_dec_<m>`, `min_<m>`, `max_<m>`; `n` is the shared row
  * count. The single-measure overloads keep the original API.
  *
  * Late data needs no watermark: a delta row at ANY timestamp merges into
  * its bucket (a streaming windowed agg would have dropped it). Each
  * refresh is ONE aggregate, the same merge that unions stored rollups:
  * every delta row enters as a one-row partial ([[rows]]), the
  * aggregate's map side combines them, and one shuffle on the bucket
  * key meets the state — the rollup side is tiny by construction, so
  * refresh cost is dominated by the one pass over the delta.
  *
  * The rollup records its own grain in a constant `grain` column (the
  * geometry discipline of [[Dedup.embeddingIndex]]): [[serve]] and
  * [[merge]] read it and fail loudly on a mixed-grain union or a query
  * unit finer than the grain — never a silently wrong answer.
  * Persist/refresh the standing artifact crash-atomically with
  * [[IndexStore]] via [[refreshStore]].
  */
object Rollup {

  /** The measure columns a rollup frame carries (from its schema). */
  def measuresOf(rollup: DataFrame): Seq[String] =
    rollup.columns.toSeq.collect {
      case c if c.startsWith("sum_dec_") => c.stripPrefix("sum_dec_")
    }

  /** Recover the full registration metadata from a stored rollup —
    * the artifact records everything (`grain`, `ts_col`, measures from
    * the `sum_dec_<m>` columns, dims = whatever is left), so a restarted
    * engine can re-register it from the files alone (`rollup attach`). */
  def metaOf(rollup: DataFrame): (String, String, Seq[String], Seq[String]) = {
    require(rollup.columns.contains("ts_col"),
      "rollup artifact predates ts_col recording — rebuild it")
    val grain = grainOf(rollup)
    val tsCol = rollup.select(col("ts_col")).take(1).headOption.getOrElse(
      throw new IllegalStateException("empty rollup state carries no " +
        "ts_col rows — rebuild with rollup create")).getString(0)
    val measures = measuresOf(rollup)
    val known = Set("grain_ts", "n", "grain", "ts_col") ++
      measures.flatMap(m => Seq(s"nv_$m", s"sum_dec_$m", s"min_$m", s"max_$m"))
    val dims = rollup.columns.toSeq.filterNot(known)
    (tsCol, grain, dims, measures)
  }

  /** Rollup schema: `grain_ts` (ts truncated to `grain`), `dims...`,
    * `n` row count, then per measure `nv_<m>`, `sum_dec_<m>`,
    * `min_<m>`, `max_<m>`, and the recorded `grain`: [[combine]] over
    * the per-row partials of `df`. */
  def build(df: DataFrame, tsCol: String, grain: String,
      dims: Seq[String], measures: Seq[String]): DataFrame =
    combine(rows(df, tsCol, grain, dims, measures), dims, grain, tsCol)

  /** The per-row partials of `df`: each event row as a one-row rollup
    * at `grain` — `n` 1, `nv_<m>` 0 or 1, and the value itself as its
    * own sum, min and max. */
  private def rows(df: DataFrame, tsCol: String, grain: String,
      dims: Seq[String], measures: Seq[String]): DataFrame = {
    Increments.unitSeconds(grain) // validates the unit name
    require(measures.nonEmpty, "rollup needs at least one measure")
    val parts = lit(1L).as("n") +: measures.flatMap { m =>
      Seq(when(col(m).isNull, 0L).otherwise(1L).as(s"nv_$m"),
        col(m).cast(DecimalType(18, 2)).cast(DecimalType(28, 2))
          .as(s"sum_dec_$m"),
        col(m).as(s"min_$m"),
        col(m).as(s"max_$m"))
    }
    df.select((date_trunc(grain, col(tsCol)).as("grain_ts") +:
      dims.map(col)) ++ parts :+ lit(grain).as("grain") :+
      lit(tsCol).as("ts_col"): _*)
  }

  def build(df: DataFrame, tsCol: String, grain: String,
      dims: Seq[String], valueCol: String): DataFrame =
    build(df, tsCol, grain, dims, Seq(valueCol))

  /** The recorded grain of a rollup; fails loudly on a mixed-grain
    * union (a rollup carries exactly one grain by construction) AND on
    * an EMPTY state: the identity rides on rows, so a rollup whose
    * buckets were all retired by a drop carries none — a silent
    * default here once rebuilt a day-grain artifact at SECOND grain on
    * the next fold (permanent corruption, found by the concurrency
    * soak + RollupScheduleFuzzSpec seed 6). Callers that know the
    * registered grain must use it for the empty case ([[refreshStore]]
    * does). */
  def grainOf(rollup: DataFrame): String = {
    val gs = rollup.select(col("grain")).distinct().take(2)
    require(gs.length <= 1, "mixed-grain rollup: " +
      gs.map(_.getString(0)).sorted.mkString(", "))
    gs.headOption.map(_.getString(0)).getOrElse(throw emptyState)
  }

  private def emptyState = new IllegalStateException("empty rollup " +
    "state carries no grain rows — supply the registered grain " +
    "(refreshStore does) or rebuild with rollup create")

  /** Merge two rollups of the same grain, dims, and measures: counts and
    * exact sums add, min/max fold — decomposability is the whole design.
    * The grain check runs ONCE on the union (a mixed-grain pair surfaces
    * as two distinct values there and fails just as loudly as checking
    * each side, at half the jobs); a measure-set mismatch fails in
    * unionByName. */
  def merge(a: DataFrame, b: DataFrame, dims: Seq[String]): DataFrame = {
    val u = a.unionByName(b)
    val ids = identityOf(u)
    require(ids.length == 1, mixedIdentity(ids))
    combine(u, dims, ids.head._1, ids.head._2)
  }

  /** Up to two distinct (grain, ts_col) pairs: ONE job for emptiness and
    * both columns (each probe recomputes an in-memory fold chain). */
  private def identityOf(df: DataFrame): Seq[(String, String)] =
    df.select(col("grain"), col("ts_col")).distinct().take(2).toSeq
      .map(r => (r.getString(0), r.getString(1)))

  private def mixedIdentity(ids: Seq[(String, String)]): String =
    "mixed-identity rollup union: " + ids.distinct.map { case (g, t) =>
      s"(grain=$g, ts_col=$t)" }.sorted.mkString(", ")

  /** Re-aggregate a union of same-identity rollups onto its buckets. */
  private def combine(u: DataFrame, dims: Seq[String], grain: String,
      tsCol: String): DataFrame = {
    val aggs = sum(col("n")).as("n") +: measuresOf(u).flatMap { m =>
      Seq(sum(col(s"nv_$m")).as(s"nv_$m"),
        sum(col(s"sum_dec_$m")).cast(DecimalType(28, 2)).as(s"sum_dec_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"))
    }
    u.groupBy(col("grain_ts") +: dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("grain", lit(grain))
      .withColumn("ts_col", lit(tsCol))
  }

  /** Fold a raw delta into a standing rollup — the delta is the ONLY
    * event data scanned. */
  def refresh(rollup: DataFrame, delta: DataFrame, tsCol: String,
      dims: Seq[String], measures: Seq[String]): DataFrame =
    foldAt(rollup, delta, tsCol, dims, measures).getOrElse(throw emptyState)

  /** Fold `delta` into `cur` at its recorded grain (None: `cur` has no
    * identity rows). ONE probe reads (grain, ts_col) and refuses what
    * [[grainOf]] and [[merge]] refuse: mixed grains, a foreign ts_col. */
  private def foldAt(cur: DataFrame, delta: DataFrame, tsCol: String,
      dims: Seq[String], measures: Seq[String]): Option[DataFrame] = {
    val ids = identityOf(cur)
    val gs = ids.map(_._1).distinct.sorted
    require(gs.length <= 1, "mixed-grain rollup: " + gs.mkString(", "))
    gs.headOption.map { g =>
      require(ids.forall(_._2 == tsCol), mixedIdentity(ids :+ (g -> tsCol)))
      combine(cur.unionByName(rows(delta, tsCol, g, dims, measures)),
        dims, g, tsCol)
    }
  }

  def refresh(rollup: DataFrame, delta: DataFrame, tsCol: String,
      dims: Seq[String], valueCol: String): DataFrame =
    refresh(rollup, delta, tsCol, dims, Seq(valueCol))

  /** Answer `increments(unit, n, grain_ts)` from the rollup. Output: the
    * increments key columns (`bucket_ts` parent-trunc timestamp and
    * `bucket_i` — single `bucket_i` for year), `dims...`, shared `n`,
    * then per measure `sum_<m>`, `min_<m>`, `max_<m>`, `avg_<m>` with
    * the exact CoreQueries `dsum` arithmetic (`avg_<m>` divides by the
    * ROW count `n` — the COUNT(*) denominator q100's oracle uses; the
    * dialect's per-non-null avg lives in RollupServe, which divides by
    * `nv_<m>`). Fails if the query unit is finer than the rollup grain
    * (those buckets are gone by design). */
  def serve(rollup: DataFrame, unit: String, n: Int,
      dims: Seq[String] = Seq.empty): DataFrame = {
    val g = grainOf(rollup)
    require(Increments.unitSeconds(unit) >= Increments.unitSeconds(g),
      s"increments unit $unit is finer than the rollup grain $g")
    val keyCols: Seq[Column] = Increments.keys(unit, n, col("grain_ts")) match {
      case Seq(single) => Seq(single.as("bucket_i"))
      case Seq(parent, idx) => Seq(parent.as("bucket_ts"), idx.as("bucket_i"))
    }
    val aggs = sum(col("n")).as("n") +: measuresOf(rollup).flatMap { m =>
      Seq(sum(col(s"sum_dec_$m")).cast(DoubleType).as(s"sum_$m"),
        min(col(s"min_$m")).as(s"min_$m"),
        max(col(s"max_$m")).as(s"max_$m"),
        (sum(col(s"sum_dec_$m")).cast(DoubleType) / sum(col("n")))
          .as(s"avg_$m"))
    }
    rollup
      .groupBy(keyCols ++ dims.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Crash-atomic standing-rollup refresh: read the live version from
    * `dir`, fold `delta` in (or [[build]] at `grain` when none exists),
    * commit the result, return the committed version. The 100 TB
    * ingest loop calls this per batch; event history is never re-read. */
  def refreshStore(spark: SparkSession, dir: String, delta: DataFrame,
      tsCol: String, grain: String, dims: Seq[String],
      measures: Seq[String], tag: Option[String] = None): DataFrame =
    refreshStore(spark, dir, delta, tsCol, grain, dims, measures,
      tag.toSeq)

  /** As above with any number of version tags (exactly-once batch tag
    * + the engine's lineage watermark riding one commit). */
  def refreshStore(spark: SparkSession, dir: String, delta: DataFrame,
      tsCol: String, grain: String, dims: Seq[String],
      measures: Seq[String], tags: Seq[String]): DataFrame =
    IndexStore.readVersion(spark, dir,
      foldStore(spark, dir, delta, tsCol, grain, dims, measures, tags))

  /** [[refreshStore]]'s fold and commit, returning the number of the
    * version it committed. It folds at the registered `(grain, tsCol)`
    * (an EMPTIED state keeps its schema but not its identity rows — see
    * [[grainOf]]) and checks the state's identity inside the commit's
    * own job: a stored row of another grain or ts_col fails the write,
    * which commits nothing (readers skip its uncommitted `v=` dir).
    * Only then does the probe run, to refuse a mixed identity as
    * [[refresh]] does, or to fold a state of one foreign grain at it. */
  def foldStore(spark: SparkSession, dir: String, delta: DataFrame,
      tsCol: String, grain: String, dims: Seq[String],
      measures: Seq[String], tags: Seq[String]): Long = {
    // one action reads each fold, so no checkpoint before the commit
    def commit(next: DataFrame) = IndexStore.write(next, dir, tags)
    IndexStore.read(spark, dir) match {
      case None => commit(build(delta, tsCol, grain, dims, measures))
      case Some(cur) =>
        val same = col("grain") <=> lit(grain) && col("ts_col") <=> lit(tsCol)
        val checked = cur.filter(when(same, lit(true)).otherwise(raise_error(
          lit(s"rollup state at $dir is not (grain=$grain, ts_col=$tsCol)"))))
        try commit(combine(checked.unionByName(
          rows(delta, tsCol, grain, dims, measures)), dims, grain, tsCol))
        catch { case e: Exception
            if identityOf(cur).exists(_ != (grain -> tsCol)) =>
          commit(foldAt(cur, delta, tsCol, dims, measures).getOrElse(throw e))
        }
    }
  }

  def refreshStore(spark: SparkSession, dir: String, delta: DataFrame,
      tsCol: String, grain: String, dims: Seq[String],
      valueCol: String): DataFrame =
    refreshStore(spark, dir, delta, tsCol, grain, dims, Seq(valueCol))

  /** RETENTION delete — drop every bucket strictly OLDER than `cutoff`
    * (the rollup twin of `drop partition` / age-based partition drop;
    * the base rows vanish by partition, the rollup must forget their
    * buckets too). EXACT with no base access and no inversion: the
    * deletion boundary is bucket-aligned, so whole groups retire and
    * the min/max IVM boundary (not self-maintainable under ROW
    * deletes) is never crossed. State-sized work. */
  def deleteBefore(rollup: DataFrame, cutoff: String): DataFrame =
    rollup.filter(col("grain_ts") >= to_timestamp(lit(cutoff)))

  /** ROW-level delete via TARGETED RE-AGGREGATION — the standard IVM
    * repair for the non-self-maintainable half (a deleted extremum
    * needs the runner-up, so SOME base access is unavoidable; the
    * design point is touching as little of it as possible): every
    * bucket holding a deleted row is recomputed from `base` — the
    * base table AFTER the rows were removed — and spliced into the
    * state; untouched buckets never move and base rows outside the
    * touched buckets are never read (the `grain_ts` semi-join
    * predicate is partition-prunable on a time-partitioned base, so
    * at 100 TB the rescan is a few partitions, not history).
    * fold-with-deletes == rebuild EXACTLY (q180's oracle): recompute
    * IS rebuild, restricted to where it's needed. `deletedRows` needs
    * only the ts column (bucket membership); count/sum/min/max all
    * repair together. Contract: a touched bucket is recomputed from
    * whatever `base` holds — so keep base and rollup retention
    * aligned ([[deleteBefore]] pairs with `drop partition`): deleting
    * rows from a time range the rollup already retired would
    * re-materialize those buckets from base. */
  def deleteRows(rollup: DataFrame, deletedRows: DataFrame,
      base: DataFrame, dims: Seq[String],
      measures: Seq[String]): DataFrame = {
    if (rollup.take(1).isEmpty) return rollup // nothing folded, nothing to retire
    val (tsCol, grain, _, _) = metaOf(rollup)
    val touched = deletedRows
      .select(date_trunc(grain, col(tsCol)).as("grain_ts")).distinct()
      .localCheckpoint() // consumed by both the splice and the rescan
    val untouched = rollup.join(touched, Seq("grain_ts"), "left_anti")
    val recomputed = build(
      base.join(
        touched.select(col("grain_ts").as("__tb")),
        date_trunc(grain, col(tsCol)) === col("__tb"), "left_semi"),
      tsCol, grain, dims, measures)
    untouched.unionByName(recomputed)
  }
}
