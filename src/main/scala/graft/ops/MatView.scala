package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** General standing MATERIALIZED VIEW for distributive GROUP BY
  * aggregates — the [[Rollup]] family (which serves `increments()`
  * time buckets specifically) generalized to arbitrary grouping keys
  * and agg lists. Classic incremental view maintenance, restricted to
  * the self-maintainable distributive algebra (count/sum/min/max —
  * Gray et al., "Data Cube", DMKD 1997 classifies these; avg is
  * served exactly as sum/count at read time, never stored):
  *
  *   - create: one grouped partial pass over the base table; the
  *     artifact holds one row per group (state size = |groups|, never
  *     |rows|), committed through the crash-atomic [[IndexStore]].
  *   - refresh: the BATCH folds into the state by key — count/sum
  *     add, min/max lattice-join — in one aggregate over the state and
  *     the batch's per-row partials ([[rows]]); create is that merge
  *     over per-row partials alone. Batch-sized work; the base table's
  *     history is never rescanned.
  *   - delete ([[foldDelete]]): count/sum SUBTRACT a tombstone
  *     batch's partials and zero-count groups retire, so fold-with-
  *     deletes == rebuild (q177); min/max are not self-maintainable
  *     under deletes — the standard IVM boundary — and fail loudly.
  *   - serve: read the #groups-row artifact; derived averages are
  *     exact sum/count divisions computed at read.
  *
  * The agg spec is RECORDED with the artifact (a `-spec` sidecar
  * IndexStore dir) and refresh verifies the recorded spec — folding a
  * batch with a different spec is a fail-loud error, not silent
  * corruption. fold == rebuild is exactly distributivity; q166 proves
  * it against a one-shot GROUP BY oracle. */
object MatView {
  /** The retired ingest-lineage watermark column older engines rode on
    * stored matview state rows (the highest folded `tsd_id`). A
    * matview's lineage is now the `wm_<tsd_id>` IndexStore version tag
    * every family artifact carries, committed in the same write as the
    * fold and kept across an emptied state; the column is no longer
    * written, and readers drop it so artifacts that still carry it
    * serve and fold unchanged. */
  val WatermarkCol = "_graft_mv_wm"

  /** One aggregate column: `fn` in count|sum|min|max over SQL `expr`,
    * output column `alias`. `count` with expr `"1"` (the default) is
    * the row count; any other expr is the NULL-SENSITIVE `count(expr)`
    * — recording it is what lets the serving layer answer `count(col)`
    * and the exact `avg(col)` = sum/count-non-null decomposition. */
  final case class AggSpec(fn: String, expr: String, alias: String) {
    require(Seq("count", "sum", "min", "max").contains(fn),
      s"unsupported agg fn $fn (distributive algebra only)")
  }

  private def rowCol(a: AggSpec): Column = a.fn match {
    case "count" if Set("1", "*")(a.expr.trim) => lit(1L).as(a.alias)
    case "count" => when(expr(a.expr).isNull, 0L).otherwise(1L).as(a.alias)
    case _ => expr(a.expr).as(a.alias)
  }

  private def foldCol(a: AggSpec): Column = a.fn match {
    case "count" | "sum" => sum(col(a.alias)).as(a.alias)
    case "min" => min(col(a.alias)).as(a.alias)
    case "max" => max(col(a.alias)).as(a.alias)
  }

  /** The per-row partials of `df`, one row per input row: its keys,
    * then per agg `count` 1 (`count(expr)` 0 or 1) and the value itself
    * as its own sum, min and max. [[fold]] merges them into the state
    * with the aggregate it merges grouped partials with, so a refresh
    * is one shuffle. */
  def rows(df: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    require(keys.nonEmpty && aggs.nonEmpty, "keys and aggs required")
    require(aggs.map(_.alias).distinct.size == aggs.size,
      "duplicate agg aliases")
    // plain column names only: the fold re-groups the STATE by these
    // names, so an expression key would not round-trip
    keys.foreach(k => require(k.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"matview keys must be plain columns (got '$k'); project the " +
        "expression into a column first"))
    df.select(keys.map(col) ++ aggs.map(rowCol): _*)
  }

  /** Grouped partials of `df` — the create pass: the fold's merge over
    * its per-row partials alone (distributivity is the whole point). */
  def partials(df: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = merge(rows(df, keys, aggs), keys, aggs)

  /** Fold batch partials, grouped ([[partials]]) or per-row ([[rows]]),
    * into the standing state by key. */
  def fold(state: DataFrame, batch: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame =
    merge(state.unionByName(batch), keys, aggs)

  private def merge(df: DataFrame, keys: Seq[String],
      aggs: Seq[AggSpec]): DataFrame = {
    val cols = aggs.map(foldCol)
    df.groupBy(keys.map(col): _*).agg(cols.head, cols.tail: _*)
  }

  /** Fold a DELETE batch out of the standing state — the tombstone
    * half of IVM. count/sum are groups under deletion (subtract the
    * batch's partials); min/max are NOT self-maintainable under
    * deletes (removing the extremum needs a base rescan to find the
    * runner-up — the standard IVM boundary, Gray et al. 1997 /
    * Gupta & Mumick's taxonomy), so a spec recording min or max FAILS
    * LOUDLY here rather than silently serving a stale extremum:
    * rebuild with `matview create`, or keep min/max out of specs that
    * must absorb deletes. A `count` agg is REQUIRED in the spec — it
    * is what lets a fully-deleted group retire from the state (rows
    * whose count reaches 0 drop, so delete == rebuild even when whole
    * groups vanish). The caller must feed deletes that are a subset
    * of previously-folded rows (the classic IVM contract); the Engine
    * command verifies no group goes negative before committing. */
  def foldDelete(state: DataFrame, deletes: DataFrame,
      keys: Seq[String], aggs: Seq[AggSpec]): DataFrame = {
    val extrema = aggs.filter(a => a.fn == "min" || a.fn == "max")
    if (extrema.nonEmpty) throw new IllegalStateException(
      s"matview delete: recorded agg(s) ${extrema.map(a =>
        s"${a.fn}(${a.expr}) AS ${a.alias}").mkString(", ")} are not " +
        "self-maintainable under deletes (a deleted extremum needs a " +
        "base-table rescan to find the runner-up — the standard IVM " +
        "boundary). Rebuild the view with `matview create`, or record " +
        "only count/sum aggregates in views that must absorb deletes.")
    val cnt = aggs.find(_.fn == "count").getOrElse(
      throw new IllegalStateException(
        "matview delete requires a count aggregate in the recorded " +
          "spec: without a per-group row count a fully-deleted group " +
          "can never retire from the state"))
    val batch = partials(deletes, keys, aggs)
    val negated = batch.select(
      (keys.map(col) ++ aggs.map(a => (-col(a.alias)).as(a.alias))): _*)
    // zero-count groups retire; a NEGATIVE count (delete batch not a
    // subset of folded rows) is kept visible so the caller can detect
    // it and abort before committing — the Engine command does exactly
    // that and leaves the original state intact
    fold(state, negated, keys, aggs).filter(col(cnt.alias) =!= 0)
  }

  /** Spec JSON: {"keys": ["a", "b"], "aggs": [{"fn": "sum",
    * "expr": "x", "alias": "sx"}, ...]} */
  def specFromJson(json: String): (Seq[String], Seq[AggSpec]) = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val p = JsonMethods.parse(json)
    val keys = (p \ "keys").extract[List[String]]
    val aggs = (p \ "aggs").extract[List[JValue]].map { j =>
      AggSpec((j \ "fn").extract[String],
        (j \ "expr").extractOpt[String].getOrElse("1"),
        (j \ "alias").extract[String])
    }
    (keys, aggs)
  }

  def specToJson(keys: Seq[String], aggs: Seq[AggSpec]): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    s"""{"keys": [${keys.map(q).mkString(", ")}], "aggs": [""" +
      aggs.map(a => s"""{"fn": ${q(a.fn)}, "expr": ${q(a.expr)}, """ +
        s""""alias": ${q(a.alias)}}""").mkString(", ") + "]}"
  }
}
