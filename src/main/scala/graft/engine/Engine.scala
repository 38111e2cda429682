package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.dialect.EdgeSql
import graft.ingest.SchemaInference

/** The command facade — the engine-side surface of the reference's
  * `member_cmd` dispatch (/root/reference/edge_lake/cmd/member_cmd.py):
  * a user of the reference drives everything through command strings;
  * this maps each one onto the Spark-native machinery.
  *
  * Supported command families (full per-command contracts on the
  * handlers below / COVERAGE.md):
  *   sql <dbms> [options] "SELECT ..."      -> dialect query; options:
  *     format=json|json:list|table, stat=true, timezone=<tz>,
  *     extend=(...), include=(...), committed=true, nodes=main|all,
  *     approx=true,
  *     max_time/max_volume; FROM supports `a [inner|left] join b on
  *     a.x = b.y [and ...]`; transparent serving from registered
  *     rollups / matviews / join matviews; `explain sql ...` reports
  *     which plan would answer
  *   create view <name> on <table> (src as dst, ...)
  *   partition <table> using <tsCol> by <n> <unit> into <path>
  *   drop partition <table|path> before <bucket> | older than <n> <u>
  *     [and force = true]   (retention-symmetric: folds tombstones
  *     into every registered standing artifact first)
  *   suggest create <table> from <json-array>  (schema inference -> DDL)
  *   standing artifacts — each with create/attach/refresh/sync/
  *     delete (as the boundary map allows)/drop/get:
  *     matview, join matview, rollup, vindex, tindex, sindex,
  *     dedup index (shingle|simhash|embedding|exact), monitor, layout,
  *     graph tricount. The five whose lineage rides a `wm_` version
  *     tag (rollup, vindex, tindex, sindex, dedup index) are each
  *     declared once, in the family table [[families]]: the one place
  *     to add such a family. Plus `sync all where table =`,
  *     `artifact verify where table =`, `attach all`,
  *     `index versions|retain|get` (AS-OF audit),
  *     `get view auto refresh` / `set view auto refresh = on|off`
  *   pipeline clean / quality check / profile table / hybrid search /
  *     compact / merge into / merge scd2 into / layout zorder|scan
  *   ingest & ops: REST PUT (hash-idempotent, journaled ledger),
  *     run msg client / exit msg client, policy add/get, blockchain
  *     insert/get, get tsd list|diff, get partitions / rows count /
  *     columns / streaming / queries time / event|error|query log,
  *     set <var> = <value> / get dictionary, get tables / get views
  *
  * ==Thread-safety contract==
  * The engine serves concurrent callers (the reference schedules up to
  * 500 parallel jobs, job/job_scheduler.py:14). Every command runs
  * under the lock named by the required `lock` field of its entry in
  * [[commands]] — the one place a command's class is decided:
  *  - '''Queries never block''': [[Engine.Read]] commands (`sql`,
  *    `explain`, `get`, search/serve commands, `artifact verify`) take
  *    no engine lock, only the retention gate's read side, and may run
  *    fully in parallel (Spark schedules their jobs FAIR across
  *    threads). The lazy `query()` surface takes nothing.
  *  - '''Writers serialize per table''': two writers must never
  *    overlap on one directory or one artifact — the parquet append
  *    commit protocol is not safe for two concurrent jobs on one
  *    directory, and a standing artifact's read-fold-commit cycle must
  *    not interleave (two folds reading version N would both commit
  *    N+1; one fold silently lost). Two locks keep that:
  *     - the [[writeGate]], a read-write lock over the whole engine.
  *       [[Engine.Write]] commands hold its exclusive side, so DDL,
  *       sync, retention and HA still run one at a time and alone.
  *       Every command that commits an artifact version or rewrites a
  *       directory is therefore a Write entry. A few Write entries are
  *       broader than they need to be (`layout scan` only reads;
  *       `set query log` and `reset ... log` touch
  *       monitor-synchronized state) and stay so until a follow-up
  *       narrows them;
  *     - per-table locks ([[tableLocked]]). REST PUT's
  *       reserve-append-fold section and the streaming view-fold sinks
  *       hold the gate's shared side plus the locks of the table and
  *       of the other side of every join matview over it, so writes
  *       into different tables (and their folds) run at the same time,
  *       while two writes into one table, or into the two sides of one
  *       join matview, still take turns.
  *    Readers are never blocked by either.
  *    Both locks are PER-PROCESS: with several engine processes
  *    over one root, `sharedLedger = true` extends only the LEDGER's
  *    guarantees (duplicate-PUT refusal, tsd_id uniqueness) across
  *    processes via an OS file lock; concurrent cross-process appends
  *    into the SAME table directory additionally rely on distinct
  *    part-file names (UUID-named by Spark) and are safe for append,
  *    while artifact folds remain single-node-owned — run each
  *    standing artifact's folds from one process (the reference's
  *    operator/aggregator split has the same ownership shape).
  *  - [[Engine.Unguarded]] commands hold no lock: they join worker
  *    threads whose work may need the write gate (the lock-order
  *    reasons sit beside their entries).
  *  - '''Lock order''': write gate, then table locks in name order,
  *    then the retention gate. A Write command may ingest (it takes
  *    the shared side and the table locks reentrantly); nothing
  *    holding the shared side ever runs a Write command.
  *  - '''Read visibility''': a query racing an append may observe a
  *    partially committed batch (parquet part-files become visible
  *    per-file). `committed=true` / `nodes=main` bound reads to the
  *    replicated safe id and are stable under concurrent ingest; the
  *    tsd ledger and every registry map are volatile/synchronized, so
  *    a completed PUT is visible to all subsequent queries.
  *  - '''Retention never breaks a command read''': the physical
  *    file-removal moments (`drop partition`'s directory delete, the
  *    compact/merge directory swap) drain in-flight Read
  *    `execute()` calls through a fair read-write gate
  *    ([[retentionGate]]) before touching the filesystem, so a
  *    command-surface query can never fail with file-not-found from
  *    retention — an upgrade over the reference, whose partition drop
  *    is a physical delete clients must retry around. The lazy
  *    `query()` DataFrame surface executes OUTSIDE the engine and
  *    keeps that retry contract: a plan resolved before a drop holds
  *    the dropped file names, and a collect after it may fail with
  *    file-not-found and should be retried.
  */
final class Engine(val spark: SparkSession, val catalog: Catalog,
    /** Reply-volume cap applied when the sql command carries no
      * `max_volume=` option — the reference's query_mode default
      * (cmd/member_cmd.py:97-100, 10 MB). */
    val defaultMaxVolume: Long = 10L * 1024 * 1024,
    /** Cross-node ingest ledger: when several engine processes share
      * one catalog root on a shared filesystem, `sharedLedger = true`
      * runs every tsd-ledger operation under an OS file lock with
      * incremental journal replay, so duplicate-PUT refusal and tsd_id
      * uniqueness hold FLEET-wide (the reference gets this from
      * tsd_info being one DBMS table, dbms/db_info.py:1738; see
      * [[graft.ingest.TsdLedger]] for the locking contract and the
      * object-store caveat). Requires a root-backed catalog; rootless
      * engines ignore it. */
    val sharedLedger: Boolean = false) {
  import Engine.{Command, Lock, Read, Unguarded, Write}

  /** Transport for `dest=kafka@host:port` output
    * (api/al_kafka.py get_producer/send_data; dest registry
    * cmd/member_cmd.py:142-148): (bootstrapServers, topic, payload).
    * Default: the NATIVE wire-protocol producer
    * ([[graft.streaming.KafkaNativeClient]] — Produce v0, acks=1,
    * one short-lived connection per reply, which is the dest
    * cadence). Still injectable for deployments that want a full
    * client library. */
  var kafkaTransport: (String, String, String) => Unit = {
    (servers, topic, payload) =>
      val (h, p) = servers.split(",")(0).split(":") match {
        case Array(host, port) => (host, port.toInt)
        case _ => throw new IllegalArgumentException(
          s"kafka servers must be host:port, got $servers")
      }
      val c = new graft.streaming.KafkaNativeClient(h, p)
      try c.produceStrings(topic, Seq(payload)) finally c.close()
  }

  /** Data root for tables auto-created by PUT ingest (the reference
    * creates operator tables from the first arriving data,
    * dbms/create_table.py:156 create_new_table). Unset -> unknown-table
    * PUTs are rejected. */
  var dataDir: Option[String] = None

  /** Node dictionary (the reference's params dict — `!var` values that
    * extend=() can stamp into results) and the node's own address
    * (@ip/@port extends). */
  @volatile private var dict = Map.empty[String, String]
  var nodeAddress: (String, Int) = ("127.0.0.1", 0)
  def setVar(name: String, value: String): Unit = dict += name -> value

  /** Ingest ledger (almgm.tsd_info) — every PUT batch is recorded here,
    * duplicate payload hashes are refused, and `get tsd list` renders
    * it. With a root-backed catalog the ledger journals beside the
    * catalog files, so PUT idempotence and id continuity SURVIVE a
    * restart (the reference's tsd_info is a DBMS table for exactly
    * this reason, dbms/db_info.py:1738); a rootless engine keeps the
    * in-memory ledger plus the per-table restart seed in [[ingest]]. */
  val tsdLedger = new graft.ingest.TsdLedger(
    catalog.metaRoot.map(_.resolve("tsd_ledger.ndjson")),
    shared = sharedLedger && catalog.metaRoot.isDefined)

  /** Tables whose stored tsd lineage has seeded the ledger this
    * engine lifetime (see the restart seed in [[ingest]]). */
  private val ledgerSeeded =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Query execution-time histogram (the reference's QueryMonitor,
    * job/job_instance.py:34-104: 10 one-second buckets + overflow,
    * reset()able, rendered by `get queries time`). */
  private val queryBuckets = new Array[Long](11)
  private var queryMonitorStart = System.currentTimeMillis
  /** `set query log` threshold (job_instance.query_log_time): -1 = off,
    * 0 = log all, n = log queries slower than n seconds. */
  private var queryLogTime: Int = -1
  private val queryLog =
    new scala.collection.mutable.ArrayBuffer[(Long, Double, String)]

  /** Slow-query log retention: a bounded ring (newest kept) so a
    * long-lived engine with `set query log on` cannot grow heap without
    * bound on full command strings. */
  private val queryLogCap = 1000

  private def recordQueryTime(command: String, secs: Double): Unit =
    synchronized {
      val idx = math.min(secs.toInt, 10)
      queryBuckets(idx) += 1
      if (queryLogTime >= 0 && secs >= queryLogTime) {
        queryLog += ((System.currentTimeMillis, secs, command))
        if (queryLog.length > queryLogCap)
          queryLog.remove(0, queryLog.length - queryLogCap)
      }
    }

  private def queriesTimeReport(json: Boolean): String = synchronized {
    val total = queryBuckets.sum
    val interval = (System.currentTimeMillis - queryMonitorStart) / 1000
    val hms =
      f"${interval / 3600}%d:${interval % 3600 / 60}%02d:${interval % 60}%02d"
    if (json) {
      val buckets = (0 until 10).map(i =>
        f""""Up to ${i + 1}%2d sec.":"${queryBuckets(i)}"""") :+
        f""""Over  10 sec.":"${queryBuckets(10)}""""
      s"""{"Queries Statistics":{${buckets.mkString(",")},""" +
        s""""Total queries":"$total",""" +
        s""""Time interval":"$interval (sec.) : $hms (H:M:S)"}}"""
    } else {
      val buckets = (0 until 10).map(i =>
        f"Up to ${i + 1}%2d sec.: ${queryBuckets(i)}") :+
        f"Over  10 sec.: ${queryBuckets(10)}"
      (buckets :+ s"Total queries: $total" :+
        s"Time interval: $interval (sec.) : $hms (H:M:S)").mkString("\n")
    }
  }

  /** Per-table high-watermark of fully-replicated rows (the reference's
    * HA "committed" boundary, dbms/ha.py:225 safe ids). */
  @volatile private var safeTsdIds = Map.empty[String, Int]
  def setSafeTsdId(table: String, id: Int): Unit = exclusive {
    safeTsdIds += table -> id
  }

  @volatile private var matviews = Map.empty[String, graft.dialect.MatViewServe.Meta]

  /** Registered standing JOIN matviews by artifact path (`join matview
    * create` / `join matview attach`) — looked up by side-table name
    * when an ingest batch lands, for the auto-fold. */
  @volatile private var joinMatviews = Map.empty[String, graft.ops.JoinMatView.Spec]

  /** When true (default), an ingest batch landing in a table
    * auto-folds into every registered standing aggregate artifact over
    * that table — matviews, rollups, and join matviews — in the same
    * call, so transparently-SERVED state never silently goes stale
    * behind the table it claims to summarize. `set view auto refresh =
    * off` restores manual-refresh operation; a fold failure (or a
    * crash between the table append and the fold) is recorded in
    * [[autoFoldErrors]] and reconciled exactly by `matview sync`
    * (watermark-driven) or a manual refresh of the missed batch. */
  @volatile private var autoRefreshViews = true
  /** Appended by folds on any table at once: guarded by its own
    * monitor ([[foldError]]; reports read a snapshot). */
  private val autoFoldErrors =
    scala.collection.mutable.ArrayBuffer.empty[String]
  private def foldError(msg: String): Unit =
    autoFoldErrors.synchronized { autoFoldErrors += msg }

  /** Registered standing vector indexes by table (`vindex create`):
    * PQ (codes + recorded books) or IVF (assignment rows + recorded
    * centroids), both IndexStore artifacts. `numSub` is PQ geometry
    * (0 for IVF). */
  private case class VIndexMeta(path: String, kind: String,
      idCol: String, vecCol: String, numSub: Int)

  /** Registered standing full-text postings indexes by table
    * (`tindex create`): BM25 top-k + positional phrase serving over a
    * [[graft.ops.Retrieval]] artifact — the text twin of `vindex`. */
  private case class TIndexMeta(path: String, idCol: String,
      textCol: String, grams: Boolean)

  /** Registered standing KMV sketch indexes by table (`sindex create`):
    * per-key bottom-k sketches of the text column's shingle space —
    * cardinality and cross-key overlap served from the #keys-row
    * artifact alone ([[graft.ops.Sketches]] KMV algebra). */
  private case class SIndexMeta(path: String, keyCol: String,
      textCol: String, k: Int)

  /** Registered standing DEDUP indexes by table (`dedup index
    * create/attach`): the near-dup ingest gate's artifact — shingle
    * (enriched (id, h, df, pos, n) rows, the prefix-filter geometry)
    * simhash (per-doc 64-bit sigs), or embedding (LSH-bucketed
    * vectors, geometry recorded on the rows) — promoted from
    * pipeline-owned paths to REGISTERED artifacts so the ingest
    * auto-fold, `dedup index sync`, and `drop partition` retention
    * folds reach them. `contentCol` is the text column (shingle /
    * simhash) or the vector column (embedding). */
  private case class DIndexMeta(path: String, kind: String,
      idCol: String, contentCol: String, shingleN: Int)

  /** A standing-index family whose lineage rides a `wm_` version tag
    * (the [[graft.ops.IndexStore]] tag protocol). Each is declared once,
    * in [[families]]; the PUT auto-fold, `<family> sync|refresh|drop`,
    * `get <family>s`, `sync all`, `artifact verify`, `drop partition`'s
    * retention fold and `get view auto refresh` loop over that table.
    * Registrations are Write commands; the registry is volatile, so a
    * completed one is visible to every later reader. */
  private final class Family[M](
      /** The command word, also the family's name in replies and errors. */
      val word: String,
      pathOf: M => String,
      /** Stores a fold commits after the main one, with the same tag. */
      sidecarsOf: M => Seq[String] = (_: M) => Nil,
      /** Fold a delta (meta, delta, batch tag, the delta's watermark when
        * known) and return the main store's committed version. */
      foldOf: (M, DataFrame, Option[String], Option[Long]) => Long,
      /** `<family> refresh`'s reply detail, from the committed version. */
      refreshedOf: (M, Long) => String = (_: M, v: Long) => s"version $v",
      /** The `artifact verify` rebuild from the current base, or why the
        * family refuses one. */
      rebuildOf: M => Either[String, DataFrame => DataFrame],
      /** The reconcile `artifact verify` names for a diverged artifact. */
      verifyFix: Option[String] = None,
      /** `drop partition`'s fold of the dropped rows ((dropped rows,
        * survivors, drop tag) -> receipt), or why the family refuses. */
      retainOf: M => Either[String, (DataFrame, DataFrame, String) => String],
      /** One `get <family>s` line. */
      lineOf: (String, M) => String) {
    @volatile private var reg = Map.empty[String, M]
    val plural = if (word.endsWith("x")) s"${word}es" else s"${word}s"

    def register(table: String, m: M): Unit = reg += table -> m
    def metas: Iterable[M] = reg.values
    def get(table: String): Option[Artifact] = reg.get(table).map(new Artifact(_))
    def apply(table: String): Artifact = get(table).getOrElse(
      throw new IllegalArgumentException(s"no $word registered for $table"))
    def targets: Seq[String] =
      reg.toSeq.map { case (tb, m) => s"$tb: $word ${pathOf(m)}" }
    def listing: String = Engine.this.listing(plural, reg)(lineOf)
    def unregister(t: String): String =
      Engine.this.unregister(word, t, reg)(reg -= _)

    /** The family's artifact over one table. */
    final class Artifact(val meta: M) {
      def word: String = Family.this.word
      val path: String = pathOf(meta)
      /** The main store and its sidecars: each is checked against its
        * own tag, so a replay redoes only the stores a crash left
        * without it. */
      val stores: Seq[String] = path +: sidecarsOf(meta)
      def state: DataFrame = stateAt(path, s"$word artifact")
      def fold(delta: DataFrame, tag: Option[String],
          deltaWm: Option[Long] = None): Long =
        foldOf(meta, delta, tag, deltaWm)
      def refreshed(v: Long): String = refreshedOf(meta, v)
      def rebuild: Either[String, DataFrame => DataFrame] = rebuildOf(meta)
      def fix: String = verifyFix.getOrElse(
        s"run `$word sync` or rebuild with `$word create`")
      def retain: Either[String, (DataFrame, DataFrame, String) => String] =
        retainOf(meta)
    }
  }

  /** Registered standing rollups by table name (`rollup create`). */
  private val rollups = new Family[graft.dialect.RollupServe.Meta](
    "rollup", _.path,
    foldOf = foldRollup,
    refreshedOf = (m, v) =>
      s"${graft.ops.IndexStore.readVersion(spark, m.path, v).count()} " +
        s"${m.grain} buckets",
    rebuildOf = m => Right(graft.ops.Rollup.build(_, m.tsCol, m.grain,
      m.dims, m.valueCols)),
    verifyFix = Some("rebuild with `rollup create`"),
    retainOf = m => Right(retainRollup(m, _, _, _)),
    lineOf = (tbl, m) => s"$tbl: grain=${m.grain} time=${m.tsCol} " +
      s"value=${m.valueCols.mkString(",")} " +
      s"dims=${m.dims.mkString(",")} path=${m.path}")

  private val vindexes = new Family[VIndexMeta]("vindex", _.path,
    foldOf = foldVindex,
    rebuildOf = m => Left(s"${m.kind} geometry is create-time-frozen; a " +
      "rebuild would retrain it — recall probes are this family's audit"),
    retainOf = m => Right { (dropped, _, tag) =>
      rewrite(m.path, "vindex artifact", Some(tag))(
        graft.ops.Similarity.deleteFromIndex(_,
          dropped.select(col(m.idCol))))
      "dropped ids tombstoned"
    },
    lineOf = (tbl, m) =>
      s"$tbl: type=${m.kind} id=${m.idCol} vector=${m.vecCol}" +
        (if (m.kind == "pq") s" numsub=${m.numSub}" else "") +
        s" path=${m.path}")

  private val tindexes = new Family[TIndexMeta]("tindex", _.path,
    sidecarsOf = m => if (m.grams) Seq(s"${m.path}-grams") else Nil,
    foldOf = foldTindex,
    rebuildOf = m =>
      Right(graft.ops.Retrieval.postingsIndex(_, m.textCol, m.idCol)),
    retainOf = m => Right { (dropped, _, tag) =>
      tombstoneTindex(m, dropped.select(col(m.idCol)).localCheckpoint(),
        Some(tag))
      "dropped ids tombstoned" + (if (m.grams) " (+trigram sidecar)" else "")
    },
    lineOf = (tbl, m) =>
      s"$tbl: id=${m.idCol} text=${m.textCol} path=${m.path}" +
        (if (m.grams) " grams=true" else ""))

  private val sindexes = new Family[SIndexMeta]("sindex", _.path,
    foldOf = foldSindex,
    rebuildOf = m => Right(sindexBuild(_, m.keyCol, m.textCol, m.k)),
    retainOf = _ => Left("is a one-way KMV sketch (deletes refused by " +
      "construction — rebuild with sindex create)"),
    lineOf = (tbl, m) =>
      s"$tbl: key=${m.keyCol} text=${m.textCol} k=${m.k} path=${m.path}")

  private val dindexes = new Family[DIndexMeta]("dedup index", _.path,
    sidecarsOf = m => if (m.kind == "exact") Seq(s"${m.path}-bloom") else Nil,
    foldOf = foldDindex,
    rebuildOf = m => Right(dedupBuild(m.kind, _, m.contentCol, m.idCol,
      m.shingleN, {
        // an embedding index rebuilds with its RECORDED geometry — sigs
        // are deterministic given (bits, tables)
        val h = stateAt(m.path, "artifact")
          .select(col("bits"), col("tables")).head()
        (h.getInt(0), h.getInt(1))
      })),
    retainOf = m => Right { (dropped, _, tag) =>
      tombstoneDindex(m.path, m.kind,
        dropped.select(col(m.idCol)).localCheckpoint(), Some(tag))
      "dropped ids tombstoned"
    },
    lineOf = { (tbl, m) =>
      val colKey = if (m.kind == "embedding") "vector" else "text"
      s"$tbl: type=${m.kind} id=${m.idCol} $colKey=${m.contentCol}" +
        (if (m.kind == "shingle") s" n=${m.shingleN}" else "") +
        s" path=${m.path}"
    })

  /** The `wm_`-tagged standing-index families, in fold order: the one
    * place such a family is declared. */
  private val families: Seq[Family[_]] =
    Seq(rollups, vindexes, tindexes, sindexes, dindexes)

  /** Registered Z-order layouts by table (`layout zorder`): a
    * Morton-clustered directory-partitioned copy whose quads a 2-D box
    * predicate prunes with PARTITION filters ([[graft.ops.Layout]]). */
  private case class LayoutMeta(path: String, xCol: String, yCol: String,
      bits: Int, buckets: Int)
  @volatile private var layouts = Map.empty[String, LayoutMeta]

  /** Registered CUSUM drift monitors (`monitor create`): standing
    * per-key tail state through IndexStore, folded by `monitor
    * refresh`, served by `monitor level`
    * ([[graft.streaming.StreamOps]] cusum family). */
  private case class MonitorMeta(path: String, keyCol: String,
      tsCol: String)
  @volatile private var monitors = Map.empty[String, MonitorMeta]

  /** The standing artifact that answers a `sql` command, if one
    * qualifies: its label and the frame it serves. A JOIN select can
    * only be served by a registered join matview whose recorded
    * (tables, on-pairs) match the FROM; a single-table select is offered
    * to the table's rollup ([[graft.dialect.RollupServe]] answers a
    * qualified increments() query from bucket rows, never event
    * history), then to its matview. Anything no matcher can prove
    * serves exactly falls back to the base plan (None). */
  private def served(cmd: EdgeSql.Command): Option[(String, DataFrame)] =
    try {
      val sel = EdgeSql.parseSelect(cmd.select)
      if (sel.join.nonEmpty)
        joinMatviews.to(Seq).sortBy(_._1)
          .collectFirst(Function.unlift { case (path, spec) =>
            graft.dialect.JoinMatViewServe.tryServe(spark, path, spec, cmd)
              .map(df => (s"join matview at $path", df))
          })
      else {
        val t0 = sel.table
        val table = if (t0.contains('.'))
          t0.substring(t0.lastIndexOf('.') + 1) else t0
        rollups.get(table).flatMap(a =>
            graft.dialect.RollupServe.tryServe(spark, a.meta, cmd)
              .map(df => (s"standing rollup at ${a.path}", df)))
          .orElse(matviews.get(table).flatMap(m =>
            graft.dialect.MatViewServe.tryServe(spark, m, cmd)
              .map(df => (s"matview at ${m.path}", df))))
      }
    } catch { case _: Exception => None }

  /** Run a `sql` command, returning the DataFrame (pre-rendering):
    * served from a standing artifact when one qualifies ([[served]]),
    * else the base plan. */
  def query(command: String): DataFrame = {
    val cmd = EdgeSql.parseCommand(command)
    served(cmd).map(_._2).getOrElse(
      EdgeSql.query(spark, loadWithOptions(cmd), command,
        vars = dict, nodeAddress = nodeAddress))
  }

  /** `explain sql <dbms> <options> "select ..."` — observability for
    * the transparent serving layer: reports WHICH plan would answer
    * this exact command (standing rollup / matview / base scan, with
    * the artifact path) and prints the formatted Catalyst plan. The
    * decision is [[query]]'s own ([[served]]) — this command asks, it
    * never executes the query. Beyond-parity: the reference has no
    * serving layer to observe; its nearest surface is the sql
    * command's test/render mode (member_cmd.py:124-127). */
  private def explainSql(t: String): String = {
    val command = t.substring("explain".length).trim
    val cmd = EdgeSql.parseCommand(command)
    val (src, df) = served(cmd).getOrElse(
      ("base table scan (no standing artifact qualifies)",
        EdgeSql.query(spark, loadWithOptions(cmd), command,
          vars = dict, nodeAddress = nodeAddress)))
    s"serving: $src\n" + df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  private def loadWithOptions(cmd: EdgeSql.Command)
      : String => DataFrame = { name =>
    var base = catalog.table(name)
    // time-partitioned table + bounded WHERE time range -> inject the
    // partition predicate so the scan prunes directories (the reference's
    // partition-name matching, partitions.py:406-466)
    catalog.partitionMeta(name).foreach { case (tsCol, unit, n) =>
      // normalize EXACTLY as compileSelect does (rewrite + caller-tz ->
      // UTC literal shift) so the prune window matches the filter window;
      // deriving bounds from raw local literals would silently prune UTC
      // rows in the preceding/following bucket
      val bounds = EdgeSql.parseSelect(cmd.select).where
        .map(w => graft.dialect.DateLiterals.rewrite(w))
        .map(w => cmd.options.get("timezone")
          .map(z => graft.dialect.DateLiterals.localizeLiterals(w, z))
          .getOrElse(w))
        .flatMap(w => EdgeSql.timeBounds(w, tsCol))
      bounds.foreach { case (lo, hi) =>
        base = base.filter(TimePartitions.pruneFilter(unit, n, lo, hi))
      }
    }
    // nodes=main|all (the cmd_instructions option, member_cmd.py:
    // 150-153): with HA, `main` answers from the operators designated
    // main — the consensus state every peer has replicated, which on
    // this engine is rows at or below the table's safe tsd id
    // (dbms/ha.py:225), the SAME boundary committed=true asserts;
    // `all` answers from any operator, i.e. everything this node
    // holds. An un-clustered single node IS its own main with no
    // replica lag, so the implicit default stays all-equivalent and
    // only an EXPLICIT nodes=main asserts the HA boundary.
    val nodes = cmd.options.get("nodes").map(_.toLowerCase)
    nodes.foreach(v => require(v == "main" || v == "all",
      s"nodes= must be main|all (got $v)"))
    // committed=true -> restrict to rows replicated on all peers
    // (where-cond injection, unify_results.py:1228-1234)
    if ((cmd.options.get("committed").contains("true") ||
        nodes.contains("main")) &&
        base.columns.contains("tsd_id")) {
      // unknown replication state -> return NOTHING, matching the
      // reference's conservative consensus init (dbms/ha.py: safe id
      // starts at 0 until the cluster reports); defaulting high would
      // hand back uncommitted rows to a caller who asked for committed
      val safe = safeTsdIds.getOrElse(name, 0)
      base.filter(col("tsd_id") <= lit(safe))
    } else base
  }

  /** REST PUT data ingest — the reference's primary data-in path
    * (tcpip/http_server.py:1844 `do_PUT` -> al_put; header params
    * dbms/table/instructions, put_params_from_header `:2708`). The body
    * is JSON rows: a JSON array, one object, or newline-delimited
    * objects (utils_json.make_json_rows). `instructions` names a stored
    * mapping policy to transform rows; otherwise rows are aligned to
    * the table's registered schema (missing columns -> NULL, extras
    * dropped, values cast). Appends to the table's storage path and
    * returns the appended row count.
    *
    * A PUT runs about three small Spark jobs of its own (JSON schema
    * inference and the append) plus its auto-folds: a table with a
    * rollup and a matview takes about a dozen jobs per PUT in all. The
    * batching for high-frequency small PUTs is the watch-dir/stream
    * path (StreamIngest), exactly the reference's streaming mode. */
  def ingest(table: String, body: String,
      instructions: Option[String] = None): Long = {
    import spark.implicits._
    val trimmed = body.trim
    require(trimmed.nonEmpty, "PUT body is empty")
    // body shapes (utils_json.make_json_rows): a JSON array -> one line
    // per ELEMENT (so mapping policies see one document per row), one
    // object -> one line (even pretty-printed across lines), NDJSON ->
    // one line per row. Parse-first: only fall back to line-splitting
    // when the whole body is not a single JSON value.
    val lines: Seq[String] = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      // strict parse: jackson's default readValue stops at the FIRST
      // JSON value and silently discards trailing tokens — '{"a":1}
      // {"b":2}' would ingest one row and drop the other. One mapper
      // for the whole body: constructing an ObjectMapper per LINE cost
      // more than the parse itself on multi-thousand-line PUT bodies.
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.enable(com.fasterxml.jackson.databind
        .DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
      def parseStrict(s: String): Option[JValue] =
        try { mapper.readTree(s); JsonMethods.parseOpt(s) }
        catch { case _: Exception => None }
      // validation needs only strictness, not the parsed value
      def validLine(s: String): Boolean =
        try { mapper.readTree(s); true } catch { case _: Exception => false }
      val ls = trimmed.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      // NDJSON first (every line its own complete JSON value)
      if (ls.length > 1 && ls.forall(validLine)) ls
      else parseStrict(trimmed) match {
        case Some(JArray(docs)) =>
          docs.map(d => JsonMethods.compact(JsonMethods.render(d)))
        case Some(obj: JObject) =>
          Seq(JsonMethods.compact(JsonMethods.render(obj)))
        case _ => throw new IllegalArgumentException(
          s"PUT body is not JSON rows: ${trimmed.take(60)}")
      }
    }
    // duplicate check BEFORE any side effect (registration or write):
    // UNIQUE(file_hash) makes re-ingest of an identical payload a no-op
    // (tsd_info hash_index, db_info.py:1750) — the idempotence a
    // retrying REST client needs
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(trimmed.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val existingPath = catalog.tablePath(table)
    // auto-create target (create_table.py:156 create_new_table): the
    // table is REGISTERED only after its first write succeeds, so a
    // duplicate payload or a failed write leaves no dangling
    // registration pointing at a path with no files
    val autoCreate = existingPath.isEmpty && dataDir.isDefined
    val path = existingPath.orElse(dataDir.map(r => s"$r/$table"))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table $table — register it (or set a data dir) before PUT"))
    // an unknown policy id is an ERROR, not a silent fall-through to
    // plain schema alignment (which would ingest NULLs with a 200)
    instructions.foreach(id => require(catalog.policy(id).isDefined,
      s"unknown mapping policy: $id"))
    // RESTART SEED: a fresh engine's in-memory ledger restarts at 1,
    // but a pre-existing table may carry higher tsd_ids from a
    // previous life — re-issuing a used id would stamp new rows BELOW
    // every standing artifact's watermark (sync filters > wm, so they
    // would silently never fold). One column-stats max per table per
    // engine lifetime.
    if (existingPath.isDefined && !ledgerSeeded.contains(table)) {
      try {
        val existing = catalog.table(table)
        if (existing.columns.contains("tsd_id"))
          tsdLedger.ensureAbove(mvTableWm(existing))
      } catch { case _: Exception => () } // empty/unreadable: no seed
      ledgerSeeded.add(table)
    }
    // a mapping policy may drop/reshape rows, so its row count needs a
    // Spark count; the plain path aligns 1:1 with the validated JSON
    // lines — lines.size IS the row count — but ONLY when every line is
    // a JSON OBJECT: spark.read.json expands a top-level-array line
    // into one row per element and silently drops a root-level `null`
    // line, so those shapes keep the exact Spark count (r15 advice).
    // A complete JSON value is an object iff its first char is '{'
    // (lines are trimmed NDJSON or compact-rendered values).
    var alignedCount: Option[Long] = None
    val aligned = instructions.flatMap(catalog.policy) match {
      case Some(policyJson) =>
        graft.ingest.MappingPolicy.compile(
          graft.ingest.MappingPolicy.fromJson(policyJson),
          lines.toDF("value"), "value")
      case None =>
        if (lines.forall(_.startsWith("{")))
          alignedCount = Some(lines.size.toLong)
        val raw = spark.read.json(spark.createDataset(lines))
        val sysNames = Set("row_id", "insert_timestamp", "tsd_name", "tsd_id")
        // auto-create aligns to the reference's inference rules
        // (timestamp-shaped strings become TIMESTAMP etc.) — but the
        // schema is only REGISTERED after the write succeeds
        val target = catalog.tableSchema(table).orElse(
          if (autoCreate) Some(org.apache.spark.sql.types.StructType(
            SchemaInference.suggestCreate(jsonRowsToMaps(lines))
              .filterNot(f => sysNames(f.name))))
          else None)
        target match {
          case Some(schema) =>
            raw.select(schema.fields.toSeq.map { f =>
              (if (raw.columns.contains(f.name)) col(f.name)
               else lit(null)).cast(f.dataType).as(f.name)
            }: _*)
          case None => raw
        }
    }
    // label the PUT's jobs (guide §1.5) so profiles attribute the
    // count/append/fold phases; thread-local, restored in the finally
    val prevDesc = spark.sparkContext
      .getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(s"rest_put $table")
    try {
    val n = alignedCount.getOrElse(aligned.count())
    // reserve-append-fold under this table's lock: PUTs into one table
    // (or into the two sides of a join matview) serialize here, PUTs
    // into other tables run alongside — see the thread-safety contract
    // in the class doc. Parsing/alignment above ran unlocked.
    tableLocked(table) {
    tsdLedger.record("edge", table, "rest_put", hash,
      instructions.getOrElse("0"), n) match {
      case None => 0L // duplicate payload — already ingested
      case Some(tsdId) =>
        // stamp the TSD lineage when the table carries system columns —
        // auto-created tables always get them
        // (suggest_create_table.py:255)
        val schemaCols = catalog.tableSchema(table)
          .map(_.fieldNames.toSet).getOrElse(Set.empty)
        val stamped =
          if (autoCreate || schemaCols.contains("tsd_id"))
            graft.ingest.SystemColumns.stamp(
              aligned.drop("row_id", "insert_timestamp", "tsd_name",
                "tsd_id"), "rst", tsdId)
          else aligned
        // a time-partitioned target keeps its bucket layout on append,
        // so the pruning injected by loadWithOptions stays valid for
        // PUT-ingested rows too (the reference routes arriving data into
        // the par_<table>_<date> physical tables, partitions.py:17-23)
        try {
          catalog.partitionMeta(table) match {
            case Some((tsCol, unit, pn)) =>
              // a flat fallback here would drop loose part-files next to
              // the __par=... dirs and break partition discovery for the
              // whole table — missing the ts column is an ERROR
              require(stamped.columns.contains(tsCol),
                s"partitioned table $table requires column $tsCol in " +
                  "ingested rows")
              TimePartitions.write(stamped, tsCol, unit, pn, path,
                org.apache.spark.sql.SaveMode.Append)
            case None =>
              // REBALANCE before the append (guide §6): a PUT batch
              // inherits the JSON reader's partition count and was
              // appending one near-empty file per core per PUT; AQE
              // sizes the append adaptively (small batch -> one file)
              // so table scans and folds stop paying per-file opens
              // that grow with PUT count
              stamped.hint("REBALANCE").write.mode("append").parquet(path)
          }
        } catch { case e: Throwable =>
          // roll the reservation back or a transient write failure would
          // permanently poison this payload hash and a retry would be a
          // silent 0-row no-op
          tsdLedger.remove(hash)
          throw e
        }
        // ARCHIVE the raw payload, hash-addressed (the reference
        // archives every ingested source file, and HA moves those
        // bytes between peers — dbms/ha.py: re-serialized rows would
        // hash differently and defeat the duplicate-PUT refusal that
        // makes sync idempotent). Best-effort: data+ledger are the
        // durable truth, a failed archive write only narrows what
        // this node can SERVE to peers.
        archiveRoot.foreach { ar =>
          try {
            java.nio.file.Files.createDirectories(ar)
            java.nio.file.Files.writeString(ar.resolve(s"$hash.json"),
              trimmed)
          } catch { case e: Exception =>
            logRing(errorLog, (System.currentTimeMillis,
              s"archive $hash", Option(e.getMessage).getOrElse("") )) }
        }
        // register AFTER the data exists, with the schema of what was
        // actually WRITTEN (policy-mapped + stamped — inferring from the
        // raw body would freeze pre-policy column names)
        if (autoCreate)
          catalog.registerTable(table, path, Some(stamped.schema))
        // the batch is durable; fold it into every standing aggregate
        // artifact over this table so transparently-served state never
        // silently lags the table (errors recorded, never thrown — see
        // autoFoldViews; `matview sync` reconciles exactly)
        if (autoRefreshViews) autoFoldViews(table, stamped, tsdId)
        n
    }
    }
    } finally spark.sparkContext.setJobDescription(prevDesc)
  }

  /** Recently executed / recently failed commands (the reference's
    * `get event log` / `get error log`, generic/process_log.py rings) —
    * bounded, newest kept. */
  private val eventLog =
    new scala.collection.mutable.ArrayBuffer[(Long, String)]
  private val errorLog =
    new scala.collection.mutable.ArrayBuffer[(Long, String, String)]
  private val processLogCap = 1000

  private def logRing[A](buf: scala.collection.mutable.ArrayBuffer[A],
      entry: A): Unit = synchronized {
    buf += entry
    if (buf.length > processLogCap) buf.remove(0, buf.length - processLogCap)
  }

  private def renderLog(rows: Seq[(Long, String)]): String =
    if (rows.isEmpty) "log is empty"
    else rows.map { case (ts, line) =>
      s"${java.time.Instant.ofEpochMilli(ts)} $line"
    }.mkString("\n")

  /** Engine-wide write gate (see the class doc). Its exclusive side
    * ([[exclusive]]) runs one [[Write]] command — artifact create/
    * refresh/sync/delete/drop, partition/retention, HA — with no other
    * writer anywhere. Its shared side is held by table writes
    * ([[tableLocked]]): ingest's append+fold section and streaming
    * view folds. Fair, so a stream of PUTs cannot starve a Write
    * command. Reads never take it. */
  private val writeGate =
    new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  private def exclusive[A](body: => A): A = {
    val l = writeGate.writeLock(); l.lock()
    try body finally l.unlock()
  }

  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.locks.ReentrantLock]()

  /** Run a write into `table` (an append, its folds) under the write
    * gate's shared side and the locks of `table` and of the other side
    * of every join matview over it, taken in name order. A write into
    * either side of a join matview folds that artifact, so the two
    * sides share a lock: two folds of one artifact never interleave,
    * and a fold never reads the other side mid-append. Registrations
    * are Write commands, so the set cannot change while the shared
    * side is held. Reentrant: ingest's folds take the same set. */
  private def tableLocked[A](table: String)(body: => A): A = {
    val gate = writeGate.readLock(); gate.lock()
    try {
      val tables = (joinMatviews.values.toSeq.collect {
        case s if s.left == table => s.right
        case s if s.right == table => s.left
      } :+ table).distinct.sorted
      val locks = tables.map(tableLocks.computeIfAbsent(_,
        _ => new java.util.concurrent.locks.ReentrantLock()))
      locks.foreach(_.lock())
      try body finally locks.reverse.foreach(_.unlock())
    } finally gate.unlock()
  }

  /** Retention gate: the ONLY lock the read path ever touches. A
    * [[Read]] command holds the READ side for its whole run (reads
    * still run fully parallel with each other and with every writer
    * except a physical delete); the two physical file-removal moments
    * — `drop partition`'s directory delete and the compact/merge
    * [[swapDirs]] promotion — hold the WRITE side. So a
    * command-surface query can never observe a file-not-found from
    * retention: the delete drains in-flight command reads first, and
    * reads planned after it list the surviving files. FAIR mode so a
    * continuous reader stream cannot starve retention. Deadlock-free
    * by construction: the write side is reachable only from [[Write]]
    * commands, which never hold the read side (no read→write upgrade
    * exists). `query()` hands back a lazy DataFrame executed outside
    * the engine, so it stays on the documented retry contract. */
  private val retentionGate =
    new java.util.concurrent.locks.ReentrantReadWriteLock(true)

  private def readGated[A](body: => A): A = {
    val l = retentionGate.readLock(); l.lock()
    try body finally l.unlock()
  }

  private def deleteGated[A](body: => A): A = {
    val l = retentionGate.writeLock(); l.lock()
    try body finally l.unlock()
  }

  /** The value of option `key = <value>` in a command: the first
    * whitespace-delimited token after the `=` (the key matches
    * case-insensitively, as a whole word). */
  private def arg(text: String, key: String): Option[String] =
    s"(?i)\\b$key\\s*=\\s*(\\S+)".r.findFirstMatchIn(text).map(_.group(1))

  /** [[arg]] for a required option: missing, it fails with
    * `<cmd> requires <key> =`. */
  private def reqArg(text: String, key: String, cmd: String): String =
    arg(text, key).getOrElse(
      throw new IllegalArgumentException(s"$cmd requires $key ="))

  /** [[arg]] whose value may be quoted (`"..."` or `'...'`), so it can
    * carry spaces; an unquoted value is the bare token. */
  private def quotedArg(text: String, key: String): Option[String] =
    (s"(?i)\\b$key\\s*=\\s*" + "\"([^\"]+)\"").r
      .findFirstMatchIn(text).map(_.group(1))
      .orElse((s"(?i)\\b$key\\s*=\\s*'([^']+)'").r
        .findFirstMatchIn(text).map(_.group(1)))
      .orElse(arg(text, key))

  /** Split `<cmd> [where] ... spec = <json>` at its JSON spec, which
    * must be the LAST clause (JSON has no bare `=`, so the options
    * before it parse unambiguously): (those options, the JSON text).
    * The clause is matched as a WORD (`table = inspection` must not
    * trip the substring "spec"); a command without one fails with
    * `missing`. */
  private def specClause(t: String, cmd: String,
      missing: String): (String, String) = {
    val body = t.substring(cmd.length).trim.stripPrefix("where").trim
    val m = "(?i)\\bspec\\s*=".r.findFirstMatchIn(body).getOrElse(
      throw new IllegalArgumentException(missing))
    (body.substring(0, m.start), body.substring(m.end).trim)
  }

  /** A registered table or view by name, else a parquet path. */
  private def tableOrPath(src: String): DataFrame =
    if (catalog.tableNames.contains(src) ||
        catalog.viewNames.contains(src)) catalog.table(src)
    else spark.read.parquet(src)

  /** A result frame rendered as JSON, or as a text table when the
    * command carries `format = table`. */
  private def rendered(text: String, df: DataFrame): String =
    if (arg(text, "format").contains("table")) Render.table(df)
    else Render.json(df)

  /** `get <family>s`: one line per registered table, sorted by name. */
  private def listing[M](families: String, reg: Map[String, M])(
      line: (String, M) => String): String =
    if (reg.isEmpty) s"no $families registered"
    else reg.toSeq.sortBy(_._1).map(line.tupled).mkString("\n")

  /** `<family> drop where table = <t>`: unregister only; the artifact
    * stays on disk. */
  private def unregister(family: String, t: String,
      reg: Map[String, _])(remove: String => Unit): String = {
    val table = reqArg(t, "table", s"$family drop")
    require(reg.contains(table), s"no $family registered for $table")
    remove(table)
    s"$family for $table dropped"
  }

  private def cmd(prefix: String, lock: Lock)(run: String => String) =
    new Command(prefix, lock, exact = false, run)
  private def exact(text: String, lock: Lock)(run: String => String) =
    new Command(text, lock, exact = true, run)

  /** Every command the engine serves, with the lock it runs under — the
    * one place a command's lock class is decided (see the class doc's
    * thread-safety contract). A command resolves to the entry with the
    * LONGEST matching prefix (exact entries match the whole lowercased
    * command), so `set view auto refresh` beats `set ` whatever the
    * order below. Handlers receive the trimmed command text. */
  private[engine] val commands: Seq[Command] = Seq(
    cmd("sql ", Read) { t =>
      // every sql execution feeds the QueryMonitor histogram and (when
      // enabled) the slow-query log — member_cmd.py "get queries time" /
      // "set query log profile [n] seconds"
      val t0 = System.nanoTime()
      try renderSql(t)
      finally recordQueryTime(t, (System.nanoTime() - t0) / 1e9)
    },
    cmd("explain sql ", Read)(explainSql),
    cmd("get queries time", Read)(t => queriesTimeReport(
      "(?i)where\\s+format\\s*=\\s*json".r.findFirstIn(t).isDefined)),
    exact("get query log", Read)(_ => synchronized {
      if (queryLogTime < 0) "query log is off"
      else if (queryLog.isEmpty) "query log is empty"
      else queryLog.map { case (ts, secs, cmd) =>
        f"${java.time.Instant.ofEpochMilli(ts)} ${secs}%.3f sec: $cmd"
      }.mkString("\n")
    }),
    exact("get event log", Read)(_ => synchronized {
      // recently executed commands (member_cmd.py "get event log") —
      // excluding THIS command by entry identity (a concurrent execute()
      // may have logged after ours, so dropping the tail would drop the
      // wrong entry and leave ours in the output)
      val self = runningEvent.value
      renderLog(eventLog.toSeq.filter(_.asInstanceOf[AnyRef] ne
        self.asInstanceOf[AnyRef]))
    }),
    exact("get error log", Read)(_ => synchronized {
      // recently failed commands with their error text
      if (errorLog.isEmpty) "log is empty"
      else errorLog.map { case (ts, cmd, err) =>
        s"${java.time.Instant.ofEpochMilli(ts)} $cmd -> $err"
      }.mkString("\n")
    }),
    exact("reset event log", Write)(_ => synchronized {
      eventLog.clear(); "event log reset"
    }),
    exact("reset error log", Write)(_ => synchronized {
      errorLog.clear(); "error log reset"
    }),
    exact("reset query log", Write)(_ => synchronized {
      queryLog.clear(); "query log reset"
    }),
    exact("reset queries time", Write)(_ => synchronized {
      // QueryMonitor.reset (job_instance.py:44-48)
      java.util.Arrays.fill(queryBuckets, 0L)
      queryMonitorStart = System.currentTimeMillis
      "queries time reset"
    }),
    cmd("set query log", Write)(t => synchronized {
      val rest = t.toLowerCase.substring("set query log".length).trim
      val profileRx = "profile\\s+(\\d+)\\s+seconds?".r
      rest match {
        case "on" => queryLogTime = 0; "query log on"
        case "off" => queryLogTime = -1; "query log off"
        case profileRx(n) =>
          queryLogTime = n.toInt
          s"query log profile $n seconds"
        case other => throw new IllegalArgumentException(
          s"set query log: expected on|off|profile [n] seconds, got '$other'")
      }
    }),
    cmd("get streaming", Read) { _ =>
      // the reference's per-table streaming buffer stats (member_cmd.py
      // get_streaming_info / streaming_data.show_info) mapped onto
      // Structured Streaming's live query registry + progress
      val qs = spark.streams.active
      if (qs.isEmpty) "no active streaming queries"
      else qs.map { q =>
        val p = Option(q.lastProgress)
        val ident = Option(q.name).filter(_.nonEmpty).getOrElse(q.id.toString)
        s"$ident: active=${q.isActive}" +
          p.fold(" (no batch yet)")(pr =>
            s" batch=${pr.batchId} lastBatchRows=${pr.numInputRows}")
      }.mkString("\n")
    },
    exact("get status", Read)(_ =>
      // member_cmd.py `get status` leads with "'<node>' is running" —
      // the liveness shape monitors poll — then the local detail
      s"'${dict.getOrElse("node_name", "graft")}@${nodeAddress._1}:" +
        s"${nodeAddress._2}' is running; " +
        s"tables: ${catalog.tableNames.size}; " +
        s"views: ${catalog.viewNames.size}; spark: ${spark.version}"),
    cmd("create view ", Write)(createView),
    cmd("partition ", Write)(partition),
    cmd("drop partition ", Write)(dropPartition),

    cmd("rollup create", Write)(rollupCreate),
    cmd("rollup delete", Write)(rollupDelete),
    cmd("rollup attach", Write) { t =>
      // re-register an existing artifact after an engine restart — the
      // rollup records its own metadata (grain, ts_col, measures, dims),
      // so the files alone are enough
      val table = reqArg(t, "table", "rollup attach")
      val path = reqArg(t, "path", "rollup attach")
      val stored = graft.ops.IndexStore.read(spark, path).getOrElse(
        throw new IllegalArgumentException(s"no rollup artifact at $path"))
      val (tsCol, grain, dims, measures) = graft.ops.Rollup.metaOf(stored)
      rollups.register(table, graft.dialect.RollupServe.Meta(
        path, tsCol, grain, dims, measures))
      s"rollup for $table attached from $path " +
        s"(grain=$grain dims=${dims.mkString(",")} " +
        s"measures=${measures.mkString(",")})"
    },

    cmd("vindex create", Write)(vindexCreate),
    cmd("vindex delete", Write)(vindexDelete),
    cmd("vindex search", Read)(vindexSearch),
    cmd("vindex negatives", Read)(vindexNegatives),
    cmd("vindex attach", Write)(vindexAttach),

    cmd("tindex create", Write)(tindexCreate),
    cmd("tindex delete", Write)(tindexDelete),
    cmd("tindex search", Read)(tindexSearch),
    cmd("tindex phrase", Read)(tindexPhrase),
    cmd("tindex near", Read)(tindexNear),
    cmd("tindex snippet", Read)(tindexSnippet),
    cmd("tindex like", Read)(tindexLike),
    cmd("tindex attach", Write)(tindexAttach),
    cmd("hybrid search", Read)(hybridSearch),

    cmd("sindex create", Write)(sindexCreate),
    cmd("sindex estimate", Read)(sindexEstimate),
    cmd("sindex overlap", Read)(sindexOverlap),
    cmd("sindex attach", Write)(sindexAttach),

    // create and refresh commit an IndexStore version, a single-writer
    // protocol (list versions, write max+1, prune): two refreshes under
    // the read gate alone would both read version N, and the later
    // commit would drop the other's edges (TriCountRefreshRaceSpec)
    cmd("graph tricount create", Write)(triCreate),
    cmd("graph tricount refresh", Write)(triRefresh),
    cmd("graph tricount get", Read)(triGet),
    cmd("graph ", Read)(graphCmd),

    // directory-rewriting commands (swapDirs): were never safe to run
    // concurrently with each other on one table, and they END in a
    // physical delete — both facts require the write side
    cmd("compact where", Write)(compactCmd),
    cmd("merge scd2 into", Write)(mergeScd2),
    cmd("merge into", Write)(mergeCmd),

    // psi create commits an IndexStore version (single-writer, as the
    // tricount entries above)
    cmd("monitor psi create", Write)(monitorPsiCreate),
    cmd("monitor psi check", Read)(monitorPsiCheck),
    cmd("monitor attach", Write)(monitorAttach),
    cmd("monitor create", Write)(monitorCreate),
    cmd("monitor refresh", Write)(monitorRefresh),
    cmd("monitor level", Read)(monitorLevel),
    cmd("monitor drop", Write)(t =>
      unregister("monitor", t, monitors)(monitors -= _)),
    exact("get monitors", Read)(_ => listing("monitors", monitors) {
      (tbl, m) => s"$tbl: key=${m.keyCol} ts=${m.tsCol} path=${m.path}"
    }),

    cmd("layout attach", Write)(layoutAttach),
    cmd("layout zorder", Write)(layoutZorder),
    cmd("layout refresh", Write)(layoutRefresh),
    cmd("layout scan", Write)(layoutScan),
    cmd("layout drop", Write)(t =>
      unregister("layout", t, layouts)(layouts -= _)),
    exact("get layouts", Read)(_ => listing("layouts", layouts) {
      (tbl, m) => s"$tbl: x=${m.xCol} y=${m.yCol} bits=${m.bits} " +
        s"buckets=${m.buckets} path=${m.path}"
    }),

    cmd("suggest create ", Read)(suggestCreate),
    cmd("get columns ", Read) { t =>
      val name = t.substring("get columns ".length).trim
      catalog.table(name).schema.fields
        .map(f => s"${f.name} ${f.dataType.simpleString}").mkString("\n")
    },
    cmd("policy add ", Read) { t =>
      // metadata-policy CRUD (the ledger surface, blockchain/metadata.py)
      val rest = t.substring("policy add ".length).trim
      val sp = rest.indexWhere(_.isWhitespace)
      require(sp > 0, "policy add <id> <json>")
      catalog.addPolicy(rest.substring(0, sp), rest.substring(sp).trim)
      s"policy ${rest.substring(0, sp)} stored"
    },
    cmd("policy get ", Read)(t =>
      catalog.policy(t.substring("policy get ".length).trim)
        .getOrElse(throw new IllegalArgumentException("unknown policy"))),
    cmd("blockchain insert", Read)(blockchainInsert),
    cmd("blockchain get ", Read)(blockchainGet),
    cmd("set view auto refresh", Write) { t =>
      val v = t.substring(t.indexOf('=') + 1).trim.toLowerCase
      require(v == "on" || v == "off",
        "set view auto refresh = on|off")
      autoRefreshViews = v == "on"
      s"view auto refresh $v"
    },
    cmd("set ", Write) { t =>
      // dictionary assignment (the reference's params dict; scripts use
      // `name = value`, surfaced here as `set name = value`)
      val eq = t.indexOf('=')
      if (eq < 0) throw unknownCommand(t)
      val name = t.substring(4, eq).trim
      val value = t.substring(eq + 1).trim
      setVar(name, value)
      s"$name = $value"
    },
    cmd("get partitions", Read) { t =>
      // `get partitions [table]` — the reference's partition listing
      // (cmd/member_cmd.py `get partitions`; naming partitions.py:17-23)
      val arg = t.substring("get partitions".length).trim
      val names = if (arg.isEmpty) catalog.tableNames else Seq(arg)
      names.flatMap { n =>
        catalog.partitionMeta(n).zip(catalog.tablePath(n)).map {
          case ((tsCol, unit, pn), path) =>
            val parts = TimePartitions.partitions(spark, path)
            s"$n using $tsCol by $pn $unit: ${parts.mkString(", ")}"
        }
      } match {
        case Nil => "no partitioned tables"
        case xs => xs.mkString("\n")
      }
    },
    cmd("get rows count", Read) { t =>
      // `get rows count [where dbms = d and table = t]`
      // (cmd/member_cmd.py:13970) — per-table row counts; no filter ->
      // every registered table
      val wanted = arg(t, "table").map(_
        .stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'"))
      wanted.map(Seq(_)).getOrElse(catalog.tableNames)
        .map(n => s"$n: ${catalog.table(n).count()}").mkString("\n")
    },
    cmd("get tsd list", Read) { t =>
      // the tsd_info SELECT surface (ha.py get_recent_tsd_info reads the
      // same table to answer peers)
      val tbl = Some(t.substring("get tsd list".length).trim)
        .filter(_.nonEmpty)
      Render.table(tsdLedger.df(spark).transform(d =>
        tbl.fold(d)(x => d.filter(col("table_name") === x)))
        .orderBy(col("file_id")))
    },
    cmd("get tsd diff", Read) { t =>
      // HA sync decision (ha.py:19-35): diff this node's ledger against
      // a peer's exported ledger (a registered table or a parquet path
      // fetched from the peer's `get tsd list` surface) — renders the
      // pull/push plan; REST PUT is the transport that then moves files
      val peerRef = arg(t, "peer").getOrElse(
        throw new IllegalArgumentException(
          "get tsd diff where peer = <table|parquet path>"))
      val peer =
        if (catalog.tableNames.contains(peerRef)) catalog.table(peerRef)
        else Tables.loadPath(spark, peerRef)
      Render.table(graft.ingest.TsdLedger.diff(tsdLedger.df(spark), peer)
        .orderBy(col("action"), col("file_hash")))
    },
    cmd("get tsd export", Read)(_ => tsdExport()),
    cmd("pipeline clean", Write)(pipelineClean),
    cmd("quality check", Read)(qualityCheck),
    cmd("profile table", Read)(profileTable),

    cmd("join matview create", Write)(joinMatviewCreate),
    cmd("join matview refresh", Write)(joinMatviewRefresh),
    cmd("join matview delete", Write)(joinMatviewDelete),
    cmd("join matview sync", Write)(joinMatviewSync),
    cmd("join matview get", Read)(joinMatviewGet),
    cmd("join matview attach", Write)(joinMatviewAttach),
    cmd("matview create", Write)(matviewCreate),
    cmd("matview refresh", Write)(matviewRefresh),
    cmd("matview delete", Write)(matviewDelete),
    cmd("matview sync", Write)(matviewSync),
    cmd("matview get", Read)(matviewGet),
    cmd("matview attach", Write)(matviewAttach),
    exact("get matviews", Read)(_ => listing("matviews", matviews) {
      (tbl, m) => s"$tbl: keys=${m.keys.mkString(",")} " +
        s"aggs=${m.aggs.map(a => s"${a.fn}:${a.alias}").mkString(",")} " +
        s"path=${m.path}"
    }),

    cmd("dedup index create", Write)(dedupIndexCreate),
    cmd("dedup index attach", Write)(dedupIndexAttach),
    cmd("dedup index delete", Write)(dedupIndexDelete),

    cmd("sync all", Write)(syncAll),
    cmd("artifact verify", Read)(artifactVerify),
    exact("get artifacts", Read) { _ =>
      val recs = catalog.artifactList
      if (recs.isEmpty) "no artifacts recorded"
      else recs.map { case (k, cmd) => s"$k -> $cmd" }.mkString("\n")
    },
    // attach all re-registers the whole artifact fleet (and its inner
    // attaches take the write gate); classifying it Write also keeps
    // the retention-gate lock order acyclic — a reader must never
    // block on the [[writeGate]] while holding the read gate
    exact("attach all", Write) { _ =>
      // restart recovery: replay every attach command the catalog's
      // metadata root recorded at create time (the reference loads its
      // policy fleet from the blockchain at startup — blockchain/
      // metadata.py:161 `load`). Per-artifact tolerant: one vanished
      // artifact reports, the rest of the fleet still serves.
      val recs = catalog.artifactList
      if (recs.isEmpty) "no artifacts recorded"
      else recs.map { case (key, cmd) =>
        try s"attached $key: ${execute(cmd)}"
        catch { case e: Exception => s"FAILED $key: ${e.getMessage}" }
      }.mkString("\n")
    },
    cmd("index versions", Read)(indexVersions),
    cmd("index retain", Read)(indexRetain),
    cmd("index get", Read)(indexGet),
    exact("get view auto refresh", Read)(_ => autoRefreshReport()),

    cmd("connect dbms", Write)(connectDbms),
    // msg client start/exit: the duplicate-subscription check and the
    // registry insert bracket a network handshake — write-side
    // serialization is what makes check-then-insert atomic (two
    // concurrent declarations of the same topics must collapse to ONE
    // subscription, not deliver every message twice). stop() joins no
    // thread that needs the write gate, so the exit is safe on this
    // side too.
    cmd("run msg client", Write)(runMsgClient),
    cmd("exit msg client", Write)(_ => exitMsgClient()),
    // scheduler-family commands are Write even though they only touch
    // the (internally synchronized) task registry: `task run` re-enters
    // execute() with the TASK's command, and a Write task reached from
    // the read-gated path would be a read→write upgrade on the
    // retention gate — the one deadlock the lock order forbids.
    // Entering on the write side keeps the nested acquisition order
    // write gate → retention gate, same as every other Write command.
    cmd("run scheduler", Write)(runScheduler),
    cmd("exit scheduler", Write) { t =>
      val id = "(?i)^exit scheduler\\s+(\\d+)".r
        .findFirstMatchIn(t).map(_.group(1).toInt).getOrElse(1)
      val reply = taskScheduler.stop(id)
      catalog.removeArtifact(s"scheduler:$id")
      reply
    },
    cmd("schedule ", Write)(scheduleCmd),
    cmd("task ", Write)(taskModeCmd),
    cmd("get scheduler", Read) { t =>
      "(?i)^get scheduler\\s+(\\d+)".r.findFirstMatchIn(t)
        .map(m => taskScheduler.report(m.group(1).toInt)).getOrElse {
          val ids = taskScheduler.ids
          if (ids.isEmpty) "No schedulers declared"
          else ids.map(taskScheduler.report).mkString("\n\n")
        }
    },
    cmd("test table ", Read)(testTable),
    cmd("get archive file", Read)(archiveFile),
    // ha sync ingests (nested: the write gate's shared side and the
    // table locks, reentrant under its exclusive hold) and delete
    // archive removes files — both enter on the write side like the
    // scheduler family
    cmd("delete archive", Write)(deleteArchive),
    cmd("run ha sync", Write)(haSync),
    cmd("run streamer", Write)(runStreamer),
    // `exit streamer` / `exit kafka consumer` hold NEITHER the write
    // gate NOR the retention read gate: they only touch internally-
    // synchronized registries, and both JOIN worker threads. `exit
    // streamer` (StreamingQuery.stop()) waits on a micro-batch whose
    // fold needs the [[writeGate]]'s shared side — so it cannot run as
    // Write (2-party deadlock: stop() waits the batch, the batch waits
    // the exclusive side we hold). It also cannot run READ-GATED: with
    // FAIR mode, a retention writer (`drop partition` holds the write
    // gate, then wants the retention gate's write side) bridges a
    // 3-way cycle — exit holds retention read and waits the batch, the
    // batch waits the write gate held by the retention command, the
    // retention command waits the retention write side blocked behind
    // exit's read hold. Unguarded execution touches no files
    // and no foldable state, so neither lock is needed. Regressions:
    // StreamerExitSpec (both shapes).
    cmd("exit streamer", Unguarded)(exitStreamer),
    // kafka consumer start: check-then-insert brackets the offset
    // claims and a broker probe (same reasoning as run msg client)
    cmd("run kafka consumer", Write)(runKafkaConsumer),
    cmd("exit kafka consumer", Unguarded)(_ => exitKafkaConsumer()),
    // plc client start: check-then-insert brackets a TCP connect —
    // write-side serialization keeps duplicate declarations atomic,
    // same reasoning as run msg client / run kafka consumer
    cmd("run plc client", Write)(runPlcClient),
    cmd("get plc clients", Read)(_ => getPlcClients()),
    cmd("get plc values", Read)(getPlcValues),
    cmd("get plc struct", Read)(getPlcStruct),
    // exit plc joins its poll thread, which takes no engine locks —
    // holding none here keeps the join free of lock-order hazards
    cmd("exit plc", Unguarded)(exitPlc),
    cmd("get processes", Read)(t => processesReport(
      "(?i)where\\s+format\\s*=\\s*json".r.findFirstIn(t).isDefined)),
    exact("get dictionary", Read)(_ =>
      dict.toSeq.sortBy(_._1).map { case (k, v) => s"$k = $v" }
        .mkString("\n")),
    exact("get tables", Read)(_ => catalog.tableNames.mkString("\n")),
    exact("get views", Read)(_ => catalog.viewNames.mkString("\n"))) ++
    families.flatMap(familyCommands)

  /** The entries every standing-index family shares: `<family> sync`,
    * `<family> refresh where table = <t> and source = <table|path>`
    * (fold a delta into the standing artifact, committing a fresh
    * version; history is never rescanned), `<family> drop` and
    * `get <family>s`. */
  private def familyCommands(f: Family[_]): Seq[Command] = Seq(
    cmd(s"${f.word} sync", Write)(familySync(f, _)),
    cmd(s"${f.word} refresh", Write) { t =>
      val table = reqArg(t, "table", s"${f.word} refresh")
      val a = f(table)
      val delta = tableOrPath(reqArg(t, "source", s"${f.word} refresh"))
      s"${f.word} for $table refreshed (${a.refreshed(a.fold(delta, None))})"
    },
    cmd(s"${f.word} drop", Write)(f.unregister),
    exact(s"get ${f.plural}", Read)(_ => f.listing))

  private val byLength = commands.sortBy(-_.prefix.length)

  /** The table entry a command runs as: the longest matching prefix. */
  private[engine] def entryOf(command: String): Option[Command] = {
    val low = command.trim.toLowerCase
    byLength.find(_.matches(low))
  }

  private def unknownCommand(command: String) =
    new IllegalArgumentException(s"unknown command: $command")

  /** The event-log entry of the command running on this thread, so
    * `get event log` can leave itself out. */
  private val runningEvent =
    new scala.util.DynamicVariable[(Long, String)](null)

  /** Execute any command; returns rendered text output. Every command
    * lands in the event log; failures land in the error log too. */
  def execute(command: String): String = {
    val t = command.trim
    val entry = (System.currentTimeMillis, t)
    logRing(eventLog, entry)
    try {
      val c = entryOf(t).getOrElse(throw unknownCommand(command))
      runningEvent.withValue(entry) {
        c.lock match {
          case Unguarded => c.run(t)
          case Write => exclusive(c.run(t))
          case Read => readGated(c.run(t))
        }
      }
    }
    catch { case e: Throwable =>
      logRing(errorLog,
        (System.currentTimeMillis, t,
          Option(e.getMessage).getOrElse(e.getClass.getSimpleName)))
      throw e
    }
  }

  /** `get view auto refresh`: the auto-fold switch, recorded fold
    * errors, and the inventory of every registered artifact a PUT into
    * its table will fold. */
  private def autoRefreshReport(): String = {
    val st = if (autoRefreshViews) "on" else "off"
    val targets =
      matviews.toSeq.map { case (tb, m) => s"$tb: matview ${m.path}" } ++
      joinMatviews.toSeq.flatMap { case (p, sp) =>
        Seq(s"${sp.left}: join matview $p",
          s"${sp.right}: join matview $p") } ++
      families.flatMap(_.targets)
    val inv = if (targets.isEmpty) "no auto-fold targets"
      else s"auto-fold targets:\n${targets.sorted.mkString("\n")}"
    val errs = autoFoldErrors.synchronized(autoFoldErrors.toList)
    if (errs.isEmpty)
      s"view auto refresh $st; no fold errors\n$inv"
    else s"view auto refresh $st; ${errs.size} fold " +
      s"error(s):\n${errs.mkString("\n")}\n$inv"
  }

  /** `run scheduler [id] [where timeout = N seconds|minutes]` — start a
    * task scheduler, optionally with a per-wake task timeout (see
    * [[TaskScheduler.tick]]). */
  private def runScheduler(t: String): String = {
    val id = "(?i)^run scheduler\\s+(\\d+)".r
      .findFirstMatchIn(t).map(_.group(1).toInt).getOrElse(1)
    "(?i)\\btimeout\\s*=\\s*(\\d+)\\s*(second|minute)s?\\b".r
      .findFirstMatchIn(t).foreach { m =>
        val unit = if (m.group(2).equalsIgnoreCase("minute")) 60000L
          else 1000L
        taskScheduler.setTaskTimeout(m.group(1).toLong * unit, id)
      }
    val reply = taskScheduler.start(id)
    catalog.recordArtifact(s"scheduler:$id", t.trim)
    reply
  }

  /** `profile table where table = <t> [and exact = false] [and format
    * = table]` — per-column row/null/distinct counts, min/max, string
    * length stats in one aggregate pass ([[graft.ops.Profile]]).
    * `exact = false` swaps distinct counts for HLL sketches — the
    * 100 TB mode (nothing shuffles by value). */
  private def profileTable(t: String): String = {
    val table = reqArg(t, "table", "profile table")
    val exact = !arg(t, "exact").exists(_.equalsIgnoreCase("false"))
    import org.apache.spark.sql.functions.col
    val out = graft.ops.Profile.profile(catalog.table(table), exact)
      .orderBy(col("col_name"))
    rendered(t, out)
  }

  private def mvSpecDir(path: String) = path.stripSuffix("/") + "-spec"
  private def mvRecordedSpec(path: String) = {
    val row = graft.ops.IndexStore.read(spark, mvSpecDir(path)).getOrElse(
      throw new IllegalArgumentException(s"no matview at $path")).head()
    graft.ops.MatView.specFromJson(row.getAs[String]("spec"))
  }

  /** The lineage watermark of a stored matview: the artifact's `wm_`
    * version tag when present, else the state rows' rider column (see
    * [[graft.ops.MatView.WatermarkCol]]); -1 when neither exists
    * (no-lineage view or a pre-tag artifact emptied by deletes —
    * sync refuses those and says to rebuild). */
  private def mvWmOf(path: String,
      state: org.apache.spark.sql.DataFrame): Long = {
    // version tags first (the jmv/index-family scheme — they keep
    // lineage across a state whose groups were ALL retired by deletes
    // or a partition drop; rider columns vanish with the rows, which
    // silently disabled sync on an emptied matview — found by the
    // concurrency soak); the rider column is the pre-tag-artifact
    // fallback
    val t = indexWmOf(path)
    if (t >= 0) t else wmColOf(state, graft.ops.MatView.WatermarkCol)
  }

  /** Read a lineage-watermark rider column (-1 when absent or the
    * state has no rows — sync refuses those and says to rebuild). */
  private def wmColOf(state: org.apache.spark.sql.DataFrame,
      c: String): Long = {
    import org.apache.spark.sql.functions.{col, max}
    if (!state.columns.contains(c)) -1L
    else {
      val r = state.agg(max(col(c).cast("long"))).head()
      if (r.isNullAt(0)) -1L else r.getLong(0)
    }
  }

  /** Lineage watermark of a standing INDEX artifact (vindex/tindex/
    * sindex), carried as a `wm_<n>` tag on the CURRENT committed
    * version — tags commit atomically WITH the fold's data (the
    * IndexStore tag protocol), so there is no state where the fold
    * landed but its watermark didn't. -1 = no lineage (artifact
    * created over an unstamped table, or a pre-watermark artifact). */
  private def indexWmOf(path: String): Long =
    graft.ops.IndexStore.currentTags(spark, path)
      .filter(_.startsWith("wm_"))
      .flatMap(t => scala.util.Try(t.stripPrefix("wm_").toLong).toOption)
      .maxOption.getOrElse(-1L)

  private def wmTag(n: Long): Seq[String] =
    if (n >= 0) Seq(s"wm_$n") else Nil

  /** The `wm_` watermark an index-family fold of `delta` commits: the
    * artifact's, advanced to the delta's highest tsd_id — `deltaWm`
    * when the caller knows it, else scanned. -1 stays -1. */
  private def foldedWm(path: String, delta: org.apache.spark.sql.DataFrame,
      deltaWm: Option[Long]): Long = {
    val wm = indexWmOf(path)
    if (wm >= 0) math.max(wm, deltaWm.getOrElse(mvTableWm(delta))) else wm
  }

  /** The current committed state of the store at `path`; `what` names
    * the store in the error when it has none. */
  private def stateAt(path: String, what: String): DataFrame =
    graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalStateException(s"no $what at $path"))

  /** Commit one store of a family unless `tag` is already on it. A
    * family with sidecars commits its main store first and each sidecar
    * after it, so a crash between two commits leaves the main store
    * tagged and a sidecar not; the replay (a streaming batch retry, a
    * re-run `drop partition`) must redo that sidecar alone. Returns the
    * store's committed version. */
  private def commitOnce(path: String, tag: Option[String])(
      commit: => Long): Long =
    if (tag.exists(graft.ops.IndexStore.hasTag(spark, path, _)))
      graft.ops.IndexStore.currentVersion(spark, path).getOrElse(0L)
    else commit

  /** Fold `delta` into the main store at `path` (`what` names it when
    * it has none), once per `tag`: `f` maps the current state to the
    * next, and a lineage-stamped delta advances the store's `wm_` tag
    * in the SAME commit as the fold (mirrors the matview watermark
    * rider). Returns the store's committed version. */
  private def foldInto(path: String, what: String, delta: DataFrame,
      tag: Option[String], deltaWm: Option[Long])(
      f: DataFrame => DataFrame): Long =
    commitOnce(path, tag) {
      val newWm = foldedWm(path, delta, deltaWm)
      graft.ops.IndexStore.write(f(stateAt(path, what)).localCheckpoint(),
        path, tag.toSeq ++ wmTag(newWm))
    }

  /** Rewrite the store at `path` from its current state (`what` names
    * it when it has none), once per `tag`. Its `wm_` tag rides onto the
    * new version unchanged: deletes and retention never advance
    * lineage, and a version without the tag would lose it. */
  private def rewrite(path: String, what: String, tag: Option[String])(
      f: DataFrame => DataFrame): Long =
    commitOnce(path, tag)(graft.ops.IndexStore.write(
      f(stateAt(path, what)).localCheckpoint(), path,
      tag.toSeq ++ wmTag(indexWmOf(path))))

  /** The jmv per-side watermark pair as IndexStore version tags —
    * committed atomically WITH every fold, like the index families'
    * `wm_` tags. The pair ALSO rides on the state rows (the original
    * r10 design), but rider columns vanish with the rows: a jmv whose
    * state empties (zero matching groups at create, or every group
    * retired by deletes) would lose its lineage and silently disable
    * the gap / other-pending double-count guards (ADVICE r11). Tags
    * survive an empty state. */
  private def jmvWmTags(l: Long, r: Long): Seq[String] =
    (if (l >= 0) Seq(s"wmL_$l") else Nil) ++
      (if (r >= 0) Seq(s"wmR_$r") else Nil)

  /** Read a jmv's per-side watermarks: version tags first (they keep
    * lineage across an emptied state), rider columns as the
    * pre-tag-artifact fallback. */
  private def jmvWmsOf(path: String,
      state: org.apache.spark.sql.DataFrame): (Long, Long) = {
    val tags = graft.ops.IndexStore.currentTags(spark, path)
    def of(pfx: String): Option[Long] = tags.filter(_.startsWith(pfx))
      .flatMap(t => scala.util.Try(t.stripPrefix(pfx).toLong).toOption)
      .maxOption
    import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
    (of("wmL_").getOrElse(wmColOf(state, WmLeftCol)),
      of("wmR_").getOrElse(wmColOf(state, WmRightCol)))
  }

  /** Highest tsd_id currently in a table (0 when stamped but empty),
    * or -1 when the table carries no tsd lineage column. */
  private def mvTableWm(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions.{col, max}
    if (!df.columns.contains("tsd_id")) -1L
    else {
      val r = df.agg(max(col("tsd_id").cast("long"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
  }

  /** Drop every engine-lineage rider column (single-table watermark +
    * the join matview's per-side pair) — none is ever served. */
  private def stripWm(df: org.apache.spark.sql.DataFrame) =
    df.drop(graft.ops.MatView.WatermarkCol,
      graft.ops.JoinMatView.WmLeftCol, graft.ops.JoinMatView.WmRightCol)

  /** `matview create where table = <t> and path = <dir> and spec =
    * <json>` — standing materialized view over distributive GROUP BY
    * aggregates ([[graft.ops.MatView]]): one grouped pass, #groups-row
    * artifact, spec RECORDED beside it so refresh can verify. Spec:
    * {"keys": [...], "aggs": [{"fn": "sum|count|min|max",
    * "expr": "...", "alias": "..."}]}. */
  private def matviewCreate(t: String): String = {
    val (head, specJson) = specClause(t, "matview create",
      "matview create requires spec =")
    val table = reqArg(head, "table", "matview create")
    val path = reqArg(head, "path", "matview create")
    val (keys, aggs) = graft.ops.MatView.specFromJson(specJson)
    val base = catalog.table(table)
    // lineage watermark: the highest tsd_id snapshot the create saw —
    // committed BOTH as a `wm_` version tag (survives an emptied
    // state, like the jmv/index families) and as the rider column on
    // the state rows (the pre-tag layout, kept for AS-OF readers).
    // -1 when the table carries no tsd lineage.
    val wm0 = mvTableWm(base)
    import org.apache.spark.sql.functions.lit
    val state = graft.ops.MatView.partials(base, keys, aggs)
      .withColumn(graft.ops.MatView.WatermarkCol, lit(wm0))
    val rows = graft.ops.IndexStore.write(state.localCheckpoint(), path,
      wmTag(wm0))
    graft.ops.IndexStore.write(spark.range(1).select(
      lit(graft.ops.MatView.specToJson(keys, aggs)).as("spec")),
      mvSpecDir(path))
    matviews += table -> graft.dialect.MatViewServe.Meta(path, keys, aggs)
    catalog.recordArtifact(s"matview:$path",
      s"matview attach where table = $table and path = $path")
    val n = graft.ops.IndexStore.read(spark, path).get.count()
    s"matview created at $path: $n groups (version $rows)"
  }

  /** `matview attach where table = <t> and path = <dir>` — re-register
    * an existing matview for SQL serving after a restart (the spec is
    * recovered from the recorded sidecar — attach needs no knowledge
    * of the original create). */
  private def matviewAttach(t: String): String = {
    val table = reqArg(t, "table", "matview attach")
    val path = reqArg(t, "path", "matview attach")
    val (keys, aggs) = mvRecordedSpec(path)
    matviews += table -> graft.dialect.MatViewServe.Meta(path, keys, aggs)
    s"matview attached for $table at $path (keys ${keys.mkString(",")})"
  }

  /** `matview refresh where path = <dir> and source = <table|path>` —
    * fold a batch into the standing view (count/sum add, min/max
    * lattice-join) under the RECORDED spec. Batch-sized work; base
    * history never rescanned. */
  private def matviewRefresh(t: String): String = {
    val path = reqArg(t, "path", "matview refresh")
    val (keys, aggs) = mvRecordedSpec(path)
    val state = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no matview at $path"))
    val wm = mvWmOf(path, state)
    val src = tableOrPath(reqArg(t, "source", "matview refresh"))
    // a lineage-stamped batch advances the watermark (so a manual
    // refresh of a crash-missed batch keeps sync exact); an unstamped
    // batch leaves it alone
    val newWm = if (wm >= 0) math.max(wm, mvTableWm(src)) else wm
    foldMatview(graft.dialect.MatViewServe.Meta(path, keys, aggs), state,
      src, newWm)
    val n = graft.ops.IndexStore.read(spark, path).get.count()
    s"matview refreshed at $path: $n groups"
  }

  /** Fold `delta` into matview `m`'s `state` and commit it with `tags`,
    * carrying `newWm` as the rider column and the `wm_` tag. The commit
    * is the fold's one action, so nothing is checkpointed. */
  private def foldMatview(m: graft.dialect.MatViewServe.Meta,
      state: DataFrame, delta: DataFrame, newWm: Long,
      tags: Seq[String] = Nil): Long =
    graft.ops.IndexStore.write(graft.ops.MatView.fold(stripWm(state),
        graft.ops.MatView.partials(delta, m.keys, m.aggs), m.keys, m.aggs)
      .withColumn(graft.ops.MatView.WatermarkCol, lit(newWm)),
      m.path, tags ++ wmTag(newWm))

  /** Parse the delete set of a `… delete` command: either an inline
    * `ids = (v1, v2, …)` literal list (longs, else strings) or
    * `source = <table|path>` with an optional `id = <col>` naming the
    * id column (defaults to `defaultIdCol`, else the frame's first
    * column). */
  private def deleteIdsFrame(t: String,
      defaultIdCol: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    "(?i)\\bids\\s*=\\s*\\(([^)]*)\\)".r.findFirstMatchIn(t) match {
      case Some(m) =>
        val raw = m.group(1).split(",").map(_.trim).filter(_.nonEmpty)
        require(raw.nonEmpty, "empty ids = (…) list")
        import spark.implicits._
        if (raw.forall(_.matches("-?\\d+")))
          raw.map(_.toLong).toSeq.toDF("id")
        else raw.map(_.stripPrefix("'").stripSuffix("'")).toSeq
          .toDF("id")
      case None =>
        val src = arg(t, "source").getOrElse(throw new IllegalArgumentException(
            "delete requires ids = (…) or source = <table|path>"))
        val f = tableOrPath(src)
        val idc = arg(t, "id")
          .orElse(defaultIdCol.filter(f.columns.contains))
          .getOrElse(f.columns.head)
        f.select(col(idc))
    }
  }

  /** `matview delete where path = <dir> and source = <table|path>`
    * (or `ids = (…)` is NOT accepted here — deletes are whole rows,
    * so the spec's key/agg expressions must evaluate over them) —
    * fold a tombstone batch OUT of the standing view under the
    * RECORDED spec ([[graft.ops.MatView.foldDelete]]): count/sum
    * subtract, zero-count groups retire. A spec recording min/max
    * fails LOUDLY (not self-maintainable under deletes — the IVM
    * boundary); a delete batch that is not a subset of folded rows is
    * detected (negative count) and aborted with the original state
    * intact. */
  private def matviewDelete(t: String): String = {
    val path = reqArg(t, "path", "matview delete")
    val (keys, aggs) = mvRecordedSpec(path)
    val state = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no matview at $path"))
    val wm = mvWmOf(path, state) // deletes don't advance ingest lineage
    import org.apache.spark.sql.functions.{col, lit}
    // only rows the view has FOLDED (tsd_id <= wm) ever contributed
    // partials — subtracting an unfolded row would silently
    // under-count (the drop-partition/jmv-delete as-of discipline);
    // lineage-less frames fall through unfiltered
    val dels0 = tableOrPath(reqArg(t, "source", "matview delete"))
    val dels =
      if (wm >= 0 && dels0.columns.contains("tsd_id"))
        dels0.filter(col("tsd_id").cast("long") <= wm)
      else dels0
    val folded = graft.ops.MatView.foldDelete(stripWm(state),
      dels, keys, aggs)
      .withColumn(graft.ops.MatView.WatermarkCol, lit(wm))
      .localCheckpoint()
    val cntAlias = aggs.find(_.fn == "count").get.alias
    val negGroups = folded.filter(col(cntAlias) < 0).count()
    require(negGroups == 0L,
      s"matview delete: $negGroups group(s) went count-negative — the " +
        "delete batch is not a subset of previously folded rows; " +
        "aborted, original state intact")
    graft.ops.IndexStore.write(folded, path, wmTag(wm))
    s"matview deleted at $path: ${folded.count()} groups remain"
  }

  private def jmvRecordedSpec(path: String): graft.ops.JoinMatView.Spec = {
    val row = graft.ops.IndexStore.read(spark, mvSpecDir(path)).getOrElse(
      throw new IllegalArgumentException(s"no join matview at $path")).head()
    graft.ops.JoinMatView.specFromJson(row.getAs[String]("spec"))
  }

  /** Resolve (delta frame, other side's CURRENT snapshot) for a
    * `join matview refresh/delete` command: the side comes from
    * `side = left|right`, the delta from `source = <table|path>`,
    * and the OTHER side is the catalog table the spec recorded —
    * maintenance always joins a batch-sized delta against the other
    * side as of now, never re-joins the base. */
  private def jmvDeltaArgs(t: String, cmd: String)
      : (graft.ops.JoinMatView.Spec, String, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame, String) = {
    val path = reqArg(t, "path", s"join matview $cmd")
    val spec = jmvRecordedSpec(path)
    val side = reqArg(t, "side", s"join matview $cmd").toLowerCase
    require(side == "left" || side == "right",
      s"side must be left|right (got $side)")
    val otherName = if (side == "left") spec.right else spec.left
    require(otherName.nonEmpty,
      "recorded spec lacks the other side's table name")
    // delta returned RAW (system columns intact) — the caller reads
    // the tsd lineage for the watermark advance, then strips
    (spec, path, tableOrPath(reqArg(t, "source", s"join matview $cmd")),
      catalog.table(otherName), side)
  }

  /** `join matview create where path = <dir> and spec = {"left":
    * <table>, "right": <table>, "on": [[lcol, rcol]...], "keys":
    * [...], "aggs": [...]}` — standing materialized view over an
    * inner equi-join ([[graft.ops.JoinMatView]]): one join+group
    * pass at create, #groups-row artifact, spec recorded beside it;
    * every later fold joins only the DELTA against the other side. */
  private def joinMatviewCreate(t: String): String = {
    val (head, specJson) = specClause(t, "join matview create",
      "join matview create requires spec =")
    val path = reqArg(head, "path", "join matview create")
    val spec = graft.ops.JoinMatView.specFromJson(specJson)
    require(spec.left.nonEmpty && spec.right.nonEmpty,
      "join matview spec requires left and right table names")
    // per-side lineage watermarks: the highest tsd_id snapshot each
    // side contributed at create — committed WITH every fold so
    // `join matview sync` can replay exactly the missed rows per side
    val (wmL0, wmR0) = (mvTableWm(catalog.table(spec.left)),
      mvTableWm(catalog.table(spec.right)))
    import org.apache.spark.sql.functions.lit
    val state = graft.ops.JoinMatView.create(
      noSysCols(catalog.table(spec.left)),
      noSysCols(catalog.table(spec.right)), spec)
      .withColumn(graft.ops.JoinMatView.WmLeftCol, lit(wmL0))
      .withColumn(graft.ops.JoinMatView.WmRightCol, lit(wmR0))
    val rows = graft.ops.IndexStore.write(state.localCheckpoint(), path,
      jmvWmTags(wmL0, wmR0))
    import org.apache.spark.sql.functions.lit
    graft.ops.IndexStore.write(spark.range(1).select(
      lit(graft.ops.JoinMatView.specToJson(spec)).as("spec")),
      mvSpecDir(path))
    joinMatviews += path -> spec
    catalog.recordArtifact(s"join matview:$path",
      s"join matview attach where path = $path")
    val n = graft.ops.IndexStore.read(spark, path).get.count()
    s"join matview created at $path: $n groups (version $rows)"
  }

  /** `join matview attach where path = <dir>` — re-register an
    * existing join matview (spec recovered from the sidecar) so the
    * ingest auto-fold sees it after a restart. */
  private def joinMatviewAttach(t: String): String = {
    val path = reqArg(t, "path", "join matview attach")
    val spec = jmvRecordedSpec(path)
    joinMatviews += path -> spec
    s"join matview attached at $path (${spec.left} ⋈ ${spec.right})"
  }

  /** The tsd system columns the ingest path stamps — plus `__par`,
    * the physical partition-layout column of time-partitioned
    * tables — stripped from both sides of every join-matview fold so
    * two stamped/partitioned tables don't trip the
    * disjoint-column-names requirement (the view is over the logical
    * columns; specs must not reference these). */
  private def noSysCols(df: org.apache.spark.sql.DataFrame) =
    df.drop("row_id", "insert_timestamp", "tsd_name", "tsd_id", "__par")

  /** `join matview refresh where path = <dir> and side = left|right
    * and source = <table|path>` — fold an INSERT delta on one side:
    * the delta (broadcast) joins the OTHER side's current catalog
    * table, grouped partials fold into the state. Both-side batches
    * are two refreshes in sequence (left first, then right — the
    * left fold makes the left table current for the right delta). */
  private def joinMatviewRefresh(t: String): String = {
    val (spec, path, delta, other, side) = jmvDeltaArgs(t, "refresh")
    val state = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no join matview at $path"))
    import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
    val (wmL, wmR) = jmvWmsOf(path, state)
    val wmOther = if (side == "left") wmR else wmL
    // ORDERING GUARD (enforced, not a comment): this fold joins the
    // delta against the other side's CURRENT snapshot. If the other
    // side holds rows ABOVE its recorded watermark (its own batch
    // appended but not yet folded), the cross delta ΔA⋈ΔB would fold
    // here AND again when the other side's delta folds — silent
    // double-count. Refuse and direct to the decomposition that folds
    // it exactly once.
    if (wmOther >= 0 && mvTableWm(other) > wmOther)
      throw new IllegalStateException(
        s"join matview refresh at $path: the ${if (side == "left") "right"
          else "left"} side has unfolded rows above its watermark " +
          s"($wmOther) — folding this $side delta against its current " +
          "snapshot would double-count the cross delta; run `join " +
          s"matview sync where path = $path` (it folds both sides' " +
          "missed rows exactly once)")
    // a lineage-stamped delta advances this side's watermark (mirrors
    // matview refresh: a manual refresh of a crash-missed batch keeps
    // sync exact); an unstamped delta leaves it alone
    val wmSide = if (side == "left") wmL else wmR
    val newWmSide =
      if (wmSide >= 0) math.max(wmSide, mvTableWm(delta)) else wmSide
    val (newL, newR) =
      if (side == "left") (newWmSide, wmR) else (wmL, newWmSide)
    // `broadcast = false`: a backfill-sized delta must not broadcast
    // (driver/executor memory) — AQE picks the shuffle strategy instead
    val bc = "(?i)\\bbroadcast\\s*=\\s*false".r.findFirstIn(t).isEmpty
    import org.apache.spark.sql.functions.lit
    val folded = graft.ops.JoinMatView.refresh(stripWm(state),
        noSysCols(delta), noSysCols(other), spec, side,
        broadcastDelta = bc)
      .withColumn(WmLeftCol, lit(newL))
      .withColumn(WmRightCol, lit(newR))
      .localCheckpoint()
    graft.ops.IndexStore.write(folded, path, jmvWmTags(newL, newR))
    s"join matview refreshed at $path: ${folded.count()} groups"
  }

  /** `join matview sync where path = <dir>` — the jmv twin of
    * `matview sync`: fold, for each lineage-carrying side, EXACTLY the
    * base rows above that side's recorded watermark (batches appended
    * while auto refresh was off, or lost to a crash between append and
    * fold), advancing both watermarks in the same IndexStore commit.
    * Uses the disjoint Gupta–Mumick decomposition
    * ΔL ⋈ R_old  ∪  ΔR ⋈ (L_old ∪ ΔL) — R_old reconstructed from the
    * CURRENT right table by its watermark (tsd_id <= wmR) — so a
    * pending delta on BOTH sides folds the cross term ΔL⋈ΔR exactly
    * once. Idempotent: a second sync finds nothing above either
    * watermark. */
  private def joinMatviewSync(t: String): String = {
    val path = reqArg(t, "path", "join matview sync")
    val spec = joinMatviews.getOrElse(path, jmvRecordedSpec(path))
    jmvSyncFold(path, spec, None)
  }

  /** The watermark-driven jmv reconcile body (see [[joinMatviewSync]]);
    * also the auto-fold's fallback when it detects a lineage anomaly.
    * With `batchTag` set the commit is exactly-once under replay. */
  private def jmvSyncFold(path: String,
      spec: graft.ops.JoinMatView.Spec,
      batchTag: Option[String]): String = {
    import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
    import org.apache.spark.sql.functions.{col, lit}
    val state = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no join matview at $path"))
    val (wmL, wmR) = jmvWmsOf(path, state)
    require(wmL >= 0 || wmR >= 0,
      s"join matview at $path carries no lineage watermark on either " +
        "side (created over tables without tsd_id system columns, a " +
        "pre-watermark artifact, or an emptied state) — sync cannot " +
        "prove which rows are folded; rebuild with `join matview create`")
    val leftT = catalog.table(spec.left)
    val rightT = catalog.table(spec.right)
    def deltaOf(tbl: org.apache.spark.sql.DataFrame, wm: Long) =
      if (wm >= 0 && tbl.columns.contains("tsd_id"))
        tbl.filter(col("tsd_id").cast("long") > wm).localCheckpoint()
      else tbl.limit(0)
    val (dL, dR) = (deltaOf(leftT, wmL), deltaOf(rightT, wmR))
    val (nL, nR) = (dL.count(), dR.count())
    if (nL == 0L && nR == 0L)
      s"join matview at $path in sync (watermarks $wmL/$wmR)"
    else {
      // R_old: the right side AS OF its watermark — the snapshot the
      // left delta must join so ΔL⋈ΔR isn't also counted by the
      // right-delta fold below (which joins the FULL current left)
      val rightOld =
        if (wmR >= 0 && rightT.columns.contains("tsd_id"))
          rightT.filter(col("tsd_id").cast("long") <= wmR)
        else rightT
      var st = stripWm(state)
      if (nL > 0) st = graft.ops.JoinMatView.refresh(st, noSysCols(dL),
        noSysCols(rightOld), spec, "left")
      if (nR > 0) st = graft.ops.JoinMatView.refresh(st, noSysCols(dR),
        noSysCols(leftT), spec, "right")
      val newL = if (wmL >= 0) mvTableWm(leftT) else wmL
      val newR = if (wmR >= 0) mvTableWm(rightT) else wmR
      val folded = st.withColumn(WmLeftCol, lit(newL))
        .withColumn(WmRightCol, lit(newR)).localCheckpoint()
      graft.ops.IndexStore.write(folded, path,
        batchTag.toSeq ++ jmvWmTags(newL, newR))
      s"join matview at $path synced: $nL left + $nR right missed " +
        s"row(s) folded, watermarks $wmL/$wmR -> $newL/$newR"
    }
  }

  /** `join matview delete where path = <dir> and side = left|right
    * and source = <table|path>` — fold a DELETE batch on one side
    * out of the view: count/sum subtract the partials of
    * `deletes_asof ⋈ other_asof`, zero-count groups retire; min/max
    * specs refuse loudly (IVM boundary), and a non-subset batch is
    * detected (negative count) and aborted with the state intact.
    * The as-of discipline is ENFORCED, not an ordering convention:
    * both the delete batch and the other side are filtered to their
    * recorded lineage watermarks (`tsd_id <= wm`) so unfolded rows on
    * either side never enter the subtraction. */
  private def joinMatviewDelete(t: String): String = {
    val (spec, path, dels, other, side) = jmvDeltaArgs(t, "delete")
    val state = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no join matview at $path"))
    import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
    // deletes don't advance ingest lineage — watermarks ride through
    val (wmL, wmR) = jmvWmsOf(path, state)
    val (wmSide, wmOther) =
      if (side == "left") (wmL, wmR) else (wmR, wmL)
    // the state holds partials of L_asof(wmL) ⋈ R_asof(wmR), so the
    // subtractive fold mirrors BOTH snapshots (same as the
    // drop-partition path, ADVICE r12): (a) only delete rows this
    // side had folded (tsd_id <= wmSide) ever contributed pairs —
    // unfolded rows subtract nothing; (b) those pairs joined the
    // other side AS OF ITS watermark — joining the current other
    // table would subtract deletes ⋈ Δother partials the state never
    // contained, a silent under-count the count-negative check
    // cannot see. Lineage-less frames fall through unfiltered.
    import org.apache.spark.sql.functions.{col, lit}
    val delsAsOf =
      if (wmSide >= 0 && dels.columns.contains("tsd_id"))
        dels.filter(col("tsd_id").cast("long") <= wmSide)
      else dels
    val otherAsOf =
      if (wmOther >= 0 && other.columns.contains("tsd_id"))
        other.filter(col("tsd_id").cast("long") <= wmOther)
      else other
    val bc = "(?i)\\bbroadcast\\s*=\\s*false".r.findFirstIn(t).isEmpty
    val folded = graft.ops.JoinMatView.delete(stripWm(state),
        noSysCols(delsAsOf), noSysCols(otherAsOf), spec, side,
        broadcastDelta = bc)
      .withColumn(WmLeftCol, lit(wmL))
      .withColumn(WmRightCol, lit(wmR))
      .localCheckpoint()
    val cntAlias = spec.aggs.find(_.fn == "count").get.alias
    val negGroups = folded.filter(col(cntAlias) < 0).count()
    require(negGroups == 0L,
      s"join matview delete: $negGroups group(s) went count-negative — " +
        "the delete batch is not a subset of previously folded rows; " +
        "aborted, original state intact")
    graft.ops.IndexStore.write(folded, path, jmvWmTags(wmL, wmR))
    s"join matview deleted at $path: ${folded.count()} groups remain"
  }

  /** Fold an ingest batch into every registered standing aggregate
    * artifact over `table` — matviews (watermark advanced in the SAME
    * IndexStore commit), rollups, and join matviews (the batch is the
    * delta side; the other side joins as of now). Called from
    * [[ingest]] after the table append commits, when auto refresh is
    * on. A failed fold NEVER fails the ingest (the rows are already
    * durable; failing here would make a retrying client re-PUT a
    * payload the hash-gate then drops as a duplicate — the fold would
    * be lost for good): it lands in [[autoFoldErrors]] (surfaced by
    * `get view auto refresh`) and `matview sync` / a manual refresh
    * of the missed batch reconciles exactly. */
  private def autoFoldViews(table: String,
      batch: org.apache.spark.sql.DataFrame, tsdId: Int): Unit =
    foldStandingViews(table, batch, tsdId, None)

  /** Fold a batch into every registered standing aggregate artifact
    * over `table` — the PUT auto-fold's body, public so a STREAMING
    * ingest chain can keep views fresh too. With `batchTag` set
    * (e.g. `stream_<table>_<foreachBatch id>`) every fold is
    * EXACTLY-ONCE under at-least-once replay: the tag commits inside
    * the artifact's new version BEFORE its commit marker (the
    * [[graft.ops.IndexStore]] tag protocol — no state where the fold
    * landed but the tag didn't), and a batch whose tag is visible on
    * a live version is skipped. The two-version lookback covers
    * checkpointed Structured Streaming's retry-the-last-batch
    * discipline; see [[graft.streaming.StreamIngest.startViewFoldSink]]
    * for the sink wrapper. Fold errors are recorded, never thrown
    * (see [[autoFoldViews]] rationale). `tsdId` < 0 leaves matview
    * lineage watermarks untouched (a stream batch carries no tsd
    * lineage; `matview sync` stays scoped to the PUT path). */
  def foldStandingViews(table: String,
      batch: org.apache.spark.sql.DataFrame, tsdId: Int = -1,
      batchTag: Option[String] = None): Unit = tableLocked(table) {
    // streaming sinks call this from Spark's micro-batch thread while
    // users PUT/sync on others — the read-fold-commit cycles below
    // must not interleave per artifact (reentrant from ingest's locks)
    import org.apache.spark.sql.functions.lit
    def tagged(path: String): Boolean = batchTag.exists(t =>
      graft.ops.IndexStore.hasTag(spark, path, t))
    // the tsd_id ingest stamped on every batch row; -1: no lineage
    val batchWm =
      if (tsdId >= 0 && batch.columns.contains("tsd_id")) tsdId.toLong
      else -1L
    matviews.get(table).foreach { m =>
      try if (!tagged(m.path)) {
        val state = stateAt(m.path, "matview state")
        val wm = mvWmOf(m.path, state)
        // LINEAGE GAP CHECK: a ledger entry for this table strictly
        // between the view's watermark and this batch means a batch
        // was appended but never folded (auto refresh was off, or its
        // fold failed/crashed). Folding THIS batch alone and advancing
        // the watermark would orphan those rows FOREVER — `matview
        // sync` filters tsd_id > wm, finds nothing, and reports "in
        // sync" while the view silently diverges. On a gap, fold the
        // sync slice (every table row above the watermark — the
        // current batch is already appended and is included) instead
        // of the batch alone; the common contiguous path stays
        // batch-sized.
        val gapped = wm >= 0 && batchWm > wm &&
          tsdLedger.list(Some(table))
            .exists(e => e.fileId > wm && e.fileId < batchWm)
        val (deltaRows, newWm) =
          if (gapped) {
            val base = catalog.table(table)
            (base.filter(col("tsd_id").cast("long") > wm),
              mvTableWm(base))
          } else (batch, if (wm >= 0) math.max(wm, batchWm) else wm)
        foldMatview(m, state, deltaRows, newWm, batchTag.toSeq)
      } catch { case e: Exception =>
        foldError(s"matview $table (${m.path}): ${e.getMessage}")
      }
    }
    joinMatviews.foreach { case (path, spec) =>
      val side = if (spec.left == table) Some("left")
        else if (spec.right == table) Some("right") else None
      side.foreach { sd =>
        try if (!tagged(path)) {
          import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
          val state = stateAt(path, "join matview")
          val (wmL, wmR) = jmvWmsOf(path, state)
          val (wmSide, wmOther) = if (sd == "left") (wmL, wmR) else (wmR, wmL)
          val otherName = if (sd == "left") spec.right else spec.left
          val otherT = catalog.table(otherName)
          // two lineage anomalies route to the sync decomposition
          // instead of the batch-vs-other-current fold: (a) a gap on
          // THIS side (same orphaned-batch hazard as the matview
          // branch); (b) unfolded rows on the OTHER side — batch ⋈
          // other_current would count Δthis⋈Δother now AND again when
          // the other side folds (the double-count the refresh guard
          // refuses on the command surface)
          val sideGap = wmSide >= 0 && batchWm > wmSide &&
            tsdLedger.list(Some(table))
              .exists(e => e.fileId > wmSide && e.fileId < batchWm)
          val otherPending = wmOther >= 0 && mvTableWm(otherT) > wmOther
          if (sideGap || otherPending) jmvSyncFold(path, spec, batchTag)
          else {
            val newWmSide =
              if (wmSide >= 0) math.max(wmSide, batchWm) else wmSide
            val (newL, newR) =
              if (sd == "left") (newWmSide, wmR) else (wmL, newWmSide)
            val folded = graft.ops.JoinMatView.refresh(stripWm(state),
                noSysCols(batch), noSysCols(otherT), spec, sd)
              .withColumn(WmLeftCol, lit(newL))
              .withColumn(WmRightCol, lit(newR))
            graft.ops.IndexStore.write(folded, path,
              batchTag.toSeq ++ jmvWmTags(newL, newR))
          }
        } catch { case e: Exception =>
          foldError(s"join matview $table ($path): ${e.getMessage}")
        }
      }
    }
    // ---- standing INDEX families: a PUT into a vindex/tindex/sindex-
    // backed table must keep the index serving the new rows too —
    // round-10 left these on manual refresh, so a PUT silently staled
    // BM25/ANN serving. Same error discipline (record, never throw),
    // same exactly-once tag protocol; the tindex/sindex folds are
    // additionally idempotent by construction (per-doc replace /
    // bottom-k lattice union).
    // on a lineage gap (a batch appended but never folded — the same
    // ledger check as the matview branch) the fold takes the sync
    // slice instead of the batch alone, so the artifact's wm_ tag
    // never advances past an unfolded batch. Beside the delta it
    // returns the delta's watermark where it is known without a scan:
    // a contiguous batch's is the tsd_id ingest just stamped
    def indexDelta(artifactPath: String)
        : (org.apache.spark.sql.DataFrame, Option[Long]) = {
      val wm = indexWmOf(artifactPath)
      val gapped = wm >= 0 && batchWm > wm &&
        tsdLedger.list(Some(table))
          .exists(e => e.fileId > wm && e.fileId < batchWm)
      if (gapped)
        (catalog.table(table).filter(col("tsd_id").cast("long") > wm), None)
      else (batch, Some(batchWm).filter(_ >= 0))
    }
    // a replay skips an artifact only when every one of its stores
    // carries the tag (a fold commits its sidecars after the main store)
    families.flatMap(_.get(table)).foreach { a =>
      try if (!a.stores.forall(tagged)) {
        val (delta, deltaWm) = indexDelta(a.path)
        a.fold(delta, batchTag, deltaWm)
      } catch { case e: Exception =>
        foldError(s"${a.word} $table (${a.path}): ${e.getMessage}")
      }
    }
  }

  /** `matview sync where table = <t>` — the crash-exact reconcile:
    * fold exactly the table rows whose `tsd_id` lies above the view's
    * recorded watermark (batches appended while auto refresh was off,
    * or lost to a crash between a table append and its auto-fold),
    * advancing the watermark in the same commit. Idempotent: a second
    * sync is a no-op. Refuses loudly when the view carries no lineage
    * watermark (base table without system columns, pre-watermark
    * artifact, or a state emptied by deletes) — rebuild with `matview
    * create` instead; and refuses a table without a `tsd_id` column. */
  private def matviewSync(t: String): String = {
    val table = reqArg(t, "table", "matview sync")
    val m = matviews.getOrElse(table, throw new IllegalArgumentException(
      s"no matview registered for $table — matview create/attach first"))
    val state = graft.ops.IndexStore.read(spark, m.path).getOrElse(
      throw new IllegalArgumentException(s"no matview state at ${m.path}"))
    val wm = mvWmOf(m.path, state)
    require(wm >= 0,
      s"matview for $table has no lineage watermark (created over a " +
        "table without tsd_id system columns, or a pre-tag artifact " +
        "whose state was emptied by deletes) — sync cannot prove which " +
        "rows are folded; rebuild with `matview create`")
    val base = catalog.table(table)
    require(base.columns.contains("tsd_id"),
      s"table $table carries no tsd_id column — sync cannot identify " +
        "missed batches")
    import org.apache.spark.sql.functions.col
    val missed = base.filter(col("tsd_id").cast("long") > wm)
    val nMissed = missed.count()
    if (nMissed == 0L) s"matview for $table in sync (watermark $wm)"
    else {
      val newWm = mvTableWm(base)
      foldMatview(m, state, missed, newWm)
      s"matview for $table synced: $nMissed missed row(s) folded, " +
        s"watermark $wm -> $newWm"
    }
  }

  /** `artifact verify where table = <t>` — the TRUST-BUT-VERIFY audit
    * closing the IVM loop: for every registered standing artifact over
    * the table whose rebuild recipe is deterministic, rebuild from the
    * CURRENT base and diff against the standing state (`exceptAll`
    * both directions — row-exact, not count-exact). EXACT means the
    * whole fold history (create, auto-folds, syncs, deletes, partition
    * drops) reproduced the one-shot rebuild; DIVERGED names the row
    * counts on each side and the reconcile command. Artifacts whose
    * rebuild is NOT comparable refuse honestly: vindex geometry (PQ
    * books / IVF centroids / SQ8 grid) is create-time-frozen — a
    * rebuild would retrain it, so recall probes are that family's
    * audit; monitor tail state is arrival-order-sensitive. Cost: one
    * base pass per artifact — an operator-invoked audit, not a serving
    * path. */
  private def artifactVerify(t: String): String = {
    val table = reqArg(t, "table", "artifact verify")
    import org.apache.spark.sql.functions.col
    val out = Seq.newBuilder[String]
    def diff(label: String, state: org.apache.spark.sql.DataFrame,
        rebuilt: org.apache.spark.sql.DataFrame, fix: String): Unit = {
      // align column ORDER (fold plans and rebuild plans may project
      // the same columns differently)
      val cols = rebuilt.columns.toSeq
      val st = state.select(cols.map(col): _*)
      val extra = st.exceptAll(rebuilt).count()
      val missing = rebuilt.exceptAll(st).count()
      if (extra == 0L && missing == 0L)
        out += s"$label: VERIFIED exact (${rebuilt.count()} rows == rebuild)"
      else out += s"$label: DIVERGED — $extra state-only row(s), " +
        s"$missing rebuild-only row(s); $fix"
    }
    def stored(path: String) = stateAt(path, "artifact")
    def attempt(label: String)(body: => Unit): Unit =
      try body
      catch { case e: Exception =>
        out += s"$label: verify FAILED — ${e.getMessage}" }
    val base = catalog.table(table)
    matviews.get(table).foreach(m => attempt(s"matview ${m.path}") {
      diff(s"matview ${m.path}", stripWm(stored(m.path)),
        graft.ops.MatView.partials(base, m.keys, m.aggs),
        "run `matview sync` (missed adds) or rebuild with `matview create`")
    })
    joinMatviews.foreach { case (p, spec) =>
      if (spec.left == table || spec.right == table)
        attempt(s"join matview $p") {
          diff(s"join matview $p", stripWm(stored(p)),
            graft.ops.JoinMatView.create(
              noSysCols(catalog.table(spec.left)),
              noSysCols(catalog.table(spec.right)), spec),
            "run `join matview sync` or rebuild with `join matview create`")
        }
    }
    families.flatMap(_.get(table)).foreach { a =>
      val label = s"${a.word} ${a.path}"
      a.rebuild match {
        case Right(build) => attempt(label)(
          diff(label, stored(a.path), build(base), a.fix))
        case Left(why) =>
          out += s"$label: verify REFUSED by construction ($why)"
      }
    }
    monitors.get(table).foreach(m => out +=
      s"monitor ${m.path}: verify REFUSED by construction (tail state " +
        "is arrival-order-sensitive)")
    val lines = out.result()
    if (lines.isEmpty) s"no standing artifacts registered for $table"
    else lines.mkString("\n")
  }

  /** `sync all where table = <t>` — one command reconciling EVERY
    * registered standing artifact over a table after a crash or an
    * auto-refresh-off window: matview sync, join matview sync (each
    * jmv the table participates in), and every standing-index family's
    * sync ([[families]]).
    * Per-artifact tolerant — one artifact without lineage reports its
    * refusal while the rest still reconcile (the operational pairing
    * of `attach all`: restart recovery re-registers the fleet, sync
    * all catches it up). */
  private def syncAll(t: String): String = {
    val table = reqArg(t, "table", "sync all")
    val out = Seq.newBuilder[String]
    def attempt(label: String)(body: => String): Unit =
      out += (try body
        catch { case e: Exception => s"FAILED $label: ${e.getMessage}" })
    if (matviews.contains(table))
      attempt(s"matview $table")(
        matviewSync(s"matview sync where table = $table"))
    joinMatviews.foreach { case (p, spec) =>
      if (spec.left == table || spec.right == table)
        attempt(s"join matview $p")(jmvSyncFold(p, spec, None))
    }
    families.filter(_.get(table).isDefined).foreach(f =>
      attempt(s"${f.word} $table")(familySync(f, t)))
    // honest refusal, not a silent skip: CUSUM tail state is
    // order-sensitive — replaying missed rows out of arrival order
    // would change the monitor's level (the documented boundary)
    monitors.get(table).foreach(m => out +=
      s"monitor $table (${m.path}): sync REFUSED by construction " +
        "(order-sensitive tail state — use monitor refresh in arrival " +
        "order, or monitor create to rebuild)")
    val lines = out.result()
    if (lines.isEmpty) s"no standing artifacts registered for $table"
    else lines.mkString("\n")
  }

  /** `<family> sync where table = <t>` for a standing-index family —
    * the twin of `matview sync`: fold exactly the table rows whose
    * tsd_id lies above the artifact's `wm_` lineage tag (batches
    * appended while auto refresh was off, or lost between append and
    * fold), advancing the tag in the same IndexStore commit.
    * Idempotent; refuses loudly without lineage. */
  private def familySync(f: Family[_], t: String): String = {
    val kind = f.word
    val table = reqArg(t, "table", s"$kind sync")
    val a = f(table)
    val wm = indexWmOf(a.path)
    require(wm >= 0,
      s"$kind for $table carries no lineage watermark (created over a " +
        "table without tsd_id system columns, or a pre-watermark " +
        s"artifact) — sync cannot prove which rows are folded; rebuild " +
        s"with `$kind create`")
    val base = catalog.table(table)
    require(base.columns.contains("tsd_id"),
      s"table $table carries no tsd_id column — sync cannot identify " +
        "missed batches")
    val missed = base.filter(col("tsd_id").cast("long") > wm)
    val n = missed.count()
    if (n == 0L) s"$kind for $table in sync (watermark $wm)"
    else {
      a.fold(missed.localCheckpoint(), None)
      s"$kind for $table synced: $n missed row(s) folded, " +
        s"watermark $wm -> ${indexWmOf(a.path)}"
    }
  }

  /** Generic standing-artifact VERSION surface — works on ANY
    * IndexStore-backed artifact (matview, join matview, rollup,
    * vindex, tindex, sindex, shingle/simhash index, graph folds):
    *
    *  - `index versions where path = <dir>` — committed versions,
    *    current marker, per-version tags (the audit listing).
    *  - `index retain where path = <dir> and keep = <n>` — deepen the
    *    AS-OF history; later writes keep the newest n committed
    *    versions. Floor 2 (the concurrent-reader / exactly-once-tag
    *    lookback). Set BEFORE the writes you need to audit.
    *  - `index get where path = <dir> [and version = <n>] [and format
    *    = table]` — read the live state, or the EXACT state any
    *    retained version committed (right-to-be-forgotten audits:
    *    "what did this artifact serve before batch N folded / after
    *    the delete landed"). A pruned version refuses loudly. */
  private def indexVersions(t: String): String = {
    val path = reqArg(t, "path", "index command")
    val vs = graft.ops.IndexStore.committedVersions(spark, path)
    if (vs.isEmpty) s"no committed versions at $path"
    else {
      val cur = vs.max
      vs.map { v =>
        val tags = graft.ops.IndexStore.tagsOf(spark, path, v)
        val tagStr = if (tags.isEmpty) "" else
          s" tags=${tags.sorted.mkString(",")}"
        s"v=$v${if (v == cur) " (current)" else ""}$tagStr"
      }.mkString("\n") +
        s"\nretention ${graft.ops.IndexStore.retention(spark, path)}"
    }
  }

  private def indexRetain(t: String): String = {
    val path = reqArg(t, "path", "index command")
    val keep = reqArg(t, "keep", "index retain").toInt
    graft.ops.IndexStore.setRetention(spark, path, keep)
    s"retention at $path set to $keep committed versions"
  }

  private def indexGet(t: String): String = {
    val path = reqArg(t, "path", "index command")
    val df = arg(t, "version") match {
      case Some(v) =>
        graft.ops.IndexStore.readVersion(spark, path, v.toLong)
      case None => graft.ops.IndexStore.read(spark, path).getOrElse(
        throw new IllegalArgumentException(s"no artifact at $path"))
    }
    // no spec knowledge here (any artifact kind): deterministic
    // render order by every column left-to-right
    import org.apache.spark.sql.functions.col
    val out = stripWm(df)
    rendered(t, out.orderBy(out.columns.map(col).toSeq: _*))
  }

  /** `join matview get where path = <dir> [and format = table]`. */
  private def joinMatviewGet(t: String): String = {
    val path = reqArg(t, "path", "join matview get")
    val spec = jmvRecordedSpec(path)
    val df = stripWm(graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no join matview at $path")))
    import org.apache.spark.sql.functions.col
    val out = df.orderBy(spec.keys.map(col): _*)
    rendered(t, out)
  }

  /** Background-service board for `get processes`
    * (member_cmd.py:8521 get_processes_stat: every service reports
    * Running / Not declared plus a details line). Components
    * self-register on start — [[HttpFrontend.start]] registers
    * "REST Server", `run msg client` registers "Msg Client", `run
    * scheduler` shows through [[taskScheduler]] — and the board also
    * carries the honest NOT-declared rows (TCP block protocol,
    * Kafka) with their scope/environment receipts as details. */
  private val services = new java.util.concurrent.ConcurrentHashMap[
    String, (() => Boolean, () => String)]()

  def registerService(name: String, active: () => Boolean,
      details: () => String): Unit = services.put(name, (active, details))

  private def processesReport(json: Boolean): String = {
    import scala.jdk.CollectionConverters._
    val dynamic = services.asScala.toMap
    // fixed board order, reference get_processes_stat
    val board: Seq[(String, () => Boolean, () => String)] = Seq(
      ("TCP Server", () => false,
        () => "out of parity scope (SURVEY: the reference's native " +
          "block protocol; Spark exchanges replace it)"),
      ("REST Server", () => false, () => ""),
      ("Operator", () => dataDir.isDefined,
        () => dataDir.fold("")(d => s"ingest root $d")),
      ("Message Broker", () => false, () => ""),
      ("Msg Client", () => msgClients.synchronized(msgClients.nonEmpty),
        () => msgClients.synchronized {
          if (msgClients.isEmpty) ""
          else {
            val reconnecting =
              msgClients.valuesIterator.count(c => !c.isConnected)
            s"${msgClients.size} client(s)" +
              (if (reconnecting > 0) s" ($reconnecting reconnecting)"
               else "")
          }
        }),
      ("Streamer", () => false, () => ""),
      ("Scheduler", () => taskScheduler.ids.exists(taskScheduler.isRunning),
        () => { val on = taskScheduler.ids.filter(taskScheduler.isRunning)
          if (on.isEmpty) "" else s"scheduler id(s) ${on.mkString(", ")}" }),
      ("Blockchain Sync", () => false,
        () => "policy store is local and synchronous here (no " +
          "background sync thread needed)"),
      ("Kafka Consumer", () => false,
        () => "start with `run kafka consumer where ip = .. and " +
          "port = .. and topic = .. and dir = ..` (native wire-" +
          "protocol client — no connector jar needed)"),
      ("PLC Client", () => false,
        () => "start with `run plc client where type = modbus and " +
          "hostname = .. and port = .. and name = .. and frequency " +
          "= .. and dir = .. and map = [..]` (native Modbus TCP " +
          "stack — no pymodbus equivalent needed)"))
    val rows = board.map { case (name, act, det) =>
      val (a, d) = dynamic.get(name).map(v => (v._1(), v._2()))
        .getOrElse((act(), det()))
      (name, if (a) "Running" else "Not declared", d)
    } ++ dynamic.keys.filterNot(board.map(_._1).contains).toSeq.sorted
      .map { n => val (a, d) = dynamic(n)
        (n, if (a()) "Running" else "Not declared", d()) }
    // user-supplied strings (topic names, watch-dir paths) reach the
    // details cell — escape them or a quote/backslash yields invalid
    // JSON output
    def jstr(s: String): String = Render.jsonStr(s)
    if (json)
      rows.map { case (n, st, d) =>
        val detail = if (d.isEmpty) "" else s""", "Details": ${jstr(d)}"""
        s"""${jstr(n)}: {"Status": ${jstr(st)}$detail}"""
      }.mkString("{", ", ", "}")
    else renderBoard(Seq("Process", "Status", "Details"),
      rows.map(r => Seq(r._1, r._2, r._3)))
  }

  /** Column-aligned status board (`| a | b |` rows under a header) —
    * the one renderer behind `get processes` and `get plc clients`. */
  private def renderBoard(header: Seq[String],
      rows: Seq[Seq[String]]): String = {
    val widths = header.indices.map(i =>
      (header(i) +: rows.map(_(i))).map(_.length).max)
    def line(cells: Seq[String]) =
      cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
        .mkString("| ", " | ", " |")
    (line(header) +: rows.map(line)).mkString("\n")
  }

  /** One live native Kafka consumer: poll thread + stop flag +
    * `health` ("" while polling cleanly; a consecutive-failure
    * summary once fetches start erroring, surfaced in `get
    * processes` details so a broker outage is visible on the board
    * instead of hiding behind a Running status). */
  private final class KafkaConsumerHandle(val topics: String,
      val client: graft.streaming.KafkaNativeClient,
      val stop: java.util.concurrent.atomic.AtomicBoolean,
      val artifactKey: String) {
    @volatile var thread: Thread = null
    val health = new java.util.concurrent.atomic.AtomicReference[String]("")
  }

  private val kafkaConsumers = scala.collection.mutable.ArrayBuffer
    .empty[KafkaConsumerHandle]

  /** `run kafka consumer where ip = <host> and port = <n> and
    * topic = <t>[,<t2>…] and dir = <landing> [and reset =
    * earliest|latest] [and poll = <ms>]` — the reference's Kafka
    * client mode (cmd/member_cmd.py:21481, api/al_kafka.py:124-226:
    * subscribe and continuously poll, `reset` = auto_offset_reset),
    * over the NATIVE v0 wire client — no connector jar. Every polled
    * message value lands as one NDJSON file in the watch dir, so the
    * ordinary watch-dir → mapping-policy → table chain takes over:
    * the same downstream as `run msg client`, making Kafka vs MQTT
    * purely a which-transport choice (the reference routes both
    * through the same mapping machinery). */
  private def runKafkaConsumer(t: String): String = {
    val host = reqArg(t, "ip", "run kafka consumer")
    val port = reqArg(t, "port", "run kafka consumer").toInt
    val topics = reqArg(t, "topic", "run kafka consumer").split(",")
      .map(_.trim).filter(_.nonEmpty).toSeq
    val dir = java.nio.file.Paths.get(reqArg(t, "dir", "run kafka consumer"))
    java.nio.file.Files.createDirectories(dir)
    val earliest =
      arg(t, "reset").map(_.toLowerCase).getOrElse("latest") match {
        case "earliest" => true
        case "latest" => false
        case other => throw new IllegalArgumentException(
          s"reset must be earliest|latest, got $other")
      }
    val pollMs = arg(t, "poll").map(_.toLong).getOrElse(500L)
    // one live consumer per topic per OFFSET JOURNAL: the journal is
    // keyed (topic, partition) under the catalog root, so a second
    // consumer of the same topic — from this engine OR another engine
    // over the same root — would clobber the first's cursor and turn
    // its restart resume into silent message loss. The claim registry
    // is JVM-wide and keyed by the root (Engine.kafkaTopicClaims), as
    // wide as the journal it protects; the reference gets the same
    // exclusion from its consumer group — here the journal scope IS
    // the group. Claims release on exit and on poll-thread death.
    // idempotent on an IDENTICAL re-declaration: `attach all` (or a
    // retried command) while THIS engine already polls these topics
    // under the same command is a no-op; a CONFLICTING re-declaration
    // (same topics, different dir/reset/poll) is refused loudly —
    // silently keeping the old config would make the new command a
    // 200-status lie
    kafkaConsumers.synchronized {
      val mine = kafkaConsumers.filter(_.thread.isAlive)
        .map(_.topics).toSet
      if (mine.contains(topics.mkString(", "))) {
        val key = s"kafka consumer:${topics.mkString(",")}"
        val recorded = catalog.artifactRecord(key)
        require(recorded.contains(t.trim),
          s"kafka consumer for ${topics.mkString(", ")} already " +
            "running with a different configuration — exit it first " +
            s"(recorded: ${recorded.getOrElse("?")})")
        return s"kafka consumer already polling ${topics.mkString(", ")}"
      }
    }
    val claimScope = Engine.claimScope(catalog, this)
    val scopeClaims = Engine.kafkaTopicClaims.computeIfAbsent(claimScope,
      _ => new java.util.concurrent.ConcurrentHashMap[
        String, java.lang.Boolean]())
    val claimed = scala.collection.mutable.ArrayBuffer.empty[String]
    topics.foreach { tp =>
      if (scopeClaims.putIfAbsent(tp, java.lang.Boolean.TRUE) != null) {
        claimed.foreach(scopeClaims.remove(_)) // roll back partial claims
        throw new IllegalArgumentException(
          s"kafka consumer already polling topic $tp against this " +
            "offset journal — exit it first (the per-topic journal " +
            "admits one cursor per metadata root)")
      }
      claimed += tp
    }
    val client = new graft.streaming.KafkaNativeClient(host, port)
    // connectivity + auto-create probe; enumerate EVERY partition the
    // Metadata response reports (not just partition 0) and seed each
    // partition's starting offset independently. Partition counts are
    // RE-PROBED periodically in the loop: a repartitioned topic's new
    // partitions are picked up live (seeded from earliest — everything
    // in a NEW partition is data this consumer has never seen,
    // whatever the initial reset policy was). A probe failure here
    // (broker down) must release the topic claims before propagating,
    // or the failed connect would block every retry forever.
    val (partCount, offsets) =
      try {
        val pc = scala.collection.mutable.Map(
          topics.map(tp => tp -> client.partitions(tp)): _*)
        // seed order: the catalog's journaled cursor FIRST (the
        // offset after the last batch this node landed — a restarted
        // consumer resumes there, re-ingesting nothing), then the
        // reset policy for a partition never consumed here before
        val off = scala.collection.mutable.Map(topics.flatMap { tp =>
          (0 until pc(tp)).map(p =>
            (tp, p) -> catalog.kafkaOffset(tp, p)
              .getOrElse(client.listOffset(tp, earliest, p)))
        }: _*)
        (pc, off)
      } catch {
        case e: Throwable =>
          topics.foreach(scopeClaims.remove(_))
          try client.close()
          catch { case scala.util.control.NonFatal(_) => () }
          throw e
      }
    // high-water marks from the last fetch, for the board's lag figure
    val hws = scala.collection.mutable.Map.empty[(String, Int), Long]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val epoch = java.lang.Long.toHexString(System.nanoTime())
    val artifactKey = s"kafka consumer:${topics.mkString(",")}"
    val handle = new KafkaConsumerHandle(topics.mkString(", "),
      client, stop, artifactKey)
    // consecutive-failure streaks PER (topic, partition) — a healthy
    // partition's success must not erase the degraded status of a
    // persistently failing sibling (poll-thread-private)
    val errStreaks =
      scala.collection.mutable.Map.empty[(String, Int), Int]
    val th = new Thread(() => try {
      var rounds = 0L
      while (!stop.get()) {
        var drained = true
        // partition re-probe every ~50 rounds (one Metadata exchange
        // per topic — control-plane cheap at any poll interval)
        if (rounds % 50 == 49) topics.foreach { tp =>
          try {
            val now = client.partitions(tp)
            val known = partCount(tp)
            if (now > known) {
              (known until now).foreach { p =>
                offsets((tp, p)) = catalog.kafkaOffset(tp, p).getOrElse(
                  client.listOffset(tp, earliest = true, p))
              }
              partCount(tp) = now
              logRing(eventLog, (System.currentTimeMillis,
                s"kafka consumer $tp: discovered partitions " +
                  s"$known..${now - 1}"))
            }
          } catch { case _: Exception => () } // next probe retries
        }
        rounds += 1
        val parts = topics.flatMap(tp =>
          (0 until partCount(tp)).map(p => tp -> p))
        parts.foreach { case (tp, p) =>
          try {
            val (msgs, hw) = client.fetch(tp, offsets((tp, p)),
              partition = p)
            hws((tp, p)) = hw
            errStreaks.remove((tp, p))
            if (msgs.nonEmpty) {
              // one NDJSON landing per FETCH batch (the reference's
              // consumer also lands poll batches, not single records,
              // api/al_kafka.py:158-226 buffering) — messages are
              // one-line JSON docs, the line-oriented contract the
              // whole watch-dir chain already has. A payload with an
              // embedded newline (pretty-printed JSON) would land as
              // SEVERAL broken lines, so violators are re-serialized
              // compact (still exactly one row per message); a payload
              // that is not JSON at all routes to <dir>/err intact —
              // it must neither corrupt the landing nor be dropped
              // silently.
              val lines = msgs.flatMap { m =>
                val raw = new String(m._3,
                  java.nio.charset.StandardCharsets.UTF_8)
                normalizeNdjsonPayload(raw).orElse {
                  quarantinePayload(dir,
                    s"k${epoch}_${tp.replaceAll("[^A-Za-z0-9]", "_")}" +
                      s"_${p}_${m._1}.bad", raw,
                    s"kafka consumer $tp/$p",
                    s"offset ${m._1}")
                  None
                }
              }
              if (lines.nonEmpty) {
                val f = dir.resolve(s"k${epoch}_${n.incrementAndGet()}_" +
                  s"${tp.replaceAll("[^A-Za-z0-9]", "_")}_$p.json")
                graft.streaming.Landing.write(f, lines.mkString("\n"))
              }
              offsets((tp, p)) = msgs.last._1 + 1
              // journal AFTER the landing: a crash between the two
              // re-delivers at most this one batch
              catalog.saveKafkaOffset(tp, p, msgs.last._1 + 1)
              drained = false
            }
          } catch {
            case graft.streaming.KafkaOffsetOutOfRange(_, _, _) =>
              // broker retention truncated past our offset: re-seed
              // from the surviving log start (al_kafka.py's
              // auto_offset_reset recovery) instead of spinning on
              // the dead offset forever
              try {
                val seeded = client.listOffset(tp, earliest = true, p)
                logRing(eventLog, (System.currentTimeMillis,
                  s"kafka consumer $tp/$p: offset out of range, " +
                    s"re-seeded to $seeded"))
                offsets((tp, p)) = seeded
                drained = false // retry the fetch promptly
              } catch { case e: Exception =>
                logRing(errorLog, (System.currentTimeMillis,
                  s"kafka consumer $tp/$p reseed",
                  Option(e.getMessage).getOrElse(""))) }
            case e: Exception =>
              errStreaks((tp, p)) = errStreaks.getOrElse((tp, p), 0) + 1
              logRing(errorLog, (System.currentTimeMillis,
                s"kafka consumer $tp/$p",
                Option(e.getMessage).getOrElse("")))
          }
        }
        // board health, recomputed once per round from ALL partitions:
        // degraded streaks first (one healthy partition cannot erase a
        // failing sibling's status), then the consumer-lag figure
        // (messages the broker holds that this consumer hasn't landed)
        val lag = offsets.iterator.map { case (k, o) =>
          math.max(hws.getOrElse(k, o) - o, 0L) }.sum
        val degraded = errStreaks.toSeq.sortBy(_._1)
        handle.health.set(
          if (degraded.nonEmpty) {
            val ((dt, dp), k) = degraded.head
            s"degraded: $dt/$dp x$k" +
              (if (degraded.size > 1) s" (+${degraded.size - 1} more)"
               else "") +
              (if (lag > 0) s"; lag $lag" else "")
          } else if (lag > 0) s"lag $lag" else "")
        if (drained && !stop.get())
          try Thread.sleep(pollMs)
          catch { case _: InterruptedException => stop.set(true) }
      }
      client.close()
    } finally {
      // release the journal-scope claims however the loop ends — a
      // dead consumer must not block a replacement
      topics.foreach(scopeClaims.remove(_))
    }, s"graft-kafka-consumer-$epoch")
    th.setDaemon(true)
    handle.thread = th
    th.start()
    kafkaConsumers.synchronized { kafkaConsumers += handle }
    // the ingest topology is part of the standing fleet: `attach all`
    // after an engine restart re-issues this exact command, and the
    // offset journal makes the resumed consumer land nothing twice
    // (an explicit `exit kafka consumer` drops the record — a stopped
    // service must stay stopped)
    catalog.recordArtifact(artifactKey, t.trim)
    registerService("Kafka Consumer",
      () => kafkaConsumers.synchronized(
        kafkaConsumers.exists(_.thread.isAlive)),
      () => kafkaConsumers.synchronized(
        kafkaConsumers.filter(_.thread.isAlive).map { h =>
          val hlth = h.health.get()
          if (hlth.isEmpty) h.topics else s"${h.topics} ($hlth)"
        }.mkString("; ")))
    s"kafka consumer polling ${topics.mkString(", ")} at $host:$port " +
      s"(reset ${if (earliest) "earliest" else "latest"}, landing in $dir)"
  }

  /** The line-oriented landing contract, enforced at EVERY message
    * transport (Kafka consumer, MQTT msg client): every payload is
    * parsed — a valid single-line JSON doc passes through verbatim, a
    * valid multiline (pretty-printed) doc re-serializes compact, and
    * a non-JSON payload returns None so the caller can quarantine it
    * (it must neither corrupt the NDJSON landing nor vanish
    * silently). The parse is µs on sensor-doc sizes; downstream
    * re-parses every line anyway. */
  private def normalizeNdjsonPayload(raw: String): Option[String] =
    try {
      val parsed = org.json4s.jackson.JsonMethods.parse(raw)
      Some(
        if (raw.indexOf('\n') < 0 && raw.indexOf('\r') < 0) raw
        else org.json4s.jackson.JsonMethods.compact(parsed))
    } catch { case _: Exception => None }

  /** Route a contract-violating payload to the err dir BESIDE the
    * watch dir (`<dir>.err` — never inside it: the streamer's file
    * source lists the watch dir and must not see .bad files as data)
    * and record the event in the error ring. */
  private def quarantinePayload(dir: java.nio.file.Path, name: String,
      raw: String, who: String, where: String): Unit = {
    val ed = dir.resolveSibling(dir.getFileName.toString + ".err")
    java.nio.file.Files.createDirectories(ed)
    graft.streaming.Landing.write(ed.resolve(name), raw)
    logRing(errorLog, (System.currentTimeMillis, who,
      s"non-JSON payload at $where routed to $ed"))
  }

  /** `exit kafka consumer` — stop every native consumer loop.
    * Cooperative first, forceful second: the stop flag alone lets an
    * in-flight LANDING (file write + offset journal) finish — an
    * interrupt during that window would abort the write via
    * `ClosedByInterruptException` AFTER bytes hit disk but BEFORE the
    * offset journals, re-landing the batch on restart. Only a thread
    * still alive after the grace join (parked in the poll sleep or a
    * wedged socket) gets interrupted. */
  private def exitKafkaConsumer(): String = {
    val victims = kafkaConsumers.synchronized {
      val v = kafkaConsumers.toList; kafkaConsumers.clear(); v
    }
    victims.foreach(_.stop.set(true))
    victims.foreach(_.thread.join(1500))
    victims.foreach { h => if (h.thread.isAlive) h.thread.interrupt() }
    victims.foreach(_.thread.join(2000))
    victims.foreach(h => catalog.removeArtifact(h.artifactKey))
    s"stopped ${victims.size} kafka consumer(s)"
  }

  /** One live PLC poller: poll thread + stop flag + the board
    * counters the reference keeps per client (clients_info_,
    * api/plc_client.py:270-276 — protocol, status, frequency,
    * Reads). `reads` counts LANDED polls only: an empty poll (every
    * point failed) lands nothing and does not count, the reference's
    * PLC_modbus_empty_poll semantics. */
  private final class PlcClientHandle(val name: String,
      val protocol: String, val frequency: Double,
      val stop: java.util.concurrent.atomic.AtomicBoolean,
      val artifactKey: String, val command: String) {
    @volatile var thread: Thread = null
    @volatile var status: String = "running"
    val reads = new java.util.concurrent.atomic.AtomicLong
    val health = new java.util.concurrent.atomic.AtomicReference[String]("")
  }

  // insertion-ordered and RETAINING terminated entries, like the
  // reference's clients_info_ (a terminated client stays on the
  // board and its name becomes reusable)
  private val plcClients = scala.collection.mutable.LinkedHashMap
    .empty[String, PlcClientHandle]

  /** `map = [ ... ]` is a bracketed JSON value with spaces — the \S+
    * option grammar cannot carry it; take the balanced bracket span
    * (string-literal aware, so a `]` inside a name does not close
    * early). */
  private def modbusMapJson(t: String): String = {
    val m = "(?i)\\bmap\\s*=\\s*\\[".r.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(
        "plc command requires map = [ ... ]"))
    val from = m.end - 1
    var depth = 0; var i = from; var end = -1; var inStr = false
    while (i < t.length && end < 0) {
      val c = t.charAt(i)
      if (inStr) {
        if (c == '\\') i += 1
        else if (c == '"') inStr = false
      } else c match {
        case '"' => inStr = true
        case '[' => depth += 1
        case ']' => depth -= 1; if (depth == 0) end = i
        case _ => ()
      }
      i += 1
    }
    require(end > from, "plc command: unbalanced brackets in map =")
    t.substring(from, end + 1)
  }

  /** `run plc client where type = modbus and hostname = <h> and
    * port = <p> and name = <id> and frequency = <sec> and dir =
    * <landing> [and device_id = <unit>] [and timeout = <ms>] [and
    * table = <t> | and dynamic = true] and map = [ ... ]` — the
    * reference's industrial
    * poller (`run plc client`, cmd/member_cmd.py:21390,
    * api/plc_client.py:219) for its Modbus TCP connector
    * (api/modbus_client.py): every `frequency` seconds read the map's
    * points over a native Modbus TCP client (graft wire stack, no
    * pymodbus), decode long/float/byte + swap/scale/offset, and land
    * ONE wide NDJSON row per poll — {"timestamp", "duration",
    * <name>: value, ...} — in the watch dir, where the ordinary
    * streamer → mapping-policy → table chain takes over (the same
    * downstream as the Kafka and MQTT transports; the reference
    * routes all three through add_data). With `dynamic = true` (and
    * no table), each point lands its own row in a
    * `{name}_{field}` subdirectory — one table per map point
    * (modbus_client.py:92 modbus_dynamic_table_name).
    *
    * Reads are BATCHED: single-address points of one kind merge into
    * contiguous block reads (ModbusMap.plan), so a wide map costs a
    * handful of TCP round-trips per poll. A failed point drops its
    * column from that row (never a null placeholder); a poll where
    * EVERY point fails lands nothing and does not count a Read. The
    * reference's opcua/etherip types are declared out of parity
    * scope (SURVEY §2.1) — only `type = modbus` is accepted. */
  private def runPlcClient(t: String): String = {
    import graft.streaming.{ModbusMap, ModbusTcpClient}
    val ptype = reqArg(t, "type", "run plc client").toLowerCase
    require(ptype == "modbus",
      s"run plc client: type $ptype is out of parity scope " +
        "(SURVEY §2.1) — only type = modbus is supported")
    val host = reqArg(t, "hostname", "run plc client")
    val port = reqArg(t, "port", "run plc client").toInt
    val name = reqArg(t, "name", "run plc client")
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    val freq = reqArg(t, "frequency", "run plc client").toDouble
    require(freq > 0, "frequency must be > 0 seconds")
    val dir = java.nio.file.Paths.get(reqArg(t, "dir", "run plc client"))
    java.nio.file.Files.createDirectories(dir)
    val dynamic = arg(t, "dynamic").exists(_.equalsIgnoreCase("true"))
    val table = arg(t, "table")
    require(!(dynamic && table.isDefined),
      "run plc client: dynamic = true cannot be combined with " +
        "table = ... (omit table =)")
    val points = ModbusMap.parse(modbusMapJson(t))
    // the read plan is immutable for the life of the client — compile
    // once here, reuse every poll cycle (SCALING.md's 'compiles ONCE')
    val compiledPlan = ModbusMap.plan(points)
    val ops = compiledPlan._1
    // idempotent on an IDENTICAL re-declaration (the attach-all
    // replay path); a conflicting re-declaration of a RUNNING name is
    // refused loudly (the reference refuses duplicate client names,
    // api/plc_client.py:287); a terminated client's name is reusable
    val artifactKey = s"plc client:$name"
    plcClients.synchronized {
      plcClients.get(name).filter(_.status == "running").foreach { h =>
        require(h.command == t.trim,
          s"plc client $name already running with a different " +
            s"configuration — exit it first (recorded: ${h.command})")
        return s"plc client $name already polling"
      }
    }
    val client = new ModbusTcpClient(host, port,
      timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
    client.connect() // fail fast on an unreachable server
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val handle = new PlcClientHandle(name, ptype, freq, stop,
      artifactKey, t.trim)
    val epoch = java.lang.Long.toHexString(System.nanoTime())
    val n = new java.util.concurrent.atomic.AtomicInteger
    val isoUtc = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    val errStreaks = scala.collection.mutable.Map.empty[String, Int]
    def pollOnce(): Boolean = {
      import org.json4s._
      val t0 = System.currentTimeMillis
      val read = ModbusMap.readAll(client, unit, points, compiledPlan)
      val t1 = System.currentTimeMillis
      val decoded: Seq[(String, JValue)] = read.flatMap {
        case (p, Right(v)) =>
          errStreaks.remove(p.name)
          Some(p.name -> v)
        case (p, Left(err)) =>
          // failed point: omit the column (no null placeholder),
          // surface the streak on the board like the Kafka loop
          errStreaks(p.name) = errStreaks.getOrElse(p.name, 0) + 1
          logRing(errorLog, (System.currentTimeMillis,
            s"plc client $name ${p.tag}", err))
          None
      }
      handle.health.set(
        if (errStreaks.isEmpty) ""
        else {
          val (worstName, k) = errStreaks.maxBy(_._2)
          s"degraded: $worstName x$k" +
            (if (errStreaks.size > 1) s" (+${errStreaks.size - 1} more)"
             else "")
        })
      if (decoded.isEmpty) return false // empty poll: no land, no Read
      val ts = JString(isoUtc.format(java.time.Instant.ofEpochMilli(t0)))
      if (dynamic) {
        decoded.foreach { case (field, v) =>
          val sub = dir.resolve(ModbusMap.dynamicTableName(name, field))
          java.nio.file.Files.createDirectories(sub)
          val row = JObject(List("timestamp" -> ts, "value" -> v))
          graft.streaming.Landing.write(
            sub.resolve(s"p${epoch}_${n.incrementAndGet()}.json"),
            org.json4s.jackson.JsonMethods.compact(row))
        }
      } else {
        val row = JObject(
          ("timestamp" -> ts) :: ("duration" -> JLong(t1 - t0)) ::
            decoded.toList)
        graft.streaming.Landing.write(
          dir.resolve(s"p${epoch}_${n.incrementAndGet()}.json"),
          org.json4s.jackson.JsonMethods.compact(row))
      }
      true
    }
    val th = new Thread(() => try {
      while (!stop.get()) {
        val began = System.currentTimeMillis
        try { if (pollOnce()) handle.reads.incrementAndGet() }
        catch { case scala.util.control.NonFatal(e) =>
          logRing(errorLog, (System.currentTimeMillis,
            s"plc client $name poll",
            Option(e.getMessage).getOrElse(e.getClass.getSimpleName))) }
        // sliced sleep: a long frequency must not pin `exit plc`
        // against the grace join — the stop flag is honored within
        // ~50 ms without resorting to an interrupt mid-landing
        var leftMs = (math.max(freq -
          (System.currentTimeMillis - began) / 1000.0, 0) * 1000).toLong
        while (!stop.get() && leftMs > 0) {
          val nap = math.min(leftMs, 50L)
          try Thread.sleep(nap)
          catch { case _: InterruptedException => stop.set(true) }
          leftMs -= nap
        }
      }
    } finally {
      handle.status = "terminated"
      try client.close()
      catch { case scala.util.control.NonFatal(_) => () }
    }, s"graft-plc-$name")
    th.setDaemon(true)
    handle.thread = th
    th.start()
    plcClients.synchronized { plcClients(name) = handle }
    // the ingest topology is part of the standing fleet: `attach
    // all` after an engine restart re-issues this exact command (an
    // explicit `exit plc` drops the record)
    catalog.recordArtifact(artifactKey, t.trim)
    registerService("PLC Client",
      () => plcClients.synchronized(
        plcClients.valuesIterator.exists(_.status == "running")),
      () => plcClients.synchronized {
        plcClients.valuesIterator.filter(_.status == "running").map { h =>
          val hl = h.health.get()
          s"${h.name} (${h.protocol})" + (if (hl.isEmpty) "" else s" $hl")
        }.mkString("; ")
      })
    s"plc client $name polling $host:$port every ${freq}s " +
      s"(${points.size} point(s) in ${ops.size} read(s), " +
      s"landing in $dir)"
  }

  /** `get plc clients` — the reference's status board
    * (api/plc_client.py:99): Client Name | Protocol | Status |
    * Frequency | Reads. Terminated clients stay listed. */
  private def getPlcClients(): String = {
    val rows = plcClients.synchronized {
      plcClients.valuesIterator.map(h =>
        Seq(h.name, h.protocol, h.status, h.frequency.toString,
          h.reads.get.toString)).toSeq
    }
    if (rows.isEmpty) return "no plc clients declared"
    renderBoard(Seq("Client Name", "Protocol", "Status", "Frequency",
      "Reads"), rows)
  }

  /** `get plc values where type = modbus and hostname = <h> and
    * port = <p> [and device_id = <unit>] and map = [ ... ]` — the
    * reference's ONE-SHOT read (`get plc values`,
    * api/plc_client.py:627): connect, execute one batched poll
    * cycle, render each point's decoded value (or its error) as one
    * JSON object, disconnect. The diagnostic twin of `run plc
    * client` — same map grammar, same decode, no landing. */
  private def getPlcValues(t: String): String = {
    import graft.streaming.{ModbusMap, ModbusTcpClient}
    val ptype = reqArg(t, "type", "get plc values").toLowerCase
    require(ptype == "modbus",
      s"get plc values: type $ptype is out of parity scope " +
        "(SURVEY §2.1) — only type = modbus is supported")
    val points = ModbusMap.parse(modbusMapJson(t))
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    val client = new ModbusTcpClient(reqArg(t, "hostname", "get plc values"),
      reqArg(t, "port", "get plc values").toInt,
      timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
    try {
      client.connect()
      import org.json4s._
      val fields = ModbusMap.readAll(client, unit, points).map {
        case (p, Right(v)) => p.name -> v
        case (p, Left(err)) =>
          p.name -> JObject(List("error" -> JString(err)))
      }
      org.json4s.jackson.JsonMethods.compact(JObject(fields.toList))
    } finally client.close()
  }

  /** `get plc struct where type = modbus and hostname = <h> and
    * port = <p> [and device_id = <unit>] [and max_registers = <n>]
    * [and scan_chunk = <n>] [and format = nodes|map|get_value|
    * run_client] [and name/frequency/table/dir = ..]` — the
    * reference's device DISCOVERY (`modbus_struct` + chunked
    * `discover_all_points`, api/modbus_client.py:906-1065): probe the
    * four point kinds in chunk-sized block reads over address 0..max,
    * collect the readable addresses, and render them as canonical
    * tags (`nodes`), a ready-to-edit register map (`map`, default), or
    * a ready-to-run command (`get_value` / `run_client`). Chunk
    * granularity matches the reference: a chunk read that trips
    * ILLEGAL DATA ADDRESS marks the whole chunk unreadable and the
    * scan moves on. */
  private def getPlcStruct(t: String): String = {
    import graft.streaming.{ModbusError, ModbusTcp, ModbusTcpClient}
    val ptype = reqArg(t, "type", "get plc struct").toLowerCase
    require(ptype == "modbus",
      s"get plc struct: type $ptype is out of parity scope " +
        "(SURVEY §2.1) — only type = modbus is supported")
    val host = reqArg(t, "hostname", "get plc struct")
    val port = reqArg(t, "port", "get plc struct").toInt
    val unit = arg(t, "device_id").map(_.toInt).getOrElse(1)
    // reference defaults: 50 addresses probed in chunks of 10
    val maxAddr = math.max(1, math.min(
      arg(t, "max_registers").map(_.toInt).getOrElse(50), 65536))
    val chunk = math.max(1, math.min(
      arg(t, "scan_chunk").map(_.toInt).getOrElse(10),
      ModbusTcp.MaxRegistersPerRead))
    val format = arg(t, "format").map(_.toLowerCase).getOrElse("map")
    require(Seq("nodes", "map", "get_value", "run_client")
      .contains(format),
      s"get plc struct: format $format (expected nodes, map, " +
        "get_value, or run_client)")
    val client = new ModbusTcpClient(host, port,
      timeoutMs = arg(t, "timeout").map(_.toInt).getOrElse(5000))
    // ILLEGAL DATA ADDRESS is per-chunk information (the device
    // answered: nothing there) — a TRANSPORT failure is not. An
    // accepting-but-unresponsive endpoint would otherwise cost a
    // socket timeout per chunk across four kind scans, an unbounded
    // stall under user-set max_registers/scan_chunk; two consecutive
    // transport failures abort the whole discovery instead.
    var transportDead = false
    val tags = try {
      client.connect()
      def scan(prefix: String,
          read: (Int, Int) => IndexedSeq[Int]): Seq[(String, Int)] = {
        val found = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
        var addr = 0
        var ioStreak = 0
        while (addr < maxAddr && !transportDead) {
          val count = math.min(chunk, maxAddr - addr)
          try {
            val vals = read(addr, count)
            ioStreak = 0
            (0 until vals.length).foreach(i => found += ((prefix, addr + i)))
          } catch {
            case ModbusError(_, _) => ioStreak = 0 // device answered
            case _: java.io.IOException =>
              ioStreak += 1
              if (ioStreak >= 2) transportDead = true
          }
          addr += count
        }
        found.toSeq
      }
      scan("hr", (a, c) => client.readHoldingRegisters(unit, a, c)) ++
        scan("ir", (a, c) => client.readInputRegisters(unit, a, c)) ++
        scan("c", (a, c) => client.readCoils(unit, a, c)) ++
        scan("di", (a, c) => client.readDiscreteInputs(unit, a, c))
    } finally client.close()
    require(!transportDead,
      s"get plc struct: $host:$port stopped answering mid-scan " +
        "(transport failures on consecutive chunk reads) — discovery " +
        "aborted; check the device and retry")
    require(tags.nonEmpty,
      "get plc struct: discovery found no readable addresses in the " +
        s"configured range (device_id=$unit, max_registers=$maxAddr) " +
        "— increase max_registers or set an explicit map")
    val sorted = tags.distinct.sortBy { case (p, a) => (p, a) }
    if (format == "nodes")
      return sorted.map { case (p, a) => s""""$p:$a"""" }
        .mkString("[", ", ", "]")
    val mapJson = sorted.map { case (p, a) =>
      val srcKey = p match {
        case "hr" => "register"
        case "ir" => "inputRegister"
        case "c" => "coil"
        case _ => "input"
      }
      s"""{"name": "${p}_$a", "$srcKey": $a}"""
    }.mkString("[", ", ", "]")
    format match {
      case "map" => mapJson
      case "get_value" =>
        s"get plc values where type = modbus and hostname = $host " +
          s"and port = $port and device_id = $unit and map = $mapJson"
      case _ =>
        val name = arg(t, "name").getOrElse("modbus_client")
        val freq = arg(t, "frequency").getOrElse("1")
        val table = arg(t, "table").getOrElse("modbus_readings")
        val dir = arg(t, "dir").getOrElse("plc_land")
        s"run plc client where type = modbus and hostname = $host " +
          s"and port = $port and device_id = $unit and " +
          s"frequency = $freq and name = $name and table = $table " +
          s"and dir = $dir and map = $mapJson"
    }
  }

  /** `exit plc <name|all>` — stop the named poller (or every
    * poller), reference cmd `exit plc 1` / `exit plc all`
    * (member_cmd.py:21942). Cooperative stop + interrupt out of the
    * frequency sleep; the artifact record drops so a stopped client
    * stays stopped across `attach all`. */
  private def exitPlc(t: String): String = {
    val who = t.trim.split("\\s+").drop(2).mkString(" ")
    require(who.nonEmpty, "usage: exit plc <name|all>")
    // the exit targets EVERY named handle, running or not: a client
    // whose thread died on its own still has an attach record, and an
    // explicit exit must drop it (a stopped service stays stopped
    // across `attach all`) — only the stop/join applies to live ones
    val named = plcClients.synchronized {
      if (who.equalsIgnoreCase("all")) plcClients.valuesIterator.toList
      else List(plcClients.get(who).getOrElse(
        throw new IllegalArgumentException(s"no plc client $who")))
    }
    val victims = named.filter(_.status == "running")
    // cooperative first (let an in-flight poll finish its landing —
    // an interrupt mid-write truncates the NDJSON file), forceful
    // for a thread still parked in the frequency sleep or a wedged
    // socket — the exit-kafka-consumer discipline
    victims.foreach(_.stop.set(true))
    victims.foreach { h => if (h.thread != null) h.thread.join(1500) }
    victims.foreach { h =>
      if (h.thread != null && h.thread.isAlive) h.thread.interrupt() }
    victims.foreach { h => if (h.thread != null) h.thread.join(2000) }
    // flip status HERE, not only in the poll thread's finally: a
    // thread wedged past the grace joins (blocked in a socket read —
    // interrupt cannot unblock java.io reads) would otherwise leave
    // the handle "running", making an immediate identical
    // re-declaration a silent no-op against a stop-flagged zombie
    named.foreach { h =>
      h.status = "terminated"
      catalog.removeArtifact(h.artifactKey)
    }
    s"stopped ${victims.size} plc client(s)"
  }

  /** `connect dbms <name> where type = jdbc and url = <jdbc-url> and
    * dbtable = <remote table> [and driver = <class>] [and user = ..]
    * [and password = ..] [and fetchsize = n] [and partition_column =
    * <col> and lower_bound = <n> and upper_bound = <n> and
    * num_partitions = <n>]` — register a table served by a FOREIGN
    * engine (the reference's `connect dbms` for its PI/OLEDB
    * connectors, `dbms/oledb_dbms.py:64-76` — there a dialect tweak
    * on a remote cursor; here the built-in Spark JDBC source, which
    * pushes filters + column pruning to the remote and, with the
    * partition quadruple, issues numPartitions parallel range-bounded
    * cursors — the 100 TB form of a foreign scan). The registered
    * name then behaves like any table: `sql edge "select ... from
    * <name> ..."`, joins, matview sources. */
  private def connectDbms(t: String): String = {
    val url = reqArg(t, "url", "connect dbms")
    // a JDBC URL's own query string can carry key=value pairs
    // (?user=x&password=y) — mask it before parsing command options,
    // or those pairs would be misread as command-level options
    val masked = t.replace(url, "<url>")
    val name = "(?i)^connect dbms\\s+(\\S+)".r.findFirstMatchIn(t.trim)
      .map(_.group(1)).getOrElse(throw new IllegalArgumentException(
        "connect dbms <name> where type = jdbc and url = ..."))
    // quoted values (a password may contain spaces) or bare tokens
    val tpe = quotedArg(masked, "type").map(_.toLowerCase).getOrElse("jdbc")
    require(tpe == "jdbc",
      s"connect dbms: only type = jdbc is supported here (got $tpe); " +
        "parquet-backed tables register through the data-dir/PUT path")
    val dbtable = quotedArg(masked, "dbtable").getOrElse(
      throw new IllegalArgumentException("connect dbms requires dbtable ="))
    // option pass-through, command-style keys -> Spark JDBC keys
    val optKeys = Seq(
      "driver" -> "driver", "user" -> "user", "password" -> "password",
      "fetchsize" -> "fetchsize",
      "partition_column" -> "partitionColumn",
      "lower_bound" -> "lowerBound", "upper_bound" -> "upperBound",
      "num_partitions" -> "numPartitions")
    val opts = optKeys.flatMap { case (cmdKey, sparkKey) =>
      quotedArg(masked, cmdKey).map(sparkKey -> _) }.toMap
    val partKeys = Seq("partitionColumn", "lowerBound", "upperBound",
      "numPartitions").count(opts.contains)
    require(partKeys == 0 || partKeys == 4,
      "connect dbms: partition_column, lower_bound, upper_bound and " +
        "num_partitions must be given together")
    // no explicit partition quadruple: AUTO-DERIVE it (a one-task
    // JDBC scan is the 100 TB anti-pattern). One cheap remote probe at
    // registration — schema via a WHERE 1=0 cursor, then MIN/MAX of
    // the first numeric column, computed BY the remote engine — fills
    // the triple; explicit options always win, and a probe failure
    // (no numeric column, empty table, exotic dialect) falls back to
    // the documented single-cursor scan rather than failing the
    // connect.
    val autoOpts =
      if (partKeys == 4) opts
      else opts ++ deriveJdbcPartitioning(url, dbtable, opts)
    catalog.registerJdbcTable(name, url, dbtable, autoOpts)
    // connectivity + schema probe now, not at first query
    val n = catalog.table(name).schema.fields.length
    s"dbms $name connected: jdbc $dbtable ($n columns" +
      (if (autoOpts.contains("numPartitions"))
         s", ${autoOpts("numPartitions")} parallel cursors" +
           (if (partKeys == 4) "" else
             s" (auto on ${autoOpts("partitionColumn")})")
       else ", single cursor — set partition_column/num_partitions " +
         "for a parallel scan") + ")"
  }

  /** Probe the remote once and derive the Spark JDBC parallel-scan
    * triple: first integral/decimal column (schema from a zero-row
    * cursor), MIN/MAX via one remote aggregate, numPartitions capped
    * by both local parallelism and the key span. Returns empty when
    * nothing derivable — the scan then stays single-cursor. */
  private def deriveJdbcPartitioning(url: String, dbtable: String,
      opts: Map[String, String]): Map[String, String] =
    try {
      val props = new java.util.Properties
      opts.get("user").foreach(props.setProperty("user", _))
      opts.get("password").foreach(props.setProperty("password", _))
      opts.get("driver").foreach(c => Class.forName(c))
      val conn = java.sql.DriverManager.getConnection(url, props)
      // HARD-bounded probe: `connect dbms` runs on the engine write
      // lock, so an unbounded MIN/MAX over an un-indexed remote would
      // stall every mutating command behind one connect.
      // setQueryTimeout is best-effort (drivers may not support it) —
      // the watchdog closes the CONNECTION at the deadline, which
      // aborts the in-flight statement in any driver; the resulting
      // SQLException falls into the outer catch -> single-cursor
      // fallback (the caller can still set the quadruple explicitly).
      val watchdog = new java.util.Timer("graft-jdbc-probe-watchdog", true)
      watchdog.schedule(new java.util.TimerTask {
        def run(): Unit =
          try conn.close()
          catch { case scala.util.control.NonFatal(_) => () }
      }, 30000L)
      try {
        val st = conn.createStatement()
        try st.setQueryTimeout(30)
        catch { case scala.util.control.NonFatal(_) => () } // driver opt
        val zero = st.executeQuery(
          s"SELECT * FROM $dbtable WHERE 1=0")
        val md = zero.getMetaData
        import java.sql.Types._
        val keyCol = (1 to md.getColumnCount).find { i =>
          md.getColumnType(i) match {
            case TINYINT | SMALLINT | INTEGER | BIGINT | DECIMAL |
                NUMERIC => true
            case _ => false
          }
        }.map(md.getColumnName)
        zero.close()
        keyCol match {
          case None => Map.empty
          case Some(c) =>
            val rs = st.executeQuery(
              s"SELECT MIN($c), MAX($c) FROM $dbtable")
            val out =
              if (!rs.next()) Map.empty[String, String]
              else {
                val lo = rs.getLong(1); val loNull = rs.wasNull()
                val hi = rs.getLong(2); val hiNull = rs.wasNull()
                if (loNull || hiNull || lo >= hi) Map.empty[String, String]
                else {
                  val maxUseful = math.min(hi - lo + 1,
                    spark.sparkContext.defaultParallelism.toLong)
                  val nParts = math.max(2L, math.min(8L, maxUseful))
                  Map("partitionColumn" -> c,
                    "lowerBound" -> lo.toString,
                    "upperBound" -> hi.toString,
                    "numPartitions" -> nParts.toString)
                }
              }
            rs.close(); out
        }
      } finally { watchdog.cancel(); conn.close() }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Live watch-dir streamers by table (`run streamer` /
    * `exit streamer`). */
  private val streamers = scala.collection.mutable.Map.empty[
    String, org.apache.spark.sql.streaming.StreamingQuery]
  def streamerQueries: Map[String,
    org.apache.spark.sql.streaming.StreamingQuery] =
    streamers.synchronized(streamers.toMap)

  /** `run streamer where dir = <watch> and table = <t> [and policy =
    * <id>] [and flush = <seconds>] [and archive = <dir>]` — the
    * reference's streamer/watch-dir background process as a COMMAND
    * (member_cmd.py:21339 `run streamer` writes buffered streaming
    * data through the mapping layer; the watch-dir → mapping-policy →
    * table chain is §2.1 row 10). One Structured Streaming query per
    * table: file-watch source (optionally archiving processed files),
    * policy mapping (or the registered schema when no policy), then
    * the TRANSACTIONAL sink — one foreachBatch owning both the
    * idempotent table append and the standing-view folds, so a
    * checkpoint replay duplicates neither. Shows on `get processes`
    * as Streamer and in `get streaming` as `streamer_<table>`. */
  private def runStreamer(t: String): String = {
    val dir = reqArg(t, "dir", "run streamer")
    val table = reqArg(t, "table", "run streamer")
    val flush = arg(t, "flush").map(_.toLong).getOrElse(60L)
    // idempotent on an IDENTICAL re-declaration (the attach-all
    // replay path); a conflicting one (same table, different
    // dir/policy/flush) is refused loudly
    streamers.synchronized {
      if (streamers.get(table).exists(_.isActive)) {
        val recorded = catalog.artifactRecord(s"streamer:$table")
        require(recorded.contains(t.trim),
          s"streamer for $table already running with a different " +
            s"configuration — exit it first " +
            s"(recorded: ${recorded.getOrElse("?")})")
        return s"streamer for $table already running"
      }
    }
    val raw = graft.streaming.StreamIngest.watchDir(spark, dir,
      archiveDir = arg(t, "archive"))
    val rows = arg(t, "policy") match {
      case Some(id) =>
        val pj = catalog.policy(id).getOrElse(
          throw new IllegalArgumentException(s"unknown mapping policy: $id"))
        graft.streaming.StreamIngest.pipeline(raw,
          graft.ingest.MappingPolicy.fromJson(pj))._1
      case None =>
        val schema = catalog.tableSchema(table).getOrElse(
          throw new IllegalArgumentException("run streamer without " +
            s"policy = requires table $table registered with a schema"))
        val user = org.apache.spark.sql.types.StructType(
          schema.fields.filterNot(f => Set("row_id", "insert_timestamp",
            "tsd_name", "tsd_id", "__par")(f.name)))
        raw.select(org.apache.spark.sql.functions.from_json(
          col("value"), user).as("r")).select("r.*")
    }
    val path = catalog.tablePath(table)
      .orElse(dataDir.map(r => s"$r/$table"))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown table $table — register it (or set a data dir) first"))
    if (catalog.tablePath(table).isEmpty)
      catalog.registerTable(table, path, Some(rows.schema))
    val q = graft.streaming.StreamIngest.startTransactionalSink(
      this, table, rows, path, s"${path}_ckpt_streamer", flush,
      name = Some(s"streamer_$table"))
    streamers.synchronized { streamers(table) = q }
    catalog.recordArtifact(s"streamer:$table", t.trim)
    registerService("Streamer",
      () => streamers.synchronized(streamers.values.exists(_.isActive)),
      () => streamers.synchronized(streamers.filter(_._2.isActive)
        .keys.toSeq.sorted.mkString(", ")))
    s"streamer for $table watching $dir (flush ${flush} s)"
  }

  /** `exit streamer [table]` — stop one table's streamer or all. */
  private def exitStreamer(t: String): String = {
    val which = "(?i)^exit streamer\\s+(\\S+)".r
      .findFirstMatchIn(t.trim).map(_.group(1))
    val victims = streamers.synchronized {
      which match {
        case Some(tb) => streamers.get(tb).map(tb -> _).toSeq
        case None => streamers.toSeq
      }
    }
    require(which.isEmpty || victims.nonEmpty,
      s"no streamer for ${which.get}")
    victims.foreach { case (tb, q) =>
      q.stop(); streamers.synchronized { streamers.remove(tb) }
      catalog.removeArtifact(s"streamer:$tb") }
    s"stopped ${victims.size} streamer(s)"
  }

  /** Archive dir for raw ingested payloads (hash-addressed; the
    * reference's archive of source files that HA copies between
    * peers). Rootless engines (no dataDir) keep no archive. */
  private def archiveRoot: Option[java.nio.file.Path] =
    dataDir.map(d => java.nio.file.Paths.get(d).resolve("archive"))

  /** `get tsd export` — the ledger as NDJSON, one object per batch:
    * the machine-readable form a PEER fetches over the command channel
    * to run the HA diff (the reference exchanges tsd_info rows the
    * same way, dbms/ha.py:19-35). */
  private def tsdExport(): String =
    tsdLedger.list(None).map { e =>
      // dbms/table/source/instructions are caller-supplied strings —
      // escaped, or one quote breaks the peer's NDJSON parse
      s"""{"file_id": ${e.fileId}, "dbms": ${Render.jsonStr(e.dbms)}, """ +
        s""""table_name": ${Render.jsonStr(e.table)}, """ +
        s""""source": ${Render.jsonStr(e.source)}, """ +
        s""""file_hash": ${Render.jsonStr(e.fileHash)}, """ +
        s""""instructions": ${Render.jsonStr(e.instructions)}, """ +
        s""""file_time": ${e.fileTime.getTime}, "rows": ${e.rows}}"""
    }.mkString("\n")

  /** `get archive file <hash>` — the archived raw payload, verbatim
    * (the byte-identical form whose MD5 is the ledger key, so a peer
    * PUTting it observes the duplicate-refusal idempotence). */
  private def archiveFile(t: String): String = {
    val hash = t.trim.split("\\s+").last
    val p = archiveRoot.getOrElse(throw new IllegalStateException(
      "no archive: engine has no data dir")).resolve(s"$hash.json")
    require(java.nio.file.Files.exists(p), s"archive has no file $hash")
    java.nio.file.Files.readString(p)
  }

  /** `delete archive where days = <n>` — age out archived source
    * files (the reference's `delete archive` command,
    * member_cmd.py `delete archive`): files older than n days by
    * mtime are removed. Bounds the archive the same way `drop
    * partition` bounds the tables; a hash dropped here simply can no
    * longer be SERVED to peers (the ledger row remains — duplicate
    * refusal is unaffected). */
  private def deleteArchive(t: String): String = {
    val days = "(?i)\\bdays\\s*=\\s*(\\d+)".r.findFirstMatchIn(t)
      .map(_.group(1).toInt).getOrElse(throw new IllegalArgumentException(
        "delete archive where days = <n>"))
    val cutoff = System.currentTimeMillis - days * 86400000L
    archiveRoot match {
      case None => "no archive: engine has no data dir"
      case Some(ar) =>
        val files = Option(ar.toFile.listFiles()).getOrElse(Array.empty)
        val victims = files.filter(_.lastModified < cutoff)
        victims.foreach(_.delete())
        s"deleted ${victims.length} archived file(s) older than $days day(s)"
    }
  }

  /** `run ha sync where peer = <host:port> [and table = <t>]` — ONE
    * round of the HA peer-sync loop as a single command, so the task
    * scheduler can drive it exactly the way the reference deploys
    * ha.py (a scheduled task): fetch the peer's ledger over the
    * command channel, anti-join both ways on the content hash
    * ([[graft.ingest.TsdLedger.diff]] semantics, computed here on the
    * broadcast-sized metadata), PULL missing payloads from the peer's
    * archive into this node, PUSH payloads the peer lacks over REST
    * PUT, then advance this node's committed watermark to the new
    * consensus (min over peers' max tsd_id per table — dbms/ha.py:225).
    * Idempotent: every transported payload is the archived original,
    * so its hash re-keys the duplicate-PUT refusal; a second round
    * pulls and pushes nothing. */
  private def haSync(t: String): String = {
    val peer = arg(t, "peer").getOrElse(throw new IllegalArgumentException(
      "run ha sync requires peer = <host:port>"))
    val tableFilter = arg(t, "table")
    // request timeouts make a simultaneous MUTUAL sync fail loudly
    // instead of deadlocking: this node holds its write gate across
    // the round, so if the peer is mid-sync against us (holding ITS
    // gate, waiting on OUR handler, which needs our gate), both
    // rounds time out, record Failed, and the scheduler retries on a
    // later wake — the standard resolution for symmetric distributed
    // loops without a coordinator
    val timeout = java.time.Duration.ofSeconds(30)
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(timeout).build()
    def get(cmd: String): String = {
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://$peer/")).timeout(timeout)
          .header("command", cmd).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode == 200,
        s"peer $peer refused '$cmd': ${resp.body.take(200)}")
      resp.body
    }
    def putPeer(table: String, body: String,
        instructions: Option[String]): Unit = {
      val b = java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"http://$peer/")).timeout(timeout)
        .header("table", table)
      instructions.foreach(i => b.header("instructions", i))
      val resp = client.send(
        b.PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode == 200,
        s"peer $peer refused PUT $table: ${resp.body.take(200)}")
    }
    final case class PeerRow(table: String, hash: String,
        instructions: String, fileId: Int)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val peerRows = get("get tsd export").linesIterator
      .filter(_.trim.nonEmpty).map { l =>
        val j = JsonMethods.parse(l)
        def s(k: String) = (j \ k) match {
          case JString(v) => v; case other => other.values.toString }
        PeerRow(s("table_name"), s("file_hash"), s("instructions"),
          s("file_id").toInt)
      }.toSeq
      .filter(r => tableFilter.forall(_ == r.table))
    val local = tsdLedger.list(None)
      .filter(e => tableFilter.forall(_ == e.table))
    val localHashes = local.map(_.fileHash).toSet
    val peerHashes = peerRows.map(_.hash).toSet
    val pulls = peerRows.filterNot(r => localHashes(r.hash))
    val pushes = local.filterNot(e => peerHashes(e.fileHash))
    pulls.foreach { r =>
      val payload = get(s"get archive file ${r.hash}")
      ingest(r.table, payload,
        Option(r.instructions).filter(i => i.nonEmpty && i != "0"))
    }
    val servedPerTable = scala.collection.mutable.Map.empty[String, Int]
    var served = 0
    pushes.foreach { e =>
      archiveRoot.map(_.resolve(s"${e.fileHash}.json")) match {
        case Some(p) if java.nio.file.Files.exists(p) =>
          putPeer(e.table, java.nio.file.Files.readString(p),
            Option(e.instructions).filter(i => i.nonEmpty && i != "0"))
          served += 1
          servedPerTable(e.table) = servedPerTable.getOrElse(e.table, 0) + 1
        case _ => () // archived bytes aged out: the peer pulls elsewhere
      }
    }
    // committed watermark: per synced table, consensus = min(local max,
    // peer max AFTER this round) — after the pulls the local ledger
    // holds every replicated batch, and each SERVED push grew the
    // peer's ledger by one (all pushes were hashes the peer lacked)
    val tables = (pulls.map(_.table) ++ pushes.map(_.table) ++
      tableFilter.toSeq).distinct
    tables.foreach { tb =>
      val peerMax = (peerRows.filter(_.table == tb).map(_.fileId) :+ 0).max +
        servedPerTable.getOrElse(tb, 0)
      val safe = math.min(tsdLedger.maxId(tb), peerMax)
      if (safe > 0) setSafeTsdId(tb, safe)
    }
    s"ha sync with $peer: pulled ${pulls.size}, pushed $served" +
      (if (pushes.size != served)
        s" (${pushes.size - served} not in archive)" else "")
  }

  /** `test table <table> where dbms = <dbms>` — schema-consistency
    * audit between the shared METADATA definition and the node's
    * actual storage (member_cmd.py:14816 test_table +
    * compare_schema_ledger_to_table: the reference checks every
    * table AND each of its partitions against the blockchain
    * schema). Here: the `table` policy in the policy store (the
    * blockchain surface, `blockchain insert`) carries
    * `columns: [{column_name, data_type}, ...]`; the command compares
    * it column-by-column (name + normalized DDL type, system columns
    * excluded on the storage side) against the registered table's
    * Spark schema, then against EVERY time-partition bucket's parquet
    * footer when the registration is a partitioned dir — a partition
    * written under an older schema is exactly what this catches.
    * Replies "Passed" or the reference-shaped failure line. */
  private def testTable(t: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = "(?i)^test table\\s+(\\S+)\\s+where\\s+dbms\\s*=\\s*(\\S+)".r
      .findFirstMatchIn(t.trim).getOrElse(
        throw new IllegalArgumentException(
          "test table <table> where dbms = <dbms>"))
    val (tbl, dbms) = (m.group(1), m.group(2))
    // blockchain schema: the `table` policy for (dbms, name)
    val policyCols: Option[Seq[(String, String)]] =
      catalog.policyList.map(p => JsonMethods.parse(p._2))
        .collectFirst {
          case j if (j \ "table" \ "name") == JString(tbl) &&
              (j \ "table" \ "dbms") == JString(dbms) =>
            (j \ "table" \ "columns") match {
              case JArray(cols) => cols.map { c =>
                val n = (c \ "column_name") match {
                  case JString(s) => s
                  case _ => throw new IllegalArgumentException(
                    "table policy column needs column_name")
                }
                val tp = (c \ "data_type") match {
                  case JString(s) => s
                  case _ => throw new IllegalArgumentException(
                    "table policy column needs data_type")
                }
                (n.toLowerCase, tp.toUpperCase)
              }
              case _ => throw new IllegalArgumentException(
                "table policy needs columns: [{column_name, data_type}]")
            }
        }
    policyCols match {
      case None =>
        s"Test table $dbms.$tbl schema failed: Blockchain schema " +
          "not available"
      case Some(expect) =>
        // normalized DDL name per storage type (the suggest-create
        // vocabulary, generic/utils_sql.py:48-58); CHAR(n)/VARCHAR
        // and FLOAT/DOUBLE unify like the reference's comparator
        def norm(ddl: String): String = {
          val up = ddl.toUpperCase.trim
          if (up.startsWith("CHAR") || up == "VARCHAR" || up == "STRING")
            "VARCHAR"
          else if (up == "DOUBLE" || up == "FLOAT") "FLOAT"
          else if (up.startsWith("DECIMAL")) "DECIMAL"
          else up
        }
        def sparkDdl(dt: org.apache.spark.sql.types.DataType): String = {
          import org.apache.spark.sql.types._
          dt match {
            case BooleanType => "BOOLEAN"
            case IntegerType | ShortType | ByteType => "INT"
            case LongType => "BIGINT"
            case FloatType | DoubleType => "FLOAT"
            case _: DecimalType => "DECIMAL"
            case TimestampType | TimestampNTZType => "TIMESTAMP"
            case DateType => "DATE"
            case StringType => "VARCHAR"
            case other => other.sql
          }
        }
        val sys = Set("row_id", "insert_timestamp", "tsd_name", "tsd_id",
          "__par")
        def check(name: String,
            schema: org.apache.spark.sql.types.StructType): Option[String] = {
          val actual = schema.fields.toSeq
            .filterNot(f => sys(f.name.toLowerCase))
            .map(f => (f.name.toLowerCase, sparkDdl(f.dataType)))
          if (actual.size != expect.size)
            Some(s"Test table $dbms.$name schema failed: ledger has " +
              s"${expect.size} columns, storage has ${actual.size}")
          else expect.zip(actual).collectFirst {
            case ((en, et), (an, at)) if en != an =>
              s"Test table $dbms.$name schema failed: column '$an' " +
                s"where ledger expects '$en'"
            case ((en, et), (_, at)) if norm(et) != norm(at) =>
              s"Test table $dbms.$name schema failed: column '$en' is " +
                s"$at where ledger expects $et"
          }
        }
        // a partitioned registration's aggregate schema is DERIVED
        // (Spark samples one footer), so for partitioned tables the
        // audit walks every bucket's own footer — the reference
        // likewise tests each partition as its own object
        // (test_table: tested_tables = table + get_partitions_list)
        val parts = catalog.tablePath(tbl).toSeq.flatMap { p =>
          TimePartitions.partitions(spark, p).map(b => (b, s"$p/__par=$b"))
        }
        val fail =
          if (parts.isEmpty) check(tbl, catalog.table(tbl).schema)
          else parts.iterator.flatMap { part =>
            check(s"$tbl partition ${part._1}",
              spark.read.parquet(part._2).schema)
          }.find(_ => true)
        fail.getOrElse(
          if (parts.isEmpty) "Passed"
          else s"Passed (${parts.size} partitions)")
    }
  }

  /** Wall clock for the task scheduler — injectable so specs and
    * engine-simulation queries drive VIRTUAL time deterministically
    * (the reference sleeps real seconds, task_scheduler.py:179). */
  @volatile var schedulerClock: () => Long = () => System.currentTimeMillis

  /** The repeatable-task scheduler behind `run scheduler` / `schedule`
    * / `task` / `get scheduler` (see [[TaskScheduler]]). Task commands
    * re-enter [[execute]], so a mutating task serializes on the write
    * lock like any interactive caller. */
  val taskScheduler =
    new TaskScheduler(execute, () => schedulerClock())

  /** `schedule time = 10 seconds [and name = "x"] [and scheduler = 1]
    * [and start = <ts>|+ N <unit>] task <command>` — register a
    * repeatable command (member_cmd.py:21696 `_schedule`). The word
    * `task` splits options from the command, as in the reference. */
  private def scheduleCmd(t: String): String = {
    val low = t.toLowerCase
    // split at the first UNQUOTED `task` keyword — a quoted option
    // value containing the word (name = "sync task") must not
    // truncate the options and register a garbage command
    val quoted = "\"[^\"]*\"|'[^']*'".r.findAllMatchIn(t)
      .map(m => (m.start, m.end)).toSeq
    val split = "(?i)\\btask\\b".r.findAllMatchIn(t)
      .find(m => !quoted.exists { case (a, b) =>
        m.start >= a && m.start < b })
      .getOrElse(throw new IllegalArgumentException(
        "Missing 'task' in schedule statement"))
    val opts = t.substring("schedule".length, split.start)
    val command = t.substring(split.end).trim
    require(command.nonEmpty, "schedule: empty task command")
    val repeatMs = timeOptMs(opts).getOrElse(
      throw new IllegalArgumentException("schedule requires time ="))
    val name = quotedArg(opts, "name").getOrElse(
      // unnamed tasks get a stable autogenerated name, like the
      // reference's task-id-only registration
      s"task-${low.hashCode.toHexString}")
    val schedId = intOpt(opts, "scheduler").getOrElse(1)
    val startAt = startOpt(opts)
    // idempotent on an identical re-declaration (the attach-all replay
    // path — and a retried schedule command — must not FAIL on
    // "Duplicate task name" when the existing task IS this one)
    val existing = taskScheduler.tasksOf(schedId)
      .find(tk => tk.mode != "Removed" && tk.name == name)
    val reply = existing match {
      case Some(tk) if tk.command == command =>
        s"Task ${tk.id} '$name' already scheduled on scheduler $schedId"
      case _ =>
        val task =
          taskScheduler.add(name, command, repeatMs, startAt, schedId)
        s"Task ${task.id} '$name' scheduled every ${repeatMs / 1000} " +
          s"seconds on scheduler $schedId"
    }
    // standing tasks are part of the declared fleet: `attach all`
    // after a reboot re-registers them (task remove undeclares); the
    // reference stores its scheduled jobs as policies on the shared
    // ledger for the same reason
    catalog.recordArtifact(s"task:$schedId:$name", t.trim)
    reply
  }

  /** `task stop|resume|run|remove|init where name = "x"
    * [and scheduler = n] [and start = ...]` (member_cmd.py:21650). */
  private def taskModeCmd(t: String): String = {
    val m = "(?i)^task\\s+(\\w+)\\s+where\\b(.*)$".r
      .findFirstMatchIn(t.trim).getOrElse(
        throw new IllegalArgumentException(
          "task [stop|resume|run|remove|init] where name = ..."))
    val (op, opts) = (m.group(1).toLowerCase, m.group(2))
    val name = quotedArg(opts, "name").getOrElse(
      throw new IllegalArgumentException("task: name = required"))
    val schedId = intOpt(opts, "scheduler").getOrElse(1)
    val reply = taskScheduler.taskCmd(op, name, schedId, startOpt(opts))
    op match {
      case "remove" =>
        catalog.removeArtifact(s"task:$schedId:$name")
        catalog.removeArtifact(s"taskmode:$schedId:$name")
      case "stop" =>
        // persist the STOPPED mode: `attach all` replays the schedule
        // (Active by default) and then this command — key sorts after
        // task:<id>:<name>, so the replay order re-stops it. An
        // operator-paused task must not come back Active on reboot.
        catalog.recordArtifact(s"taskmode:$schedId:$name", t.trim)
      case "resume" =>
        catalog.removeArtifact(s"taskmode:$schedId:$name")
      case _ => ()
    }
    reply
  }

  /** `time = N second|minute|hour|day[s]` → millis. */
  private def timeOptMs(opts: String): Option[Long] =
    "(?i)\\btime\\s*=\\s*(\\d+)\\s*(second|minute|hour|day)s?\\b".r
      .findFirstMatchIn(opts).map { m =>
        val n = m.group(1).toLong
        m.group(2).toLowerCase match {
          case "second" => n * 1000L
          case "minute" => n * 60000L
          case "hour"   => n * 3600000L
          case "day"    => n * 86400000L
        }
      }

  private def intOpt(opts: String, key: String): Option[Int] =
    (s"(?i)\\b$key\\s*=\\s*(\\d+)").r
      .findFirstMatchIn(opts).map(_.group(1).toInt)

  /** `start = YYYY-MM-DD[ HH:MM:SS]` or `start = + N d|h|m|s`
    * (the reference's `task init ... start = + 1d` form). */
  private def startOpt(opts: String): Option[Long] =
    "(?i)\\bstart\\s*=\\s*\\+\\s*(\\d+)\\s*([dhms])".r
      .findFirstMatchIn(opts).map { m =>
        val n = m.group(1).toLong
        val unit = m.group(2).toLowerCase match {
          case "d" => 86400000L; case "h" => 3600000L
          case "m" => 60000L; case "s" => 1000L
        }
        schedulerClock() + n * unit
      }.orElse(
        "(?i)\\bstart\\s*=\\s*(\\d{4}-\\d{2}-\\d{2}( \\d{2}:\\d{2}:\\d{2})?)".r
          .findFirstMatchIn(opts).map { m =>
            val s = m.group(1)
            val full = if (m.group(2) == null) s + " 00:00:00" else s
            java.time.LocalDateTime.parse(full.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          })

  private val msgClients =
    scala.collection.mutable.Map.empty[String, graft.streaming.MqttClient]

  /** `run msg client where broker = <host> and port = <n> and
    * topic = <t>[,<t2>…] and dir = <watch-dir> [and qos = 1]` — the
    * reference's client mode (`run msg client`,
    * tcpip/mqtt_client.py:495-513): SUBSCRIBE to an EXTERNAL broker
    * and land every delivered message as one NDJSON file in the watch
    * dir — from there the ordinary watch-dir → mapping-policy → table
    * streaming chain takes over (the same downstream as broker mode,
    * so client vs broker is purely a which-side-initiates choice).
    * QoS 1 by default: the client PUBACKs AFTER the file lands, and
    * duplicate redeliveries are absorbed by the ingest gates. */
  private def runMsgClient(t: String): String = {
    val host = reqArg(t, "broker", "run msg client")
    val port = reqArg(t, "port", "run msg client").toInt
    val topics = reqArg(t, "topic", "run msg client").split(",")
      .map(_.trim).filter(_.nonEmpty)
    val dir = java.nio.file.Paths.get(reqArg(t, "dir", "run msg client"))
    java.nio.file.Files.createDirectories(dir)
    val qos = arg(t, "qos").map(_.toInt).getOrElse(1)
    require(qos >= 0 && qos <= 1,
      s"run msg client: qos $qos unsupported — this client implements " +
        "QoS 0/1 only (QoS 2 receiver flow is not implemented)")
    // idempotent on an IDENTICAL re-declaration (the attach-all
    // replay path): a live client for these topics under the same
    // command is a no-op — but a conflicting re-declaration (same
    // topics, different dir/qos/broker) is refused loudly, never
    // silently ignored (write-side serialization makes this
    // check-then-insert atomic)
    val mcKey = s"msg client:${topics.mkString(",")}"
    msgClients.synchronized {
      if (msgClients.get(mcKey).exists(_.isRunning)) {
        val recorded = catalog.artifactRecord(mcKey)
        require(recorded.contains(t.trim),
          s"msg client for ${topics.mkString(", ")} already running " +
            s"with a different configuration — exit it first " +
            s"(recorded: ${recorded.getOrElse("?")})")
        return s"msg client already subscribed to ${topics.mkString(", ")}"
      }
    }
    // file names must be unique ACROSS client restarts and across two
    // clients sharing a dir/topic: a bare per-client counter restarts
    // at 1 and a landing REPLACES an existing name, overwriting an
    // unprocessed landing (and Spark's file source tracks seen paths —
    // a re-used name is silently skipped). A per-client nano-epoch
    // prefix + the counter makes every landing a fresh path.
    val n = new java.util.concurrent.atomic.AtomicInteger
    val clientEpoch = java.lang.Long.toHexString(System.nanoTime())
    val client = new graft.streaming.MqttClient(host, port,
      s"graft-$clientEpoch",
      (topic, payload) => {
        val stem = s"m${clientEpoch}_${n.incrementAndGet()}_" +
          topic.replaceAll("[^A-Za-z0-9]", "_")
        // same landing contract as the Kafka consumer: one-line JSON
        // per file; pretty-printed folds compact, garbage quarantines
        normalizeNdjsonPayload(payload) match {
          case Some(line) =>
            graft.streaming.Landing.write(dir.resolve(stem + ".json"), line)
          case None => quarantinePayload(dir, stem + ".bad", payload,
            s"msg client $topic", "mqtt delivery")
        }
      })
    client.start(topics.toSeq.map(tp => (tp, qos)))
    msgClients.synchronized {
      // a dead previous client under the same key is superseded
      msgClients.get(mcKey).foreach(_.stop())
      msgClients(mcKey) = client
    }
    catalog.recordArtifact(mcKey, t.trim)
    s"msg client subscribed to ${topics.mkString(", ")} at $host:$port " +
      s"(qos $qos, landing in $dir)"
  }

  /** `exit msg client` — disconnect every running msg client. */
  private def exitMsgClient(): String = {
    val n = msgClients.synchronized {
      val k = msgClients.size
      msgClients.valuesIterator.foreach(_.stop())
      msgClients.keysIterator.foreach(catalog.removeArtifact)
      msgClients.clear()
      k
    }
    s"$n msg client(s) disconnected"
  }

  /** `matview get where path = <dir> [and format = table]` — serve the
    * #groups-row artifact. */
  private def matviewGet(t: String): String = {
    val path = reqArg(t, "path", "matview get")
    val (keys, _) = mvRecordedSpec(path)
    val df = stripWm(graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no matview at $path")))
    import org.apache.spark.sql.functions.col
    val out = df.orderBy(keys.map(col): _*)
    rendered(t, out)
  }

  /** `quality check where table = <t> and spec = <json> [and format =
    * table]` — run a declarative constraint suite
    * ([[graft.ops.Quality]]) over a registered table and render the
    * integer receipt (check_name, metric_num, metric_den, pass). The
    * spec must be the LAST clause (same contract as `pipeline clean`);
    * `ref` checks resolve their `ref_table` through this catalog. */
  private def qualityCheck(t: String): String = {
    val (head, specJson) = specClause(t, "quality check",
      "quality check requires spec = <json>")
    val table = reqArg(head, "table", "quality check")
    val checks = graft.ops.Quality.fromJson(specJson, catalog.table)
    val receipt = graft.ops.Quality.verify(catalog.table(table), checks)
    rendered(head, receipt)
  }

  /** `pipeline clean where table = <src> and dest = <new> and spec = <json>`
    * — run a declarative corpus-cleaning pipeline (ops.CleanPipeline: the
    * JSON spec names dedup/quality/redaction/split stages) over a
    * registered table and MATERIALIZE the result as a new registered
    * table next to the source. This is the command-surface hook for the
    * training-data operators: after it returns, `sql edge "select ...
    * from <new>"` queries the cleaned corpus. The spec must be the LAST
    * clause (JSON contains no bare `=`, so the earlier k=v parses stay
    * unambiguous). */
  private def pipelineClean(t: String): String = {
    val (head, specJson) = specClause(t, "pipeline clean",
      "pipeline clean requires spec = <json>")
    val src = reqArg(head, "table", "pipeline clean")
    val dest = reqArg(head, "dest", "pipeline clean")
    require(dest.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad dest name: $dest")
    val srcPath = catalog.tablePath(src).getOrElse(
      throw new IllegalArgumentException(
        s"$src is not a registered storage table"))
    val out = graft.ops.CleanPipeline.run(specJson, catalog.table(src))
    val destPath = java.nio.file.Paths.get(srcPath).toAbsolutePath
      .getParent.resolve(s"$dest.parquet").toString
    // a dest that resolves onto the source file would overwrite the
    // corpus being read (and any registered table's storage)
    require(catalog.tableNames.forall(n =>
        !catalog.tablePath(n).map(p => java.nio.file.Paths.get(p)
          .toAbsolutePath.toString).contains(destPath)),
      s"dest $dest collides with a registered table's storage")
    // unregistered siblings (e.g. another table's parquet in the same
    // dir) must not be silently clobbered either: an existing dest path
    // requires an explicit overwrite = true clause
    val overwrite = arg(head, "overwrite").exists(_.equalsIgnoreCase("true"))
    require(overwrite || !java.nio.file.Files.exists(
        java.nio.file.Paths.get(destPath)),
      s"dest path $destPath already exists; add overwrite = true to replace")
    out.write.mode("overwrite").parquet(destPath)
    catalog.registerTable(dest, destPath)
    val n = catalog.table(dest).count()
    s"table $dest created: $n rows"
  }

  /** The reference's primary metadata interface
    * (cmd/member_cmd.py:884-917 examples; local resolution
    * `:1253 blockchain_get_local`):
    *   blockchain insert where policy = <json>
    *   blockchain get <type>|* [where k = v [and ...]]
    *     [bring [path]... ["lit"]... [separator = <s>]]
    * A policy is `{"<type>": {...}}`; `get` filters by type + attribute
    * equality; `bring` projects paths out of each match. */
  private def blockchainInsert(t: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val idx = t.indexOf("policy =")
    require(idx > 0, "blockchain insert where policy = <json>")
    val json = t.substring(idx + "policy =".length).trim
    val root = JsonMethods.parse(json)
    val (ptype, inner) = root match {
      case JObject((k, v) :: _) => (k, v)
      case _ => throw new IllegalArgumentException("policy must be an object")
    }
    val id = (inner \ "id") match {
      case JString(s) => s
      case _ =>
        // content-addressed id, like the ledger's hash key
        java.security.MessageDigest.getInstance("MD5")
          .digest(json.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    catalog.addPolicy(id, json)
    s"policy $ptype $id stored"
  }

  private def blockchainGet(t: String): String = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val rest = t.substring("blockchain get ".length).trim
    // split off bring / where clauses
    val bringIdx = rest.toLowerCase.indexOf(" bring ")
    val (head, bringSpec) =
      if (bringIdx >= 0) (rest.substring(0, bringIdx).trim,
        Some(rest.substring(bringIdx + 7).trim))
      else (rest, None)
    val whereIdx = head.toLowerCase.indexOf(" where ")
    val (ptype, conds) =
      if (whereIdx >= 0) {
        val w = head.substring(whereIdx + 7)
        val kvs = w.split("(?i)\\s+and\\s+").toSeq.map { kv =>
          kv.split("=", 2).map(_.trim
            .stripPrefix("\"").stripSuffix("\"")
            .stripPrefix("'").stripSuffix("'")) match {
            case Array(k, v) => (k, v)
            case _ => throw new IllegalArgumentException(
              s"blockchain get: condition '$kv' is not <key> = <value>")
          }
        }
        (head.substring(0, whereIdx).trim, kvs)
      } else (head.trim, Nil)
    def str(v: JValue): String = v match {
      case JString(s) => s
      case JInt(i) => i.toString
      case JDouble(d) => d.toString
      case JBool(b) => b.toString
      case other => JsonMethods.compact(JsonMethods.render(other))
    }
    val matches = catalog.policyList.flatMap { case (_, json) =>
      scala.util.Try(JsonMethods.parse(json)).toOption.collect {
        case JObject((k, inner) :: _)
            if (ptype == "*" || k == ptype) &&
              conds.forall { case (ck, cv) => str(inner \ ck) == cv } =>
          (k, inner, json)
      }
    }
    bringSpec match {
      case None => matches.map(_._3).mkString("[", ",", "]")
      case Some(spec) =>
        // bring items: [a][b] paths and quoted literals; trailing
        // `separator = <s>` joins per-policy outputs
        val sepRx = "(?i)\\s+separator\\s*=\\s*(\\S+)\\s*$".r
        val (items, sep) = sepRx.findFirstMatchIn(spec) match {
          case Some(m) => (spec.substring(0, m.start).trim,
            m.group(1).stripPrefix("\"").stripSuffix("\"")
              .replace("\\n", "\n"))
          case None => (spec, "")
        }
        val tokRx = "(\\[[^\\]]+\\])+|\"[^\"]*\"|'[^']*'".r
        val toks = tokRx.findAllIn(items).toSeq
        matches.map { case (key, inner, _) =>
          toks.map { tok =>
            if (tok.startsWith("\"") || tok.startsWith("'"))
              tok.substring(1, tok.length - 1)
            else {
              val segs = tok.stripPrefix("[").stripSuffix("]")
                .split("\\]\\[").toSeq
              // the FIRST segment may be the policy-type key itself
              // ([operator][ip]) or a field inside the body ([ip]);
              // the rest resolve strictly — a wrong path yields
              // nothing, never a re-rooted lookup at the body
              val root =
                if (segs.head == key) inner
                else inner \ segs.head
              val v = segs.tail.foldLeft(root)(_ \ _)
              v match {
                case JNothing => ""
                case other => str(other)
              }
            }
          }.mkString
        }.mkString(sep)
    }
  }

  private def renderSql(command: String): String = {
    val cmd = EdgeSql.parseCommand(command)
    var df = query(command)
    // timezone presentation edge: convert timestamp outputs to the
    // caller's zone (utils_columns.py:1655-1712)
    cmd.options.get("timezone").foreach { tz =>
      df.schema.fields.filter(_.dataType == TimestampType).foreach { f =>
        df = df.withColumn(f.name,
          date_format(from_utc_timestamp(col(f.name), tz),
            "yyyy-MM-dd HH:mm:ss"))
      }
    }
    val render: DataFrame => String = cmd.options.get("format") match {
      case Some("table") => Render.table(_)
      case Some("json:list") => Render.jsonList(_)
      case Some("json:output") => Render.jsonOutput(_)
      case _ => Render.json(_)
    }
    def compute(): String =
      if (cmd.options.get("stat").contains("true")) Render.withStat(df, render)
      else render(df)

    // query admission control (the reference's query_mode,
    // cmd/member_cmd.py:97-100: per-query `max_time` cap enforced at
    // :4433, reply `max_volume` cap default 10 MB)
    val body = cmd.options.get("max_time") match {
      case Some(secsStr) =>
        val secs = secsStr.stripSuffix("s").trim.toLong
        val group = s"graft-maxtime-${System.nanoTime}"
        import scala.concurrent.{Await, Future, TimeoutException}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration._
        val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
        val fut = Future {
          // job group must be set on the THREAD that launches the jobs;
          // a late-scheduled future must not start AFTER the caller
          // already gave up (cancelJobGroup would have hit nothing)
          if (cancelled.get()) throw new IllegalStateException("cancelled")
          spark.sparkContext.setJobGroup(group, command,
            interruptOnCancel = true)
          try {
            // re-check after the group is attached: a cancelJobGroup
            // that fired between the two checks found no jobs, so we
            // must not launch any (narrows the race to the gap between
            // this check and job submission)
            if (cancelled.get()) throw new IllegalStateException("cancelled")
            compute()
          } finally spark.sparkContext.clearJobGroup()
        }
        try Await.result(fut, secs.seconds)
        catch { case _: TimeoutException =>
          cancelled.set(true)
          spark.sparkContext.cancelJobGroup(group)
          throw new IllegalStateException(
            s"query exceeded max_time = ${secs}s and was cancelled")
        }
      case None => compute()
    }
    // the reference applies the 10 MB cap by DEFAULT in query_mode, but
    // it is a REPLY cap: a dest=file/kafka/buffer EXPORT is not a reply,
    // so the default only binds when the output returns to the caller.
    // An explicit max_volume= option binds everywhere (caller intent).
    // One registry decides BOTH the classification and the dispatch —
    // an unrecognized dest value resolves no route, falls through to the
    // reply path, and stays capped; a new route added below is
    // automatically uncapped.
    val destRoute = cmd.options.get("dest").flatMap(exportRoute)
    val isReply = destRoute.isEmpty
    val cap = cmd.options.get("max_volume").map(_.trim.toLong)
      .orElse(if (isReply) Some(defaultMaxVolume) else None)
    cap.foreach { c =>
      val sz = body.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      if (sz > c) throw new IllegalStateException(
        s"result volume $sz B exceeds max_volume = $c B")
    }

    // test=true + source=<golden file>: the reference's built-in
    // golden-output comparison (cmd/member_cmd.py:124-127 test/source
    // options; rendering generic/output_data.py:211/:249) — compare the
    // rendered output against the stored expectation
    val out = cmd.options.get("test") match {
      case Some("true") =>
        val title = cmd.options.getOrElse("title", "")
        val header = s"Test: $title\nCommand: ${cmd.select}\n"
        cmd.options.get("source") match {
          case Some(golden) =>
            val expected = java.nio.file.Files.readString(
              java.nio.file.Paths.get(golden)).trim
            val verdict = if (expected == body.trim) "Test passed"
              else "Test failed"
            header + body + s"\n$verdict"
          case None => header + body
        }
      case _ => body
    }

    // export routes resolved up front (same registry as the cap
    // classification); no route = reply to caller
    destRoute match {
      case Some(route) => route(cmd, out)
      case None => out
    }
  }

  /** Single dest-prefix registry: resolves `dest=` to an export action,
    * or None for the reply path. Classification (max_volume reply cap)
    * and dispatch both read THIS function so they cannot drift. */
  private def exportRoute(d: String)
      : Option[(EdgeSql.Command, String) => String] = d match {
    case _ if d.startsWith("file:") =>
      // dest=file:<path> writes the rendered output (OutputManager file
      // sink, generic/output_data.py:35-128)
      Some { (_, out) =>
        val path = d.stripPrefix("file:")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), out)
        s"written to $path"
      }
    case "buffer" =>
      // dest=buffer assigns the rendered output to a dictionary
      // variable (dest_values member_cmd.py:146; key option
      // `output_key`, output_data.py:53-55) readable via
      // `get dictionary` / extend !var
      Some { (cmd, out) =>
        val key = cmd.options.getOrElse("output_key", "buffer")
        setVar(key, out)
        s"assigned to !$key"
      }
    case _ if d.startsWith("kafka@") =>
      // kafka@ip:port + topic=<t> (output_data.py:75-77, send :297)
      Some { (cmd, out) =>
        val servers = d.stripPrefix("kafka@")
        val topic = cmd.options.getOrElse("topic", "graft")
        kafkaTransport(servers, topic, out)
        s"sent to kafka@$servers topic=$topic"
      }
    case _ => None
  }

  /** create view <name> on <table> (src as dst, ...) */
  private def createView(t: String): String = {
    val rx = "(?i)create view\\s+(\\S+)\\s+on\\s+(\\S+)\\s*\\((.*)\\)".r
    rx.findFirstMatchIn(t) match {
      case Some(m) =>
        val cols = m.group(3).split(",").map(_.trim).filter(_.nonEmpty).map {
          c =>
            val parts = c.split("(?i)\\s+as\\s+")
            if (parts.length == 2) (parts(0).trim, parts(1).trim)
            else (c, c)
        }
        catalog.createView(m.group(1), m.group(2), cols.toSeq)
        s"view ${m.group(1)} created"
      case None => throw new IllegalArgumentException(s"bad create view: $t")
    }
  }

  /** partition <table> using <tsCol> by <n> <unit> into <path>
    * (member_cmd.py:5011 syntax; week rejected -> use days,
    * member_cmd.py:5044-5046) */
  private def partition(t: String): String = {
    val rx =
      "(?i)partition\\s+(\\S+)\\s+using\\s+(\\S+)\\s+by\\s+(\\d+)\\s+(\\w+)\\s+into\\s+(\\S+)".r
    rx.findFirstMatchIn(t) match {
      case Some(m) =>
        val unit = m.group(4).stripSuffix("s")
        require(unit != "week",
          "week is not supported, use '7 days'") // member_cmd.py:5044-5046
        TimePartitions.write(catalog.table(m.group(1)), m.group(2),
          unit, m.group(3).toInt, m.group(5))
        val parts = TimePartitions.partitions(spark, m.group(5))
        s"partitioned ${m.group(1)} into ${parts.length} buckets"
      case None => throw new IllegalArgumentException(s"bad partition: $t")
    }
  }

  /** `rollup create where table = <t> and path = <dir> and time = <ts>
    * and value = <v> and grain = <unit> [and dims = (a,b)]` — build the
    * standing rollup from the table's CURRENT rows (one scan, committed
    * through IndexStore) and register it: qualified increments() queries
    * on the table are answered from it from now on (see
    * [[graft.dialect.RollupServe]]). */
  private def rollupCreate(t: String): String = {
    val body = t.substring("rollup create".length).trim
      .stripPrefix("where").trim
    // dims/value take a parenthesised list with spaces: `(a, b)`
    def list(k: String): Option[Seq[String]] =
      s"(?i)\\b$k\\s*=\\s*(\\([^)]*\\)|\\S+)".r.findFirstMatchIn(body)
        .map(_.group(1).stripPrefix("(").stripSuffix(")")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val table = reqArg(body, "table", "rollup create")
    val meta = graft.dialect.RollupServe.Meta(
      path = reqArg(body, "path", "rollup create"),
      tsCol = reqArg(body, "time", "rollup create"),
      grain = reqArg(body, "grain", "rollup create"),
      dims = list("dims").getOrElse(Nil),
      valueCols = list("value").getOrElse(throw new IllegalArgumentException(
        "rollup create requires value =")))
    val rolled = graft.ops.Rollup.build(catalog.table(table), meta.tsCol,
      meta.grain, meta.dims, meta.valueCols).localCheckpoint()
    // lineage watermark seeded in the same commit (`rollup sync`)
    graft.ops.IndexStore.write(rolled, meta.path,
      wmTag(mvTableWm(catalog.table(table))))
    rollups.register(table, meta)
    catalog.recordArtifact(s"rollup:${meta.path}",
      s"rollup attach where table = $table and path = ${meta.path}")
    s"rollup for $table created at ${meta.path} " +
      s"(${rolled.count()} ${meta.grain} buckets)"
  }

  /** `rollup delete where table = <t> and (before = <ts> | source =
    * <deleted-rows table|path> and base = <table>)` — the rollup's
    * tombstone half. `before =` is the RETENTION form: buckets older
    * than the cutoff retire whole (bucket-aligned, exact, no base
    * access — the twin of `drop partition`). `source =` is the
    * ROW-level form: the named frame holds the rows ALREADY removed
    * from `base`, and every touched bucket is recomputed from the
    * current base via [[graft.ops.Rollup.deleteRows]] — the standard
    * targeted re-aggregation repair for min/max, reading only the
    * touched (partition-prunable) buckets. */
  private def rollupDelete(t: String): String = {
    val table = reqArg(t, "table", "rollup delete")
    val meta = rollups(table).meta
    // retention/row deletes don't advance lineage ([[rewrite]])
    val v = rewrite(meta.path, "rollup artifact", None) { cur =>
      (arg(t, "before"), arg(t, "source")) match {
        case (Some(cutoff), None) =>
          // the \S+ capture stops at whitespace; accept quoted full
          // timestamps too
          val c = "(?i)\\bbefore\\s*=\\s*'([^']+)'".r.findFirstMatchIn(t)
            .map(_.group(1)).getOrElse(cutoff)
          graft.ops.Rollup.deleteBefore(cur, c)
        case (None, Some(src)) =>
          val baseName = arg(t, "base").getOrElse(
            throw new IllegalArgumentException(
              "rollup delete with source = needs base = <table> (the " +
                "table AFTER the rows were removed) to recompute " +
                "touched buckets"))
          graft.ops.Rollup.deleteRows(cur, tableOrPath(src),
            catalog.table(baseName), meta.dims, meta.valueCols)
        case _ => throw new IllegalArgumentException(
          "rollup delete takes EITHER before = <ts> OR source = <rows> " +
            "and base = <table>")
      }
    }
    s"rollup for $table: " +
      s"${graft.ops.IndexStore.readVersion(spark, meta.path, v).count()} " +
      s"${meta.grain} buckets remain"
  }

  /** `vindex create where table = <t> and path = <dir> and id = <col>
    * and vector = <col> and type = pq|ivf [and numsub = m and ksub = k]
    * [and cells = n] [and iters = i]` — build a STANDING vector index
    * over the table's CURRENT rows (PQ codes+books via
    * [[graft.ops.Similarity.pqIndex]], or IVF assignment rows via
    * [[graft.ops.Similarity.ivfIndex]]), commit it through the
    * crash-atomic IndexStore, and register it for `vindex search` /
    * `vindex refresh`. The ANN-serving twin of `rollup create`. */
  private def vindexCreate(t: String): String = {
    val body = t.substring("vindex create".length).trim
      .stripPrefix("where").trim
    val table = reqArg(body, "table", "vindex create")
    val path = reqArg(body, "path", "vindex create")
    val idCol = reqArg(body, "id", "vindex create")
    val vecCol = reqArg(body, "vector", "vindex create")
    val kind = reqArg(body, "type", "vindex create").toLowerCase
    val src = catalog.table(table)
    val (built, numSub) = kind match {
      case "pq" =>
        val m = reqArg(body, "numsub", "vindex create").toInt
        (graft.ops.Similarity.pqIndex(src, vecCol, idCol, numSub = m,
          ksub = reqArg(body, "ksub", "vindex create").toInt,
          iters = arg(body, "iters").map(_.toInt).getOrElse(1)), m)
      case "ivf" =>
        (graft.ops.Similarity.ivfIndex(src, vecCol, idCol,
          numCentroids = arg(body, "cells").map(_.toInt).getOrElse(0),
          kmeansIters = arg(body, "iters").map(_.toInt).getOrElse(0)), 0)
      case "rpq" =>
        val m = reqArg(body, "numsub", "vindex create").toInt
        (graft.ops.Similarity.residualIvfIndex(src, vecCol, idCol,
          ncells = arg(body, "cells").map(_.toInt).getOrElse(16), numSub = m,
          ksub = reqArg(body, "ksub", "vindex create").toInt,
          iters = arg(body, "iters").map(_.toInt).getOrElse(1)), m)
      case "sq8" =>
        (graft.ops.Similarity.sq8Index(src, vecCol, idCol), 0)
      case other => throw new IllegalArgumentException(
        s"vindex type must be pq, ivf, rpq or sq8, got $other")
    }
    // seed the lineage watermark (a wm_ tag on the same commit) so
    // `vindex sync` can replay crash-missed batches exactly
    val v = graft.ops.IndexStore.write(built.localCheckpoint(), path,
      wmTag(mvTableWm(src)))
    vindexes.register(table, VIndexMeta(path, kind, idCol, vecCol, numSub))
    catalog.recordArtifact(s"vindex:$path",
      s"vindex attach where table = $table and path = $path and " +
        s"type = $kind and id = $idCol and vector = $vecCol")
    s"vindex for $table created at $path (type=$kind, version $v)"
  }

  /** The rollup fold body — shared by `rollup refresh`, the ingest
    * auto-fold, and `rollup sync`: fold the delta and advance the
    * `wm_` lineage tag in the same commit (the rollup joins the
    * watermark family — a batch missed during an auto-refresh-off
    * window is now reconcilable instead of stale-forever). `deltaWm`
    * is the delta's highest tsd_id when the caller knows it; otherwise
    * it is scanned. Returns the committed version. */
  private def foldRollup(meta: graft.dialect.RollupServe.Meta,
      delta: DataFrame, tag: Option[String], deltaWm: Option[Long]): Long = {
    val newWm = foldedWm(meta.path, delta, deltaWm)
    graft.ops.Rollup.foldStore(spark, meta.path, delta, meta.tsCol,
      meta.grain, meta.dims, meta.valueCols, tag.toSeq ++ wmTag(newWm))
  }

  /** `drop partition`'s rollup fold: targeted re-aggregation over the
    * SURVIVOR frame AS OF the rollup's lineage watermark. Dropped
    * buckets recompute to empty and retire, and a rollup bucket COARSER
    * than the partition unit (it then spans surviving days) recomputes
    * from exactly the rows the rollup had folded — recomputing from the
    * full current survivors would ABSORB pending unfolded rows, which a
    * later `rollup sync` (tsd_id > wm) would then fold AGAIN (double
    * count). */
  private def retainRollup(meta: graft.dialect.RollupServe.Meta,
      dropped: DataFrame, survivors: DataFrame, tag: String): String = {
    val rwm = indexWmOf(meta.path)
    val recomputeBase =
      if (rwm >= 0 && survivors.columns.contains("tsd_id"))
        survivors.filter(col("tsd_id").cast("long") <= rwm)
      else survivors
    rewrite(meta.path, "rollup artifact", Some(tag))(
      graft.ops.Rollup.deleteRows(_, dropped, recomputeBase.drop("__par"),
        meta.dims, meta.valueCols))
    "recomputed over survivors"
  }

  /** The vindex fold body (encode/assign a batch against the RECORDED
    * geometry, commit a fresh version) — shared by `vindex refresh`
    * and the ingest auto-fold (which passes the exactly-once batch
    * tag). */
  private def foldVindex(meta: VIndexMeta, delta: DataFrame,
      tag: Option[String], deltaWm: Option[Long]): Long =
    foldInto(meta.path, "vindex artifact", delta, tag, deltaWm) { stored =>
      meta.kind match {
        case "pq" => graft.ops.Similarity.refreshPqIndex(stored, delta,
          meta.vecCol, meta.idCol, meta.numSub)
        case "rpq" => graft.ops.Similarity.refreshResidualIvfIndex(stored,
          delta, meta.vecCol, meta.idCol, meta.numSub)
        case "sq8" => graft.ops.Similarity.refreshSq8Index(stored, delta,
          meta.vecCol, meta.idCol)
        case _ => graft.ops.Similarity.refreshIvfIndex(stored, delta,
          meta.vecCol, meta.idCol)
      }
    }

  /** `vindex delete where table = <t> and (ids = (1, 2, 3) | source =
    * <table|path> [and id = <col>])` — tombstone a set of vector ids
    * out of the standing index ([[graft.ops.Similarity
    * .deleteFromIndex]]): coded corpus rows anti-join away, the
    * recorded geometry (books / grid / centroids) survives frozen, and
    * the artifact commits as a fresh crash-atomic IndexStore version.
    * Serve-after-delete == serve-over-survivors exactly (q175). */
  private def vindexDelete(t: String): String = {
    val table = reqArg(t, "table", "vindex delete")
    val vindex = vindexes(table)
    val (meta, stored) = (vindex.meta, vindex.state)
    val before = stored.count()
    // deletes don't advance lineage ([[rewrite]] carries the wm_ tag)
    val v = rewrite(meta.path, "vindex artifact", None)(
      graft.ops.Similarity.deleteFromIndex(_,
        deleteIdsFrame(t, Some(meta.idCol))))
    val removed = before -
      graft.ops.IndexStore.readVersion(spark, meta.path, v).count()
    s"vindex for $table: $removed coded row(s) deleted " +
      s"(geometry retained)"
  }

  /** `vindex search where table = <t> and probes = <table|path> and
    * k = <n> [and nprobe = <n>] [and format = table]` — serve ANN
    * top-k from the standing artifact: ADC over PQ codes, or
    * nprobe-routed cell-local search over the IVF rows. Probes never
    * touch the corpus floats (PQ) / never scan outside routed cells
    * (IVF). */
  private def vindexSearch(t: String): String = {
    val vindex = vindexes(reqArg(t, "table", "vindex search"))
    val probes = tableOrPath(reqArg(t, "probes", "vindex search"))
    rendered(t, vindexTopK(vindex, probes,
      reqArg(t, "k", "vindex search").toInt, t))
  }

  /** ANN top-k of `probes` over a vindex's stored state: ADC over PQ
    * codes, or cell-local search over the `nprobe` (an option of the
    * command `t`, default 1) cells each probe routes to. */
  private def vindexTopK(vindex: vindexes.Artifact, probes: DataFrame,
      k: Int, t: String): DataFrame = {
    val (meta, stored) = (vindex.meta, vindex.state)
    val nprobe = arg(t, "nprobe").map(_.toInt).getOrElse(1)
    meta.kind match {
      case "pq" => graft.ops.Similarity.pqSearchIndex(stored, probes,
        meta.vecCol, meta.idCol, k, meta.numSub)
      case "rpq" => graft.ops.Similarity.searchResidualIndex(stored,
        probes, meta.vecCol, meta.idCol, k, nprobe, meta.numSub)
      case "sq8" => graft.ops.Similarity.sq8SearchIndex(stored, probes,
        meta.vecCol, meta.idCol, k)
      case _ => graft.ops.Similarity.ivfSearchIndex(stored, probes,
        meta.vecCol, meta.idCol, k, nprobe)
    }
  }

  /** `vindex negatives where table = <t> and probes = <table|path> and
    * k = <n> and label = <col> [and oversample = 4] [and nprobe = <n>]
    * [and format = table]` — filtered ANN: hard-NEGATIVE mining served
    * from the standing vector index (q160's operator on the command
    * surface). Serves top-k most-similar candidates whose `label`
    * differs from the probe's, by the standard post-filter-with-
    * oversampling scheme: the index is searched for k*oversample
    * candidates, labels are joined from the REGISTERED table (the
    * index artifact stays label-free), same-label rows drop, the
    * survivors re-rank. HONEST CAVEAT: a probe whose neighborhood is
    * dominated by its own label can return fewer than k rows — raise
    * oversample (the filtered-ANN recall/oversampling tradeoff is
    * intrinsic, not a bug). Probe rows must carry id, vector AND the
    * label column. */
  private def vindexNegatives(t: String): String = {
    val table = reqArg(t, "table", "vindex negatives")
    val vindex = vindexes(table)
    val meta = vindex.meta
    val probes = tableOrPath(reqArg(t, "probes", "vindex negatives"))
    val k = reqArg(t, "k", "vindex negatives").toInt
    val labelCol = reqArg(t, "label", "vindex negatives")
    val oversample = arg(t, "oversample").map(_.toInt).getOrElse(4)
    require(k >= 1 && oversample >= 1)
    val kBig = k * oversample
    import org.apache.spark.sql.functions.{broadcast, col, row_number}
    val raw = vindexTopK(vindex, probes, kBig, t)
    val candLabels = catalog.table(table)
      .select(col(meta.idCol).as("id"), col(labelCol).as("neg_label"))
    val probeLabels = probes
      .select(col(meta.idCol).as("q_id"), col(labelCol).as("q_label"))
    val result = raw
      .join(candLabels, "id")
      .join(broadcast(probeLabels), "q_id")
      .filter(col("neg_label") =!= col("q_label"))
      .withColumn("neg_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("q_id"))
          .orderBy(col("rank"))))
      .filter(col("neg_rank") <= k)
      .drop("rank", "q_label")
      .orderBy(col("q_id"), col("neg_rank"))
    rendered(t, result)
  }

  /** `vindex attach where table = <t> and path = <dir> and type = pq|ivf
    * and id = <col> and vector = <col>` — re-register an existing
    * artifact after an engine restart; PQ geometry (numsub) is read
    * back from the recorded books. */
  private def vindexAttach(t: String): String = {
    val table = reqArg(t, "table", "vindex attach")
    val path = reqArg(t, "path", "vindex attach")
    val kind = reqArg(t, "type", "vindex attach").toLowerCase
    val stored = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no vindex artifact at $path"))
    val numSub = kind match {
      case "pq" => graft.ops.Similarity.pqIndexBooks(stored)
        .agg(org.apache.spark.sql.functions.max("sub")).head()
        .getInt(0) + 1
      case "rpq" =>
        import org.apache.spark.sql.functions.{col, max}
        stored.filter(col("role") === "fbook").agg(max("sub")).head()
          .getInt(0) + 1
      case _ => 0 // ivf and sq8 carry their geometry in the artifact
    }
    vindexes.register(table, VIndexMeta(path, kind,
      reqArg(t, "id", "vindex attach"), reqArg(t, "vector", "vindex attach"),
      numSub))
    s"vindex for $table attached from $path (type=$kind" +
      (if (kind == "pq" || kind == "rpq") s", numsub=$numSub" else "") +
      ")"
  }

  /** `tindex create where table = <t> and path = <dir> and id = <col>
    * and text = <col> [and grams = true]` — build the standing
    * positional postings index ([[graft.ops.Retrieval.postingsIndex]],
    * map-only) and commit it through [[graft.ops.IndexStore]]. With
    * `grams = true` a char-trigram SIDECAR artifact (`<path>-grams`)
    * is also built, enabling `tindex like` substring search. */
  private def tindexCreate(t: String): String = {
    val table = reqArg(t, "table", "tindex create")
    val path = reqArg(t, "path", "tindex create")
    val idCol = reqArg(t, "id", "tindex create")
    val textCol = reqArg(t, "text", "tindex create")
    val grams = arg(t, "grams").exists(_.equalsIgnoreCase("true"))
    val src = catalog.table(table)
    val built = graft.ops.Retrieval.postingsIndex(src, textCol, idCol)
    // lineage watermark seeded on the same commit (`tindex sync` reads
    // it; the grams sidecar follows the main artifact)
    val v = graft.ops.IndexStore.write(built.localCheckpoint(), path,
      wmTag(mvTableWm(src)))
    if (grams) graft.ops.IndexStore.write(
      graft.ops.Retrieval.trigramIndex(src, textCol, idCol)
        .localCheckpoint(), s"$path-grams")
    tindexes.register(table, TIndexMeta(path, idCol, textCol, grams))
    catalog.recordArtifact(s"tindex:$path",
      s"tindex attach where table = $table and path = $path and " +
        s"id = $idCol and text = $textCol")
    s"tindex for $table created at $path (version $v" +
      (if (grams) ", +trigram sidecar" else "") + ")"
  }

  /** The tindex fold body (per-doc replace-on-refold postings + the
    * trigram sidecar when present) — shared by `tindex refresh` and
    * the ingest auto-fold. Per-doc state makes the fold idempotent;
    * the tag additionally skips replayed batches outright. */
  private def foldTindex(meta: TIndexMeta, delta: DataFrame,
      tag: Option[String], deltaWm: Option[Long]): Long = {
    val v = foldInto(meta.path, "tindex artifact", delta, tag, deltaWm)(
      graft.ops.Retrieval.refreshPostingsIndex(_, delta, meta.textCol,
        meta.idCol))
    if (meta.grams) {
      val fresh = graft.ops.Retrieval.trigramIndex(delta, meta.textCol,
        meta.idCol)
      // same replace-on-refold contract as the postings fold
      rewrite(s"${meta.path}-grams", "trigram sidecar", tag)(_
        .join(fresh.select(col("id").as("__bid")).distinct(),
          col("id") === col("__bid"), "left_anti")
        .unionByName(fresh))
    }
    v
  }

  /** `tindex delete where table = <t> and (ids = (1, 2, 3) | source =
    * <table|path> [and id = <col>])` — tombstone a set of doc ids out
    * of the standing postings index ([[graft.ops.Retrieval
    * .deleteFromPostingsIndex]]; the trigram sidecar, when present,
    * forgets the same ids). df / N / avgdl derive from surviving rows
    * at query time, so delete == rebuild-over-survivors exactly
    * (q176). Commits as fresh crash-atomic IndexStore versions. */
  private def tindexDelete(t: String): String = {
    val table = reqArg(t, "table", "tindex delete")
    val tindex = tindexes(table)
    val (meta, stored) = (tindex.meta, tindex.state)
    val del = deleteIdsFrame(t, Some(meta.idCol)).localCheckpoint()
    val before = stored.count()
    val v = tombstoneTindex(meta, del, None)
    val removed = before -
      graft.ops.IndexStore.readVersion(spark, meta.path, v).count()
    s"tindex for $table: $removed index row(s) deleted" +
      (if (meta.grams) " (+trigram sidecar)" else "")
  }

  /** Tombstone doc ids out of a tindex and its trigram sidecar, once
    * per `tag`; returns the postings' committed version. */
  private def tombstoneTindex(meta: TIndexMeta, del: DataFrame,
      tag: Option[String]): Long = {
    val v = rewrite(meta.path, "tindex artifact", tag)(
      graft.ops.Retrieval.deleteFromPostingsIndex(_, del))
    if (meta.grams) rewrite(s"${meta.path}-grams", "trigram sidecar", tag)(
      graft.ops.Retrieval.deleteFromPostingsIndex(_, del))
    v
  }

  /** `dedup index create where table = <t> and path = <dir> and
    * type = shingle|simhash and id = <col> and text = <col>
    * [and n = 3]` — build the standing dedup-gate artifact from the
    * table's CURRENT rows, seed its lineage watermark, and REGISTER it
    * (auto-fold / sync / drop-partition retention all reach it from
    * now on). The library half ([[graft.ops.Dedup.shingleIndex]] /
    * [[graft.ops.Dedup.simhashIndex]]) is unchanged — this is the
    * registration front door the pipeline-owned paths lacked. */
  private def dedupIndexCreate(t: String): String = {
    val table = reqArg(t, "table", "dedup index create")
    val path = reqArg(t, "path", "dedup index create")
    val kind = reqArg(t, "type", "dedup index create").toLowerCase
    require(kind == "shingle" || kind == "simhash" ||
      kind == "embedding" || kind == "exact",
      s"dedup index type must be shingle|simhash|embedding|exact " +
        s"(got $kind)")
    val idCol = reqArg(t, "id", "dedup index create")
    val contentCol = reqArg(t, if (kind == "embedding") "vector" else "text",
      "dedup index create")
    val n = arg(t, "n").map(_.toInt).getOrElse(3)
    val src = catalog.table(table)
    // embedding: pinned or corpus-derived LSH geometry, RECORDED on the
    // rows (refresh reads it back — no meta to remember)
    val built = dedupBuild(kind, src, contentCol, idCol, n,
      (arg(t, "bits").map(_.toInt).getOrElse(0),
        arg(t, "tables").map(_.toInt).getOrElse(0)))
    val v = graft.ops.IndexStore.write(built.localCheckpoint(), path,
      wmTag(mvTableWm(src)))
    if (kind == "exact") rebuildBloomSidecar(path, None)
    dindexes.register(table, DIndexMeta(path, kind, idCol, contentCol, n))
    val colKey = if (kind == "embedding") "vector" else "text"
    catalog.recordArtifact(s"dedup index:$path",
      s"dedup index attach where table = $table and path = $path and " +
        s"type = $kind and id = $idCol and $colKey = $contentCol and n = $n")
    s"dedup index for $table created at $path (type=$kind, version $v)"
  }

  /** A dedup index of `kind` over `src`; an embedding index takes its
    * LSH geometry (bits, tables) from `geometry`. */
  private def dedupBuild(kind: String, src: DataFrame, contentCol: String,
      idCol: String, n: Int, geometry: => (Int, Int)): DataFrame =
    kind match {
      case "shingle" => graft.ops.Dedup.shingleIndex(src, contentCol, idCol, n)
      case "simhash" => graft.ops.Dedup.simhashIndex(src, contentCol, idCol)
      case "exact" => graft.ops.Dedup.exactHashIndex(src, contentCol, idCol)
      case _ =>
        val (bits, tables) = geometry
        graft.ops.Dedup.embeddingIndex(src, contentCol, idCol,
          bits = bits, tables = tables)
    }

  /** `dedup index attach where table/path/type/id/text [n]` — restart
    * re-registration. */
  private def dedupIndexAttach(t: String): String = {
    val table = reqArg(t, "table", "dedup index attach")
    val path = reqArg(t, "path", "dedup index attach")
    require(graft.ops.IndexStore.read(spark, path).isDefined,
      s"no dedup index artifact at $path")
    val kind = reqArg(t, "type", "dedup index attach").toLowerCase
    dindexes.register(table, DIndexMeta(path, kind,
      reqArg(t, "id", "dedup index attach"),
      reqArg(t, if (kind == "embedding") "vector" else "text",
        "dedup index attach"),
      arg(t, "n").map(_.toInt).getOrElse(3)))
    s"dedup index for $table attached from $path"
  }

  /** The dedup-index fold body: replace-on-refold by batch id (the
    * simhash/tindex contract — replay-idempotent), shingle enrichment
    * (df / rank / size) re-derived over the union so fold == rebuild;
    * the wm_ lineage tag advances in the same commit. */
  private def foldDindex(meta: DIndexMeta, delta: DataFrame,
      tag: Option[String], deltaWm: Option[Long]): Long = {
    val batchIds = delta.select(col(meta.idCol).as("__bid")).distinct()
    val v = foldInto(meta.path, "dedup index artifact", delta, tag,
        deltaWm) { stored =>
      val survivors =
        stored.join(batchIds, col("id") === col("__bid"), "left_anti")
      meta.kind match {
        case "shingle" =>
          graft.ops.Dedup.refreshShingleIndex(survivors, delta,
            meta.contentCol, meta.idCol, meta.shingleN)
        case "simhash" =>
          graft.ops.Dedup.refreshSimhashIndex(survivors, delta,
            meta.contentCol, meta.idCol)
        case "exact" =>
          survivors.unionByName(graft.ops.Dedup.exactHashIndex(delta,
            meta.contentCol, meta.idCol))
        case _ =>
          graft.ops.Dedup.refreshEmbeddingIndex(survivors, delta,
            meta.contentCol, meta.idCol)
      }
    }
    if (meta.kind == "exact") rebuildBloomSidecar(meta.path, tag)
    v
  }

  /** Re-derive the exact-index Bloom PREFILTER sidecar
    * (`<path>-bloom`) from the hashes artifact's CURRENT version, once
    * per `tag`. Rebuilt — never OR-folded — so deletes and partition
    * drops shed their bits: a one-way-only sidecar would creep toward
    * all-hits as retention churns. Extra bits only cost false-positive
    * probes (the gate's exact join follows every hit), but MISSING bits
    * change the answer: a Bloom miss is "definitely new", so the gate
    * admits duplicates of whatever the sidecar has not folded. One
    * aggregate over corpus-count hash rows; geometry re-derives from
    * the live count so the fp rate stays designed as the corpus grows
    * or shrinks. */
  private def rebuildBloomSidecar(path: String, tag: Option[String]): Unit =
    commitOnce(s"$path-bloom", tag)(graft.ops.IndexStore.write(
      graft.ops.Dedup.bloomIndex(stateAt(path, "exact-hash artifact"), "h",
        shards = 2, bitsPerKey = 8).localCheckpoint(), s"$path-bloom",
      tag.toSeq))

  /** Tombstone doc ids out of the dedup index of `kind` at `path` and
    * its Bloom sidecar, once per `tag`; returns the index's committed
    * version. Deleted content becomes re-INGESTABLE: the prefilter sheds
    * its bits with the rebuild (a one-way sidecar would keep "maybe"-ing
    * hashes the exact join no longer holds). */
  private def tombstoneDindex(path: String, kind: String, ids: DataFrame,
      tag: Option[String]): Long = {
    val v = rewrite(path, "dedup index artifact", tag) { stored =>
      kind match {
        case "simhash" => graft.ops.Dedup.deleteFromSimhashIndex(stored, ids)
        case "embedding" =>
          graft.ops.Dedup.deleteFromEmbeddingIndex(stored, ids)
        case "exact" => graft.ops.Dedup.deleteFromExactIndex(stored, ids)
        case _ => graft.ops.Dedup.deleteFromShingleIndex(stored, ids)
      }
    }
    if (kind == "exact") rebuildBloomSidecar(path, tag)
    v
  }

  /** `dedup index delete where path = <dir> and (ids = (1, 2, 3) |
    * source = <table|path> [and id = <col>])` — tombstone a set of doc
    * ids out of the standing SHINGLE index the near-dup ingest gate
    * carries ([[graft.ops.Dedup.deleteFromShingleIndex]]): the ids'
    * (id, h) rows drop and df / per-doc rank / size re-derive over the
    * survivors, so the gate's prefix filter keeps its exactness
    * invariants and delete == rebuild-over-survivors (q174). Commits
    * as a fresh crash-atomic IndexStore version. */
  private def dedupIndexDelete(t: String): String = {
    val path = reqArg(t, "path", "dedup index delete")
    val stored = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no dedup index at $path"))
    def docs(df: DataFrame) =
      df.select(countDistinct(col("id"))).head().getLong(0)
    val before = docs(stored)
    // a REGISTERED simhash/embedding artifact at this path deletes by
    // pure anti-join; shingle (the default — historical behavior for
    // unregistered paths) re-enriches df/rank/size over survivors
    val kind = dindexes.metas.find(_.path == path).map(_.kind)
      .getOrElse("shingle")
    val v = tombstoneDindex(path, kind, deleteIdsFrame(t), None)
    val after = docs(graft.ops.IndexStore.readVersion(spark, path, v))
    s"dedup index at $path: ${before - after} doc(s) deleted, " +
      s"$after remain"
  }

  /** `tindex near where table = <t> and w1 = <term> and w2 = <term>
    * [and w = <n>] [and format = table]` — unordered proximity
    * (NEAR/w) with per-doc pair count and closest distance. */
  private def tindexNear(t: String): String = {
    val stored = tindexes(reqArg(t, "table", "tindex near")).state
    val result = graft.ops.Retrieval.proximityMatch(stored,
      termPair(t, "tindex near"), arg(t, "w").map(_.toInt).getOrElse(5))
    rendered(t, result)
  }

  /** The one-row (w1, w2) term-pair frame of a tindex near / snippet /
    * phrase command `t`. */
  private def termPair(t: String, cmd: String): DataFrame =
    spark.range(1).select(lit(reqArg(t, "w1", cmd)).as("w1"),
      lit(reqArg(t, "w2", cmd)).as("w2"))

  /** `tindex snippet where table = <t> and w1 = <term> and w2 = <term>
    * [and window = <n>] [and format = table]` — KWIC context windows
    * around each matched doc's first phrase occurrence. */
  private def tindexSnippet(t: String): String = {
    val table = reqArg(t, "table", "tindex snippet")
    val tindex = tindexes(table)
    val (meta, stored) = (tindex.meta, tindex.state)
    val result = graft.ops.Retrieval.snippets(stored, catalog.table(table),
      termPair(t, "tindex snippet"), meta.textCol, meta.idCol,
      arg(t, "window").map(_.toInt).getOrElse(3))
    rendered(t, result)
  }

  /** `tindex like where table = <t> and pattern = "<substring>"
    * [and format = table]` — trigram-accelerated substring search
    * (requires the `grams = true` sidecar from `tindex create`). */
  private def tindexLike(t: String): String = {
    val table = reqArg(t, "table", "tindex like")
    val meta = tindexes(table).meta
    require(meta.grams, s"tindex for $table was created without " +
      "grams = true; rebuild with the trigram sidecar to use LIKE")
    val pattern = "(?i)\\bpattern\\s*=\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(t).map(_.group(1))
      .orElse(arg(t, "pattern"))
      .getOrElse(throw new IllegalArgumentException(
        "tindex like requires pattern = \"...\""))
    val grams = stateAt(s"${meta.path}-grams", "trigram sidecar")
    val result = graft.ops.Retrieval.likeSearch(grams,
      catalog.table(table), spark.range(1).select(lit(pattern).as("pat")),
      meta.textCol, meta.idCol)
    rendered(t, result)
  }

  /** `tindex search where table = <t> and probes = <table|path> and
    * k = <n> [and format = table]` — BM25 top-k from the standing
    * artifact (k1=1.2, b=0.75). */
  private def tindexSearch(t: String): String = {
    val tindex = tindexes(reqArg(t, "table", "tindex search"))
    val probes = tableOrPath(reqArg(t, "probes", "tindex search"))
    val result = graft.ops.Retrieval.bm25TopK(tindex.state, probes,
      tindex.meta.textCol, tindex.meta.idCol,
      reqArg(t, "k", "tindex search").toInt)
    rendered(t, result)
  }

  /** `tindex phrase where table = <t> and w1 = <term> and w2 = <term>
    * [and format = table]` — exact-adjacency phrase match with per-doc
    * phrase frequency, from position lists alone. */
  private def tindexPhrase(t: String): String = {
    val stored = tindexes(reqArg(t, "table", "tindex phrase")).state
    val result = graft.ops.Retrieval.phraseMatch(stored,
      termPair(t, "tindex phrase"))
    rendered(t, result)
  }

  /** `tindex attach where table = <t> and path = <dir> and id = <col>
    * and text = <col>` — re-register an existing artifact after an
    * engine restart. */
  private def tindexAttach(t: String): String = {
    val table = reqArg(t, "table", "tindex attach")
    val path = reqArg(t, "path", "tindex attach")
    require(graft.ops.IndexStore.read(spark, path).isDefined,
      s"no tindex artifact at $path")
    // the trigram sidecar's presence on disk IS the grams flag
    val grams = graft.ops.IndexStore.read(spark, s"$path-grams").isDefined
    tindexes.register(table, TIndexMeta(path,
      reqArg(t, "id", "tindex attach"), reqArg(t, "text", "tindex attach"),
      grams))
    s"tindex for $table attached from $path" +
      (if (grams) " (+trigram sidecar)" else "")
  }

  /** Per-key KMV sketch frame of a table: distinct word-3-gram shingle
    * hashes, avalanched to uniform variates, bottom-k per key — the
    * q134/q138 build, shared by create and refresh. */
  private def sindexBuild(src: org.apache.spark.sql.DataFrame,
      keyCol: String, textCol: String, k: Int) = {
    import org.apache.spark.sql.functions.{col, explode}
    graft.ops.Sketches.kmvKeyed(
      src.select(col(keyCol),
          explode(graft.ops.TextOps.shingleHashes(col(textCol), 3))
            .as("h0"))
        .select(col(keyCol), graft.ops.Sketches.avalanche31(col("h0"))
          .as("h")),
      keyCol, "h", k)
  }

  /** `sindex create where table = <t> and key = <col> and text = <col>
    * and k = <n> and path = <dir>` — build a standing per-key KMV
    * sketch index (bounded state: k longs per key). */
  private def sindexCreate(t: String): String = {
    val table = reqArg(t, "table", "sindex create")
    val path = reqArg(t, "path", "sindex create")
    val keyCol = reqArg(t, "key", "sindex create")
    val textCol = reqArg(t, "text", "sindex create")
    val k = reqArg(t, "k", "sindex create").toInt
    val built = sindexBuild(catalog.table(table), keyCol, textCol, k)
    val v = graft.ops.IndexStore.write(built.localCheckpoint(), path,
      wmTag(mvTableWm(catalog.table(table))))
    sindexes.register(table, SIndexMeta(path, keyCol, textCol, k))
    catalog.recordArtifact(s"sindex:$path",
      s"sindex attach where table = $table and path = $path and " +
        s"key = $keyCol and text = $textCol and k = $k")
    s"sindex for $table created at $path (version $v)"
  }

  /** The sindex fold body (per-key bottom-k KMV union — an idempotent
    * lattice join, fold == rebuild under any batch order) — shared by
    * `sindex refresh` and the ingest auto-fold. */
  private def foldSindex(meta: SIndexMeta, delta: DataFrame,
      tag: Option[String], deltaWm: Option[Long]): Long =
    foldInto(meta.path, "sindex artifact", delta, tag, deltaWm)(
      graft.ops.Sketches.kmvMergeKeyed(_,
        sindexBuild(delta, meta.keyCol, meta.textCol, meta.k), meta.k))

  /** `sindex estimate where table = <t> [and format = table]` — per-key
    * distinct-cardinality estimates from the artifact alone. */
  private def sindexEstimate(t: String): String = {
    val sindex = sindexes(reqArg(t, "table", "sindex estimate"))
    val (meta, stored) = (sindex.meta, sindex.state)
    import org.apache.spark.sql.functions.{col, size}
    val result = stored.select(col("key"),
        size(col("sk")).cast("long").as("kmv_size"),
        graft.ops.Sketches.kmvDistinctEst(col("sk"), meta.k)
          .as("kmv_est"))
      .orderBy(col("key"))
    rendered(t, result)
  }

  /** `sindex overlap where table = <t> and k = <pairs> [and format =
    * table]` — the top key pairs by estimated Jaccard, with union
    * cardinality estimates, computed from the #keys-row artifact alone
    * (the q134 algebra on the command surface). */
  private def sindexOverlap(t: String): String = {
    val table = reqArg(t, "table", "sindex overlap")
    val topPairs = reqArg(t, "k", "sindex overlap").toInt
    val sindex = sindexes(table)
    val (meta, stored) = (sindex.meta, sindex.state)
    import org.apache.spark.sql.functions.col
    val result = stored.as("a").join(stored.as("b"),
        col("a.key") < col("b.key"))
      .select(col("a.key").as("key_a"), col("b.key").as("key_b"),
        graft.ops.Sketches.kmvJaccardPpm(col("a.sk"), col("b.sk"),
          meta.k).as("jacc_ppm"),
        graft.ops.Sketches.kmvDistinctEst(
          graft.ops.Sketches.kmvUnionK(col("a.sk"), col("b.sk"), meta.k),
          meta.k).as("union_est"))
      .orderBy(col("jacc_ppm").desc, col("key_a"), col("key_b"))
      .limit(topPairs)
    rendered(t, result)
  }

  /** `sindex attach where table = <t> and path = <dir> and key = <col>
    * and text = <col> and k = <n>` — re-register an existing artifact
    * after an engine restart. */
  private def sindexAttach(t: String): String = {
    val table = reqArg(t, "table", "sindex attach")
    val path = reqArg(t, "path", "sindex attach")
    require(graft.ops.IndexStore.read(spark, path).isDefined,
      s"no sindex artifact at $path")
    sindexes.register(table, SIndexMeta(path,
      reqArg(t, "key", "sindex attach"), reqArg(t, "text", "sindex attach"),
      reqArg(t, "k", "sindex attach").toInt))
    s"sindex for $table attached from $path"
  }

  /** `compact where table = <t> and target_mb = <n>` — rewrite a
    * registered table's parquet directory into ~target_mb files: the
    * small-file repair every streaming-append layout eventually needs
    * (a 100 TB table of 100 KB files is a metadata DoS — scan planning
    * and footer reads dominate). Row-identical rewrite (count-checked),
    * atomic swap via rename, old files dropped. */
  private def compactCmd(t: String): String = {
    val table = reqArg(t, "table", "compact")
    val targetMb = reqArg(t, "target_mb", "compact").toLong
    require(targetMb >= 1, "target_mb must be >= 1")
    val path = catalog.tablePath(table).getOrElse(
      throw new IllegalArgumentException(s"unknown table $table"))
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(hadoopPath).filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L,
      (bytes + targetMb * 1048576 - 1) / (targetMb * 1048576)).toInt
    val df = spark.read.parquet(path)
    val before = df.count()
    val tmp = path.stripSuffix("/") + "__compact_tmp"
    // `sort = <col[,col2]>`: range-cluster the rewrite so every output
    // file (and every parquet row group inside it) covers a NARROW
    // slice of the sort key — the reader's min/max zone maps then skip
    // everything a selective predicate misses. The 1-D sibling of
    // `layout zorder` (which buys the same skipping on TWO correlated
    // dims); measured in PERF.md ("sorted compaction").
    val sortCols = arg(t, "sort").toSeq.flatMap(_.stripPrefix("(")
      .stripSuffix(")").split(",").map(_.trim).filter(_.nonEmpty))
    val writer =
      if (sortCols.isEmpty) df.repartition(nOut)
      else df.repartitionByRange(nOut, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    writer.write.mode("overwrite").parquet(tmp)
    val after = spark.read.parquet(tmp).count()
    require(after == before,
      s"compaction row mismatch: $before -> $after; aborted, original intact")
    swapDirs(fs, hadoopPath, new org.apache.hadoop.fs.Path(tmp))
    s"compacted $table: ${files.length} files -> $nOut " +
      s"(${bytes / 1048576} MB, $before rows" +
      (if (sortCols.isEmpty) ")"
       else s", range-clustered on ${sortCols.mkString(",")})")
  }

  /** Crash-safe directory swap: the target is renamed ASIDE first
    * (rename is the only atomic primitive a filesystem gives us), so a
    * crash at any point leaves the data reachable — either at the
    * target, or intact at `target__old` with the replacement in tmp.
    * The old delete-then-rename order had a window where the
    * registered path simply did not exist. */
  private def swapDirs(fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit = deleteGated {
    val old = new org.apache.hadoop.fs.Path(target.toString + "__old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(target, old))
      throw new IllegalStateException(s"swap: cannot move $target aside")
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target) // roll back; original untouched
      throw new IllegalStateException(s"swap: cannot promote $tmp")
    }
    fs.delete(old, true)
  }

  /** `merge into <target> using <source|path> on <keyCol>` — SCD1
    * upsert: source rows win on key collision, target rows without a
    * source match survive (the lakehouse MERGE the append-only
    * reference lacks; ours composes from one left-anti + union).
    * Row-count receipt; rewrite is atomic via the compact swap. */
  /** `merge scd2 into <target> using <source|path> on <keyCol> at
    * <tsCol>` — slowly-changing-dimension TYPE 2 upsert (Kimball's
    * SCD2): instead of overwriting (the SCD1 `merge into`), every
    * change CLOSES the key's current row (`valid_to` = the change
    * time, `is_current` = false) and INSERTS a new versioned row, so
    * the table keeps full history and any past state is one
    * `(valid_from IS NULL OR valid_from <= t) AND (valid_to IS NULL
    * OR t < valid_to)` filter away (the NULL `valid_from` arm keeps
    * the since-forever rows the first merge stamps — dropping it
    * silently loses pre-history state). First SCD2 merge stamps the
    * three system columns onto the target (existing rows:
    * `valid_from` NULL = since-forever, current). Multiple batch rows
    * per key CHAIN: each row's `valid_to` is the key's next change
    * time (one per-key window over the BATCH only — never over target
    * history). Duplicate (key, ts) batch rows are REJECTED loudly:
    * two changes at the same instant have no defined order, so any
    * chaining of them would be nondeterministic (which row ends up
    * `is_current` would vary run to run) — de-duplicate or timestamp
    * the source first. Same crash-safe swap + row-count receipt as
    * compact/merge. */
  private def mergeScd2(t: String): String = {
    val m = ("(?i)merge\\s+scd2\\s+into\\s+(\\S+)\\s+using\\s+(\\S+)" +
      "\\s+on\\s+(\\S+)\\s+at\\s+(\\S+)").r.findFirstMatchIn(t)
      .getOrElse(throw new IllegalArgumentException(
        "merge scd2 into <target> using <source> on <key> at <ts>"))
    val (target, src, key, ts) =
      (m.group(1), m.group(2), m.group(3), m.group(4))
    import org.apache.spark.sql.functions.{col, lead, lit, min => fmin}
    val tgt0 = catalog.table(target)
    val tgt =
      if (tgt0.columns.contains("is_current")) tgt0
      else tgt0 // first merge: existing rows are current since-forever
        .withColumn("valid_from",
          lit(null).cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("valid_to",
          lit(null).cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("is_current", lit(true))
    val batch = tableOrPath(src)
    require(batch.columns.contains(ts), s"source lacks ts column $ts")
    // determinism gate: a duplicate (key, ts) pair has no defined
    // chain order — the lead() below would pick a nondeterministic
    // winner for is_current. Fail loudly instead of silently varying.
    val nDupTs = batch.groupBy(col(key), col(ts))
      .count().filter(col("count") > 1).count()
    require(nDupTs == 0L,
      s"scd2 batch has $nDupTs duplicate ($key, $ts) pairs — two " +
        "changes at the same instant have no defined version order; " +
        "de-duplicate the source or refine the timestamps")
    // chain versions WITHIN the batch: one per-key window over the
    // batch only (batch-sized, never history-sized); (key, ts) is
    // unique (gate above), so this order is total and deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(ts)
    // ts stays as a data column when the target carries it; the
    // final select projects onto the target's schema either way
    val newRows = batch
      .withColumn("valid_from", col(ts).cast("timestamp"))
      .withColumn("valid_to", lead(col(ts), 1).over(w).cast("timestamp"))
      .withColumn("is_current", col("valid_to").isNull)
    val firstTs = batch.groupBy(col(key))
      .agg(fmin(col(ts)).cast("timestamp").as("__first_ts"))
    val updated = tgt.filter(col("is_current"))
      .join(firstTs.select(col(key)), Seq(key), "left_semi").count()
    val closed = tgt.join(firstTs, Seq(key), "left")
      .withColumn("valid_to",
        org.apache.spark.sql.functions.when(
          col("is_current") && col("__first_ts").isNotNull,
          col("__first_ts")).otherwise(col("valid_to")))
      .withColumn("is_current",
        col("is_current") && col("__first_ts").isNull)
      .drop("__first_ts")
    val merged = closed.unionByName(
      newRows.select(closed.columns.toIndexedSeq.map(col): _*))
    val path = catalog.tablePath(target).getOrElse(
      throw new IllegalArgumentException(s"unknown table $target"))
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tmp = path.stripSuffix("/") + "__scd2_tmp"
    val tgtCount = tgt.count()
    val batchCount = batch.count()
    merged.write.mode("overwrite").parquet(tmp)
    val after = spark.read.parquet(tmp).count()
    require(after == tgtCount + batchCount,
      s"scd2 row mismatch: expected ${tgtCount + batchCount}, wrote " +
        s"$after; aborted, original intact")
    swapDirs(fs, hadoopPath, new org.apache.hadoop.fs.Path(tmp))
    s"scd2 merged into $target: $updated keys versioned, " +
      s"$batchCount rows appended (history preserved)"
  }

  private def mergeCmd(t: String): String = {
    val m = "(?i)merge\\s+into\\s+(\\S+)\\s+using\\s+(\\S+)\\s+on\\s+(\\S+)"
      .r.findFirstMatchIn(t).getOrElse(throw new IllegalArgumentException(
        "merge into <target> using <source> on <key>"))
    val (target, src, key) = (m.group(1), m.group(2), m.group(3))
    val tgt = catalog.table(target)
    val batch = tableOrPath(src)
    import org.apache.spark.sql.functions.col
    val merged = batch.unionByName(
      tgt.join(batch.select(col(key)), Seq(key), "left_anti"))
    val path = catalog.tablePath(target).getOrElse(
      throw new IllegalArgumentException(s"unknown table $target"))
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val tmp = path.stripSuffix("/") + "__merge_tmp"
    val updated = batch.join(tgt.select(col(key)), Seq(key), "left_semi")
      .count()
    val inserted = batch.count() - updated
    val survivors =
      tgt.join(batch.select(col(key)), Seq(key), "left_anti").count()
    merged.write.mode("overwrite").parquet(tmp)
    // row-count receipt BEFORE the swap destroys anything (mirrors
    // compactCmd): merged = whole batch + unmatched target rows
    val after = spark.read.parquet(tmp).count()
    require(after == updated + inserted + survivors,
      s"merge row mismatch: expected ${updated + inserted + survivors}, " +
        s"wrote $after; aborted, original intact")
    swapDirs(fs, hadoopPath, new org.apache.hadoop.fs.Path(tmp))
    s"merged into $target: $updated updated, $inserted inserted"
  }

  /** Per-key per-minute counts `(etype, m, x)` from a raw event frame —
    * the CUSUM monitors' shared input shape. */
  private def monitorMinutes(src: org.apache.spark.sql.DataFrame,
      keyCol: String, tsCol: String) = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    src.select(col(keyCol).as("etype"),
        expr(s"unix_micros($tsCol) div 60000000").as("m"))
      .groupBy("etype", "m").agg(count(lit(1)).as("x"))
  }

  /** Per-key log-lattice bucket histogram of an int64-castable value
    * expression (nonnegative rows only) — the PSI monitors' shared
    * input shape ([[graft.ops.Sketches.quantileHistogram]] buckets). */
  private def psiHist(df: org.apache.spark.sql.DataFrame, keyCol: String,
      valueExpr: String) = {
    import org.apache.spark.sql.functions.{col, count, expr, lit}
    df.select(col(keyCol).as("key"),
        expr(s"cast($valueExpr as bigint)").as("vq"))
      .filter(col("vq") >= 0)
      .select(col("key"),
        expr(graft.ops.Sketches.logBucketSpark("vq")).as("b"))
      .groupBy("key", "b").agg(count(lit(1)).as("c"))
  }

  /** `monitor psi create where table = <t> and key = <col> and value =
    * <int64-expr> and path = <dir>` — freeze a per-key baseline value
    * histogram (bounded log-lattice buckets) as a standing artifact.
    * The baseline is the frozen-denominator discipline every drift
    * score needs — re-deriving it from drifted data would hide the
    * drift being measured. */
  private def monitorPsiCreate(t: String): String = {
    val table = reqArg(t, "table", "monitor psi create")
    val path = reqArg(t, "path", "monitor psi create")
    val h = psiHist(catalog.table(table),
      reqArg(t, "key", "monitor psi create"),
      reqArg(t, "value", "monitor psi create"))
    val rows = graft.ops.IndexStore.write(h.localCheckpoint(), path)
    s"psi baseline for $table created at $path (version $rows)"
  }

  /** `monitor psi check where path = <dir> and source = <table|path>
    * and key = <col> and value = <int64-expr> [and format = table]` —
    * PSI of a batch against the frozen baseline, per key
    * ([[graft.ops.Sketches.psi]]: integer-lattice terms, drift flags
    * PSI > 0.2). Arithmetic over <= #buckets rows per key; the batch
    * is scanned once, map-side combined. */
  private def monitorPsiCheck(t: String): String = {
    val path = reqArg(t, "path", "monitor psi check")
    val baseline = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no psi baseline at $path"))
    val batch = tableOrPath(reqArg(t, "source", "monitor psi check"))
    import org.apache.spark.sql.functions.col
    val out = graft.ops.Sketches.psi(baseline,
        psiHist(batch, reqArg(t, "key", "monitor psi check"),
          reqArg(t, "value", "monitor psi check")))
      .orderBy(col("key"))
    rendered(t, out)
  }

  /** `monitor create where table = <t> and key = <col> and ts = <col>
    * and path = <dir>` — initialize a standing CUSUM drift monitor:
    * per-key per-minute counts, baseline k frozen from this history
    * ([[graft.streaming.StreamOps.cusumInit]]). */
  private def monitorCreate(t: String): String = {
    val table = reqArg(t, "table", "monitor create")
    val path = reqArg(t, "path", "monitor create")
    val keyCol = reqArg(t, "key", "monitor create")
    val tsCol = reqArg(t, "ts", "monitor create")
    val state = graft.streaming.StreamOps.cusumInit(
      monitorMinutes(catalog.table(table), keyCol, tsCol))
    val rows = graft.ops.IndexStore.write(state.localCheckpoint(), path)
    monitors += table -> MonitorMeta(path, keyCol, tsCol)
    catalog.recordArtifact(s"monitor:$path",
      s"monitor attach where table = $table and path = $path and " +
        s"key = $keyCol and ts = $tsCol")
    s"monitor for $table created at $path ($rows keys)"
  }

  /** `monitor attach where table = <t> and path = <dir> and key =
    * <col> and ts = <col>` — re-register an existing CUSUM monitor
    * after an engine restart. */
  private def monitorAttach(t: String): String = {
    val table = reqArg(t, "table", "monitor attach")
    val path = reqArg(t, "path", "monitor attach")
    require(graft.ops.IndexStore.read(spark, path).isDefined,
      s"no monitor state at $path")
    monitors += table -> MonitorMeta(path, reqArg(t, "key", "monitor attach"),
      reqArg(t, "ts", "monitor attach"))
    s"monitor for $table attached from $path"
  }

  /** `monitor refresh where table = <t> and source = <table|path>` —
    * fold strictly-later events into the standing state (exact
    * recursion composition; out-of-order batches throw). */
  private def monitorRefresh(t: String): String = {
    val table = reqArg(t, "table", "monitor refresh")
    val meta = monitors.getOrElse(table,
      throw new IllegalArgumentException(s"no monitor registered for $table"))
    val delta = tableOrPath(reqArg(t, "source", "monitor refresh"))
    val stored = stateAt(meta.path, "monitor state")
    val folded = graft.streaming.StreamOps.cusumFold(stored,
      monitorMinutes(delta, meta.keyCol, meta.tsCol)).localCheckpoint()
    val rows = graft.ops.IndexStore.write(folded, meta.path)
    s"monitor for $table refreshed ($rows keys)"
  }

  /** `monitor level where table = <t> [and format = table]` — current
    * per-key alarm level from the artifact alone. */
  private def monitorLevel(t: String): String = {
    val table = reqArg(t, "table", "monitor level")
    val meta = monitors.getOrElse(table,
      throw new IllegalArgumentException(s"no monitor registered for $table"))
    val stored = stateAt(meta.path, "monitor state")
    import org.apache.spark.sql.functions.col
    val result = graft.streaming.StreamOps.cusumLevel(stored)
      .orderBy(col("etype"))
    rendered(t, result)
  }

  /** `graph <op> where edges = <table|path> and src = <col> and dst =
    * <col> [and iters = 3] [and k = 30] [and seeds = <table|path> and
    * seedcol = <col>] [and top = 50] [and format = table]` — the
    * [[graft.ops.Graph]] family on the command surface. Ops:
    * `pagerank`, `ppr` (needs seeds), `components`, `triangles`,
    * `kcore` (needs k). Edge rows are (src, dst); `components` and
    * `triangles` treat them as undirected (normalized + symmetrized
    * internally), `pagerank`/`ppr`/`kcore` expect both directions
    * present — pass `symmetrize = true` to add them. */
  private def graphCmd(t: String): String = {
    import org.apache.spark.sql.functions.{col, greatest, least}
    val op = t.trim.split("\\s+")(1).toLowerCase
    val e0 = tableOrPath(reqArg(t, "edges", "graph command"))
      .select(col(reqArg(t, "src", "graph command")).as("src"),
        col(reqArg(t, "dst", "graph command")).as("dst"))
    val edges =
      if (arg(t, "symmetrize").exists(_.equalsIgnoreCase("true")))
        e0.unionByName(e0.select(col("dst").as("src"),
          col("src").as("dst")))
      else e0
    val top = arg(t, "top").map(_.toInt).getOrElse(50)
    val iters = arg(t, "iters").map(_.toInt).getOrElse(3)
    val result = op match {
      case "pagerank" =>
        graft.ops.Graph.pageRank(edges, iters)
          .orderBy(col("rank_q").desc, col("node")).limit(top)
      case "ppr" =>
        val seeds = tableOrPath(reqArg(t, "seeds", "graph command"))
          .select(col(reqArg(t, "seedcol", "graph command")).as("node"))
        graft.ops.Graph.personalizedPageRank(edges, seeds, iters)
          .orderBy(col("rank_q").desc, col("node")).limit(top)
      case "components" =>
        graft.ops.Dedup.connectedComponents(
            edges.select(col("src").as("id_a"), col("dst").as("id_b")))
          .orderBy(col("id")).limit(top)
      case "triangles" =>
        graft.ops.Graph.triangles(
            edges.select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
              .filter(col("a") =!= col("b")).distinct())
          .orderBy(col("x"), col("y"), col("z")).limit(top)
      case "kcore" =>
        graft.ops.Graph.kcore(edges, reqArg(t, "k", "graph command").toInt)
          .orderBy(col("node")).limit(top)
      case other => throw new IllegalArgumentException(
        s"unknown graph op '$other' (pagerank|ppr|components|" +
          "triangles|kcore)")
    }
    rendered(t, result)
  }

  private def triNormalize(df: org.apache.spark.sql.DataFrame,
      srcCol: String, dstCol: String) = {
    import org.apache.spark.sql.functions.{col, greatest, least}
    df.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** `graph tricount create where edges = <table|path> and src = <col>
    * and dst = <col> and path = <dir>` — STANDING triangle census:
    * normalizes the undirected edge set, runs the one-time full census
    * ([[graft.ops.Graph.triangles]] — the only place it ever runs),
    * and persists edges + count through the crash-atomic IndexStore
    * (edge state at `path`, the count row at `path-count`). */
  /** The census total rides as an [[graft.ops.IndexStore]] TAG inside
    * the SAME committed version as the edge state (tag files land
    * before the commit marker), so edges and count are atomic — no
    * window where new edges committed with a stale count (a crash
    * between two separate artifact writes would otherwise let the next
    * refresh's anti-join drop those edges from the delta, silently
    * undercounting forever). Legacy two-artifact stores (`-count`
    * sidecar) remain readable. */
  private val TriTagRx = "TRICOUNT_(\\d+)_(\\d+)".r

  /** (n_triangles, n_edges) committed WITH the current edge version,
    * falling back to the legacy `-count` sidecar artifact. */
  private def triStats(path: String): (Long, Long) =
    graft.ops.IndexStore.currentTags(spark, path)
      .collectFirst { case TriTagRx(tri, e) => (tri.toLong, e.toLong) }
      .getOrElse {
        val cntPath = path.stripSuffix("/") + "-count"
        val prev = graft.ops.IndexStore.read(spark, cntPath).getOrElse(
          throw new IllegalArgumentException(
            s"no tricount census at $path (neither version tag nor " +
              s"legacy $cntPath)")).head()
        (prev.getAs[Long]("n_triangles"), prev.getAs[Long]("n_edges"))
      }

  private def triCreate(t: String): String = {
    val path = reqArg(t, "path", "graph tricount")
    val e = triNormalize(tableOrPath(reqArg(t, "edges", "graph tricount")),
      reqArg(t, "src", "graph tricount"), reqArg(t, "dst", "graph tricount"))
      .localCheckpoint(true)
    val nTri = graft.ops.Graph.triangles(e).count()
    val nEdges = e.count()
    graft.ops.IndexStore.write(e, path,
      Some(s"TRICOUNT_${nTri}_$nEdges"))
    s"tricount created at $path: $nTri triangles over $nEdges edges"
  }

  /** `graph tricount refresh where path = <dir> and source =
    * <table|path> and src = <col> and dst = <col>` — fold a batch of
    * new edges into the standing census via
    * [[graft.ops.Graph.triangleDelta]] ONLY: the old graph's wedges
    * are never re-enumerated (batch-shaped cost — the q150 oracle
    * proves fold == rebuild; this serve path never pays the proof's
    * census half, gated by TriCountServeSpec on Graph.censusRuns). */
  private def triRefresh(t: String): String = {
    val path = reqArg(t, "path", "graph tricount")
    val old = graft.ops.IndexStore.read(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no tricount at $path"))
      .localCheckpoint(true)
    val (prevTri, _) = triStats(path)
    val fresh = triNormalize(
        tableOrPath(reqArg(t, "source", "graph tricount")),
        reqArg(t, "src", "graph tricount"),
        reqArg(t, "dst", "graph tricount"))
      .join(old, Seq("a", "b"), "left_anti").localCheckpoint(true)
    val nNew = fresh.count()
    val delta =
      if (nNew == 0) 0L
      else graft.ops.Graph.triangleDelta(old, fresh).count()
    val merged = old.unionByName(fresh).localCheckpoint(true)
    val nEdges = merged.count()
    // ONE commit carries both the merged edges and the new census
    // total (tag in the same version dir) — crash-atomic as a pair
    graft.ops.IndexStore.write(merged, path,
      Some(s"TRICOUNT_${prevTri + delta}_$nEdges"))
    s"tricount refreshed at $path: +$nNew edges, +$delta triangles, " +
      s"total ${prevTri + delta}"
  }

  /** `graph tricount get where path = <dir>` — serve the standing
    * count: reads the ONE-row artifact, no graph access at all. */
  private def triGet(t: String): String = {
    val path = reqArg(t, "path", "graph tricount")
    val (nTri, nEdges) = triStats(path)
    import org.apache.spark.sql.functions.lit
    val df = spark.range(1).select(lit(nTri).as("n_triangles"),
      lit(nEdges).as("n_edges"))
    rendered(t, df)
  }

  /** `layout zorder where table = <t> and x = <col> and y = <col> and
    * path = <dir> [and bits = 10] [and buckets = 64]` — write a
    * Morton-clustered, directory-partitioned copy of the table (both
    * columns must be int64-castable; timestamps cast to epoch micros
    * first via a view). */
  private def layoutZorder(t: String): String = {
    val table = reqArg(t, "table", "layout zorder")
    val path = reqArg(t, "path", "layout zorder")
    val xc = reqArg(t, "x", "layout zorder")
    val yc = reqArg(t, "y", "layout zorder")
    val bits = arg(t, "bits").map(_.toInt).getOrElse(10)
    val buckets = arg(t, "buckets").map(_.toInt).getOrElse(64)
    graft.ops.Layout.zorderWrite(catalog.table(table), xc, yc, path,
      bits, buckets)
    layouts += table -> LayoutMeta(path, xc, yc, bits, buckets)
    catalog.recordArtifact(s"layout:$path",
      s"layout attach where table = $table and path = $path and " +
        s"x = $xc and y = $yc and bits = $bits and buckets = $buckets")
    s"layout for $table written at $path " +
      s"($buckets quad buckets, $bits-bit dims)"
  }

  /** `layout attach where table = <t> and path = <dir> and x = <col>
    * and y = <col> and bits = <n> and buckets = <n>` — re-register an
    * existing Z-order layout after an engine restart. */
  private def layoutAttach(t: String): String = {
    val table = reqArg(t, "table", "layout attach")
    val path = reqArg(t, "path", "layout attach")
    layouts += table -> LayoutMeta(path, reqArg(t, "x", "layout attach"),
      reqArg(t, "y", "layout attach"), reqArg(t, "bits", "layout attach").toInt,
      reqArg(t, "buckets", "layout attach").toInt)
    s"layout for $table attached from $path"
  }

  /** `layout refresh where table = <t> and source = <table|path>` —
    * append a batch into the standing Z-order layout, coded against
    * the RECORDED quantization grid (out-of-range values clamp to the
    * edge quads; the grid is never re-derived from drifted data). */
  private def layoutRefresh(t: String): String = {
    val table = reqArg(t, "table", "layout refresh")
    val meta = layouts.getOrElse(table,
      throw new IllegalArgumentException(s"no layout registered for $table"))
    val delta = tableOrPath(reqArg(t, "source", "layout refresh"))
    val n = delta.count()
    graft.ops.Layout.zorderAppend(delta, meta.xCol, meta.yCol, meta.path,
      meta.bits, meta.buckets)
    s"layout for $table refreshed (+$n rows)"
  }

  /** `layout scan where table = <t> and x0 = <n> and x1 = <n> and
    * y0 = <n> and y1 = <n> [and format = table]` — serve a 2-D box
    * query (QUANTIZED coordinates) from the registered layout:
    * candidate quads computed on the driver ([[graft.ops.Layout
    * .candidateBuckets]] — no data access), then a partition-pruned
    * read. Returns the pruning receipt + matching row count. */
  private def layoutScan(t: String): String = {
    val table = reqArg(t, "table", "layout scan")
    val meta = layouts.getOrElse(table,
      throw new IllegalArgumentException(s"no layout registered for $table"))
    val x0 = reqArg(t, "x0", "layout scan").toLong
    val x1 = reqArg(t, "x1", "layout scan").toLong
    val y0 = reqArg(t, "y0", "layout scan").toLong
    val y1 = reqArg(t, "y1", "layout scan").toLong
    val cands = graft.ops.Layout.candidateBuckets(x0, x1, y0, y1,
      meta.bits, meta.buckets)
    import org.apache.spark.sql.functions.{col, lit}
    val rows =
      if (cands.isEmpty) 0L
      else spark.read.parquet(meta.path)
        .filter(col("zbucket").isin(cands: _*))
        .filter(col("zq_x").between(x0, x1) &&
          col("zq_y").between(y0, y1))
        .count()
    val result = spark.range(1).select(
      lit(meta.buckets).as("buckets_total"),
      lit(cands.length).as("buckets_scanned"),
      lit(rows).as("rows_matching"))
    rendered(t, result)
  }

  /** `hybrid search where table = <t> and probes = <table|path> and
    * k = <n> [and k_leg = <n>] [and nprobe = <n>] [and format =
    * table]` — reciprocal-rank fusion of the table's REGISTERED text
    * index (BM25 leg) and vector index (ANN leg): the q129 composition
    * on the command surface. The probe source must carry both the
    * text column and the vector column the two indexes were built on;
    * each leg ranks its top `k_leg` (default 2k), the fusion re-ranks
    * top k ([[graft.ops.Retrieval.rrfFuse]]). */
  private def hybridSearch(t: String): String = {
    val table = reqArg(t, "table", "hybrid search")
    def needs(word: String) = new IllegalArgumentException(
      s"hybrid search needs a $word registered for $table")
    val tindex = tindexes.get(table).getOrElse(throw needs("tindex"))
    val vindex = vindexes.get(table).getOrElse(throw needs("vindex"))
    val tmeta = tindex.meta
    val probes = tableOrPath(reqArg(t, "probes", "hybrid search"))
    val k = reqArg(t, "k", "hybrid search").toInt
    val kLeg = arg(t, "k_leg").map(_.toInt).getOrElse(2 * k)
    val textLeg = graft.ops.Retrieval.bm25TopK(tindex.state, probes,
        tmeta.textCol, tmeta.idCol, kLeg)
      .select(col("q_id"), col("rank"), col("id"))
    val vecLeg = vindexTopK(vindex, probes, kLeg, t)
      .select(col("q_id"), col("rank"), col("id"))
    val result = graft.ops.Retrieval.rrfFuse(textLeg, vecLeg, k)
    rendered(t, result)
  }

  /** `drop partition <table|path> before <bucket>` /
    * `drop partition <table|path> older than <n> <unit>
    * [and force = true]` — the retention primitive
    * (cmd/member_cmd.py:21115), now with RETENTION SYMMETRY: when the
    * target resolves to a REGISTERED table, the dropped rows first
    * fold OUT of every registered standing artifact over that table
    * (matview / rollup / join matview / vindex / tindex), so nightly
    * retention never leaves an index serving forgotten rows. The
    * boundary map is enforced BEFORE anything is deleted: an artifact
    * that cannot fold deletes (min/max matview or jmv spec, one-way
    * KMV sindex, monitor tail state) REFUSES the whole drop — pass
    * `force = true` to drop anyway (the stale artifact is recorded in
    * the auto-fold error log). Folds run BEFORE the directory deletes
    * and are exactly-once under re-run (IndexStore drop-tags for the
    * subtractive folds; the id-tombstone folds are idempotent), so a
    * crash between a fold and the final delete re-runs cleanly. */
  private def dropPartition(t: String): String = {
    val beforeRx = "(?i)drop partition\\s+(\\S+)\\s+before\\s+(\\S+)".r
    val ageRx =
      "(?i)drop partition\\s+(\\S+)\\s+older than\\s+(\\d+)\\s+(\\w+)".r
    val force = "(?i)\\bforce\\s*=\\s*true".r.findFirstIn(t).isDefined
    val (target, keepFrom) =
      (beforeRx.findFirstMatchIn(t), ageRx.findFirstMatchIn(t)) match {
        case (_, Some(m)) =>
          // age relative to now (the reference drops the oldest
          // partitions by age, member_cmd.py:21115)
          val horizon = graft.dialect.DateLiterals.applyModifier(
            graft.dialect.DateLiterals.utcNow(),
            s"-${m.group(2)} ${m.group(3)}")
          (m.group(1), horizon.toLocalDate.toString)
        case (Some(m), _) => (m.group(1), m.group(2))
        case _ => throw new IllegalArgumentException(s"bad drop: $t")
      }
    // a registered table name, or the path one was registered at —
    // either way the standing-artifact fleet over that table folds
    val tableOpt =
      if (catalog.tableNames.contains(target)) Some(target)
      else catalog.tableNames.find(n => catalog.tablePath(n).contains(target))
    val path = tableOpt.flatMap(catalog.tablePath).getOrElse(target)
    val receipts = tableOpt.toSeq.flatMap(tbl =>
      foldDropIntoArtifacts(tbl, keepFrom, force))
    val dropped =
      deleteGated(TimePartitions.dropOlderThan(spark, path, keepFrom))
    (s"dropped ${dropped.length} partitions: ${dropped.mkString(", ")}" +:
      receipts).mkString("\n")
  }

  /** The retention-symmetry body of [[dropPartition]]: fold the rows
    * of every partition bucket below `keepFrom` OUT of each registered
    * standing artifact over `table`, refusing per the deletion
    * boundary map (COVERAGE). Returns per-artifact receipts. Runs
    * ENTIRELY before any base directory is deleted — the tombstone
    * batch is checkpointed from the still-present buckets, and the
    * rollup's targeted re-aggregation reads the SURVIVOR frame
    * (base filtered to `__par >= keepFrom`), so no step ever needs a
    * row the drop already removed. */
  private def foldDropIntoArtifacts(table: String, keepFrom: String,
      force: Boolean): Seq[String] = {
    import org.apache.spark.sql.functions.lit
    val base = catalog.table(table)
    if (!base.columns.contains("__par")) return Seq.empty
    def hasMinMax(aggs: Seq[graft.ops.MatView.AggSpec]) =
      aggs.exists(a => a.fn == "min" || a.fn == "max")
    def noCount(aggs: Seq[graft.ops.MatView.AggSpec]) =
      !aggs.exists(_.fn == "count")
    // ---- boundary map, checked before ANY side effect ----
    val refusals = Seq.newBuilder[String]
    matviews.get(table).foreach { m =>
      if (hasMinMax(m.aggs)) refusals +=
        s"matview at ${m.path} records min/max (not self-maintainable " +
          "under deletes — rebuild it after the drop)"
      else if (noCount(m.aggs)) refusals +=
        s"matview at ${m.path} records no count (group retirement " +
          "undecidable)"
    }
    joinMatviews.foreach { case (p, spec) =>
      if (spec.left == table || spec.right == table) {
        if (hasMinMax(spec.aggs)) refusals +=
          s"join matview at $p records min/max (not self-maintainable " +
            "under deletes)"
        else if (noCount(spec.aggs)) refusals +=
          s"join matview at $p records no count"
      }
    }
    families.flatMap(_.get(table)).foreach(a =>
      a.retain.left.foreach(why => refusals += s"${a.word} at ${a.path} $why"))
    monitors.get(table).foreach(m => refusals +=
      s"monitor at ${m.path} carries one-way tail state")
    val refused = refusals.result()
    if (refused.nonEmpty && !force) throw new IllegalStateException(
      s"drop partition $table refused — standing artifact(s) would " +
        "keep serving the dropped rows:\n  " +
        refused.mkString("\n  ") +
        "\nrebuild or drop those artifacts first, or add `and force = " +
        "true` to drop anyway (they will be recorded stale in the " +
        "auto-fold error log)")
    refused.foreach(r =>
      foldError(s"drop partition $table: STALE $r"))
    // ---- the tombstone batch (checkpointed BEFORE any delete) ----
    val droppedRows = base.filter(col("__par") < lit(keepFrom))
      .localCheckpoint()
    val nDrop = droppedRows.count()
    if (nDrop == 0L) return refused.map(r => s"STALE (forced): $r")
    // exactly-once tag keyed by the drop EVENT, not just the horizon:
    // late-arriving rows can re-create a bucket below a horizon that
    // was already dropped once, and a second `drop partition` at the
    // same horizon must fold THOSE rows — a horizon-only tag would
    // skip every fold ("already folded") while the dirs still delete,
    // leaving each artifact silently stale (found by the concurrency
    // soak). The dropped rows' own max tsd_id + count identify the
    // event; a RETRY of the same drop (crash between artifact folds,
    // dirs still present) recomputes the identical tag and skips the
    // already-folded artifacts as before.
    val tag = s"drop_${table}_${keepFrom}_${mvTableWm(droppedRows)}_$nDrop"
    val survivors = base.filter(col("__par") >= lit(keepFrom))
    val receipts = Seq.newBuilder[String]
    refused.foreach(r => receipts += s"STALE (forced): $r")
    def tagged(p: String) = graft.ops.IndexStore.hasTag(spark, p, tag)
    def noPar(df: org.apache.spark.sql.DataFrame) = df.drop("__par")

    matviews.get(table)
      .filterNot(m => hasMinMax(m.aggs) || noCount(m.aggs))
      .foreach { m =>
        if (tagged(m.path))
          receipts += s"matview at ${m.path}: already folded (drop tag)"
        else {
          val state = stateAt(m.path, "matview state")
          val wm = mvWmOf(m.path, state) // retention doesn't advance lineage
          // subtract ONLY rows the view has folded (tsd_id <= wm) —
          // rows above the lineage watermark (appended while auto
          // refresh was off, or after a fold crash) were never added,
          // and subtracting their partials would silently under-count
          // any group whose count stays non-negative (ADVICE r11);
          // dropping them unfolded is exact: a later `matview sync`
          // replays tsd_id > wm from the base, where they no longer
          // exist
          val foldable =
            if (wm >= 0 && droppedRows.columns.contains("tsd_id"))
              droppedRows.filter(col("tsd_id").cast("long") <= wm)
            else droppedRows
          val folded = graft.ops.MatView.foldDelete(stripWm(state),
            foldable, m.keys, m.aggs)
            .withColumn(graft.ops.MatView.WatermarkCol, lit(wm))
            .localCheckpoint()
          val cntAlias = m.aggs.find(_.fn == "count").get.alias
          val neg = folded.filter(col(cntAlias) < 0).count()
          require(neg == 0L,
            s"drop partition $table: matview at ${m.path} went " +
              s"count-negative on $neg group(s) — the view has not " +
              "folded all dropped rows (run `matview sync` first); " +
              "aborted with all state intact")
          graft.ops.IndexStore.write(folded, m.path,
            Seq(tag) ++ wmTag(wm))
          receipts += s"matview at ${m.path}: $nDrop tombstones folded"
        }
      }
    joinMatviews.foreach { case (p, spec) =>
      val side = if (spec.left == table) Some("left")
        else if (spec.right == table) Some("right") else None
      side.filterNot(_ => hasMinMax(spec.aggs) || noCount(spec.aggs))
        .foreach { sd =>
          if (tagged(p))
            receipts += s"join matview at $p: already folded (drop tag)"
          else {
            import graft.ops.JoinMatView.{WmLeftCol, WmRightCol}
            val state = stateAt(p, "join matview")
            val (wmL, wmR) = jmvWmsOf(p, state)
            val (wmSide, wmOther) =
              if (sd == "left") (wmL, wmR) else (wmR, wmL)
            val otherName = if (sd == "left") spec.right else spec.left
            // the state holds partials of L_asof(wmL) ⋈ R_asof(wmR),
            // so the subtractive fold must mirror BOTH snapshots
            // (ADVICE r11): (a) only dropped rows this side had
            // folded (tsd_id <= wmSide) contributed pairs — rows
            // above the watermark subtract nothing and are exact to
            // drop unfolded (`join matview sync` replays > wmSide
            // from the post-drop base); (b) those pairs joined the
            // OTHER side AS OF ITS watermark — joining the current
            // other table would subtract dropped ⋈ Δother partials
            // the state never contained (silent under-count)
            val foldable =
              if (wmSide >= 0 && droppedRows.columns.contains("tsd_id"))
                droppedRows.filter(col("tsd_id").cast("long") <= wmSide)
              else droppedRows
            val otherCur = catalog.table(otherName)
            val otherAsOf =
              if (wmOther >= 0 && otherCur.columns.contains("tsd_id"))
                otherCur.filter(col("tsd_id").cast("long") <= wmOther)
              else otherCur
            val folded = graft.ops.JoinMatView.delete(stripWm(state),
              noPar(noSysCols(foldable)),
              noPar(noSysCols(otherAsOf)), spec, sd)
              .withColumn(WmLeftCol, lit(wmL))
              .withColumn(WmRightCol, lit(wmR))
              .localCheckpoint()
            val cntAlias = spec.aggs.find(_.fn == "count").get.alias
            val neg = folded.filter(col(cntAlias) < 0).count()
            require(neg == 0L,
              s"drop partition $table: join matview at $p went " +
                s"count-negative on $neg group(s) — run `join matview " +
                "sync` first; aborted with all state intact")
            graft.ops.IndexStore.write(folded, p,
              Seq(tag) ++ jmvWmTags(wmL, wmR))
            receipts += s"join matview at $p: $nDrop tombstones folded"
          }
        }
    }
    // a re-run skips an artifact only when every one of its stores
    // carries the drop tag (sidecars commit after the main store)
    families.flatMap(_.get(table)).foreach(a => a.retain.foreach { fold =>
      receipts += s"${a.word} at ${a.path}: " +
        (if (a.stores.forall(tagged)) "already folded (drop tag)"
        else fold(droppedRows, survivors, tag))
    })
    receipts.result()
  }

  /** suggest create <table> from <json-array-of-docs> — the reference's
    * schema-inference output (suggest_create_table.py:292). */
  /** JSON documents (objects or arrays of objects) -> untyped row maps
    * for schema inference. */
  private def jsonRowsToMaps(lines: Seq[String]): Seq[Map[String, Any]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    def rows(v: JValue): Seq[Map[String, Any]] = v match {
      case JArray(docs) => docs.flatMap(rows)
      case JObject(fields) => Seq(fields.map {
        case (k, JString(s)) => k -> (s: Any)
        case (k, JInt(i)) => k -> (
          if (i.isValidLong) (i.toLong: Any) else (i.toString: Any))
        case (k, JDouble(d)) => k -> (d: Any)
        case (k, JBool(b)) => k -> (b: Any)
        case (k, JArray(a)) => k -> (a.map(_.values): Any)
        case (k, x) => k -> (x.values: Any)
      }.toMap)
      case _ => Nil
    }
    lines.flatMap(l => rows(JsonMethods.parse(l)))
  }

  private def suggestCreate(t: String): String = {
    val rx = "(?is)suggest create\\s+(\\S+)\\s+from\\s+(\\[.*\\])".r
    rx.findFirstMatchIn(t) match {
      case Some(m) =>
        val rows = jsonRowsToMaps(Seq(m.group(2)))
        val inferred = SchemaInference.inferSchema(rows)
        val sysCols = Seq(
          "row_id BIGINT", "insert_timestamp TIMESTAMP",
          "tsd_name CHAR(3)", "tsd_id INT")
        val userCols = inferred.map { case (n, tp) =>
          s"$n ${SchemaInference.toDdl(tp)}"
        }
        (sysCols ++ userCols).mkString(
          s"CREATE TABLE ${m.group(1)} (\n  ", ",\n  ", "\n)")
      case None => throw new IllegalArgumentException(s"bad suggest: $t")
    }
  }
}

object Engine {
  /** The lock a command runs under (see the class doc's thread-safety
    * contract): [[Read]] holds the retention gate's read side,
    * [[Write]] the write gate's exclusive side, [[Unguarded]]
    * neither. */
  private[engine] sealed trait Lock
  private[engine] case object Read extends Lock
  private[engine] case object Write extends Lock
  private[engine] case object Unguarded extends Lock

  /** One command-table entry: commands whose lowercased text starts
    * with `prefix` (or equals it, when `exact`) run `run` under `lock`. */
  private[engine] final class Command(val prefix: String, val lock: Lock,
      val exact: Boolean, val run: String => String) {
    def matches(low: String): Boolean =
      if (exact) low == prefix else low.startsWith(prefix)
  }

  /** JVM-wide live-consumer topic claims, keyed by the catalog
    * metadata root the offset journal lives under. The per-engine
    * duplicate-topic guard alone is not enough: two Engine instances
    * over ONE catalog root would each pass their local check and then
    * clobber the shared (topic, partition) cursor — this registry
    * makes the claim as wide as the journal it protects. Rootless
    * catalogs key by engine identity (journal is in-memory anyway, no
    * cross-engine hazard). Claims release on consumer exit and on
    * poll-thread death. */
  private[engine] val kafkaTopicClaims =
    new java.util.concurrent.ConcurrentHashMap[
      String,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]]()
  private[engine] def claimScope(catalog: Catalog, engine: AnyRef): String =
    catalog.metaRoot
      .map(_.toAbsolutePath.normalize.toString)
      .getOrElse("engine:" + System.identityHashCode(engine).toHexString)
}
