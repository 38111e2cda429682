package graft

import org.apache.spark.sql.functions._

/** Ingest auto-fold of standing aggregate artifacts + the
  * watermark-driven `matview sync` reconcile: served state must never
  * silently lag the table it summarizes, and a crash-missed batch must
  * be re-foldable EXACTLY once. */
class AutoRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def mkEngine(dataDir: java.nio.file.Path) = {
    val cat = new graft.engine.Catalog(spark)
    val engine = new graft.engine.Engine(spark, cat)
    engine.dataDir = Some(dataDir.resolve("data").toString)
    (cat, engine)
  }

  private def ndjson(rows: Seq[(Long, String)]): String =
    rows.map { case (k, g) => s"""{"k": $k, "g": "$g"}""" }
      .mkString("\n")

  test("PUT ingest auto-folds a registered matview; the served state " +
      "matches a one-shot rebuild; watermark advances") {
    val dir = java.nio.file.Files.createTempDirectory("ar1")
    val (_, engine) = mkEngine(dir)
    // first PUT auto-creates the table WITH tsd system columns
    engine.ingest("t1", ndjson(Seq((1, "a"), (2, "a"), (3, "b"))))
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = t1 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    // second PUT: must fold WITHOUT any refresh command
    engine.ingest("t1", ndjson(Seq((10, "b"), (20, "c"))))
    val got = engine.execute(s"matview get where path = $p")
    assert(got.contains(""""g":"a","n":2,"sk":3"""), got)
    assert(got.contains(""""g":"b","n":2,"sk":13"""), got)
    assert(got.contains(""""g":"c","n":1,"sk":20"""), got)
    // and the transparently-served sql path sees the new rows too
    val served = engine.query(
      """sql edge "select g, count(*) as n from t1 group by g order by g"""")
    assert(served.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq === Seq(("a", 2L), ("b", 2L), ("c", 1L)))
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  test("auto refresh off -> view goes stale; matview sync folds " +
      "EXACTLY the missed rows; second sync is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ar2")
    val (_, engine) = mkEngine(dir)
    engine.ingest("t2", ndjson(Seq((1, "a"), (2, "b"))))
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = t2 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    engine.execute("set view auto refresh = off")
    engine.ingest("t2", ndjson(Seq((5, "a"))))   // missed batch 1
    engine.ingest("t2", ndjson(Seq((7, "c"))))   // missed batch 2
    val stale = engine.execute(s"matview get where path = $p")
    assert(stale.contains(""""g":"a","n":1,"sk":1"""), stale)
    assert(!stale.contains(""""g":"c""""), stale)
    val synced = engine.execute("matview sync where table = t2")
    assert(synced.contains("2 missed row(s) folded"), synced)
    val fresh = engine.execute(s"matview get where path = $p")
    assert(fresh.contains(""""g":"a","n":2,"sk":6"""), fresh)
    assert(fresh.contains(""""g":"c","n":1,"sk":7"""), fresh)
    // idempotence: nothing above the watermark now
    assert(engine.execute("matview sync where table = t2")
      .contains("in sync"), "second sync must be a no-op")
    assert(engine.execute(s"matview get where path = $p") === fresh)
  }

  test("off -> missed batch -> on -> new batch: the auto-fold detects " +
      "the lineage gap and folds the sync slice, not the batch alone " +
      "(the missed batch is never orphaned)") {
    val dir = java.nio.file.Files.createTempDirectory("ar8")
    val (_, engine) = mkEngine(dir)
    engine.ingest("t8", ndjson(Seq((1, "a"), (2, "b"))))
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = t8 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    engine.execute("set view auto refresh = off")
    engine.ingest("t8", ndjson(Seq((5, "a"))))   // missed while off
    engine.execute("set view auto refresh = on")
    engine.ingest("t8", ndjson(Seq((7, "c"))))   // auto-folds
    // WITHOUT the gap check this fold would advance the watermark past
    // the missed batch: (5, "a") lost forever, sync reporting in-sync
    val got = engine.execute(s"matview get where path = $p")
    assert(got.contains(""""g":"a","n":2,"sk":6"""),
      s"missed batch was orphaned by the auto-fold: $got")
    assert(got.contains(""""g":"c","n":1,"sk":7"""), got)
    // and the watermark is exact: sync finds nothing left
    assert(engine.execute("matview sync where table = t8")
      .contains("in sync"))
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  test("sync refuses a view with no lineage watermark (table without " +
      "tsd_id)") {
    val dir = java.nio.file.Files.createTempDirectory("ar3")
    Seq((1L, "a"), (2L, "b")).toDF("k", "g")
      .write.parquet(dir.resolve("plain.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("plain", dir.resolve("plain.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = plain and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"}]}""")
    val err = intercept[IllegalArgumentException] {
      engine.execute("matview sync where table = plain")
    }
    assert(err.getMessage.contains("no lineage watermark"),
      err.getMessage)
  }

  test("ingest auto-folds a registered JOIN matview (batch side joins " +
      "the other side's current snapshot)") {
    val dir = java.nio.file.Files.createTempDirectory("ar4")
    val (cat, engine) = mkEngine(dir)
    // right side: a plain registered dimension table
    Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("rk", "v")
      .write.parquet(dir.resolve("r.parquet").toString)
    cat.registerTable("rt", dir.resolve("r.parquet").toString)
    // left side lands via PUT (auto-created, stamped)
    engine.ingest("lt",
      Seq((1L, "x"), (2L, "y")).map { case (k, g) =>
        s"""{"lk": $k, "g": "$g"}""" }.mkString("\n"))
    val p = dir.resolve("jmv").toString
    engine.execute(s"join matview create where path = $p " +
      s"""and spec = {"left": "lt", "right": "rt",
        "on": [["lk", "rk"]], "keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    // a new left batch must auto-fold: (3, "x") joins rk=3 -> v=30
    engine.ingest("lt", """{"lk": 3, "g": "x"}""")
    val got = engine.execute(s"join matview get where path = $p")
    assert(got.contains(""""g":"x","n":2,"sv":40"""), got)
    assert(got.contains(""""g":"y","n":1,"sv":20"""), got)
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  /** Two PUT-created lineage-stamped sides + a registered jmv over
    * lk = rk, grouped by g: the fixture for the sync family. */
  private def mkJmv(dir: java.nio.file.Path)
      : (graft.engine.Engine, String) = {
    val (_, engine) = mkEngine(dir)
    engine.ingest("jl",
      Seq((1L, "x"), (2L, "y")).map { case (k, g) =>
        s"""{"lk": $k, "g": "$g"}""" }.mkString("\n"))
    engine.ingest("jr",
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).map { case (k, v) =>
        s"""{"rk": $k, "v": $v}""" }.mkString("\n"))
    val p = dir.resolve("jmv").toString
    engine.execute(s"join matview create where path = $p " +
      s"""and spec = {"left": "jl", "right": "jr",
        "on": [["lk", "rk"]], "keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "v", "alias": "sv"}]}""")
    (engine, p)
  }

  test("join matview sync: batches pending on BOTH sides (auto refresh " +
      "off) fold exactly once — incl. the cross delta; second sync is " +
      "a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("ar9")
    val (engine, p) = mkJmv(dir)
    engine.execute("set view auto refresh = off")
    // left delta (3,"x") and right delta (3,->31 replaced? no — rk=3
    // exists with v=30 already; add rk=5 AND a second row for rk=3):
    // ΔL joins old right rows AND ΔR rows; ΔR joins old left AND ΔL
    engine.ingest("jl", """{"lk": 3, "g": "x"}""" + "\n" +
      """{"lk": 5, "g": "z"}""")
    engine.ingest("jr", """{"rk": 5, "v": 50}""" + "\n" +
      """{"rk": 1, "v": 100}""")
    val synced = engine.execute(s"join matview sync where path = $p")
    assert(synced.contains("2 left + 2 right missed row(s) folded"),
      synced)
    // rebuild truth: x: (1,10),(1,100),(3,30) n=3 sv=140; y: (2,20)
    // n=1 sv=20; z: (5,50) n=1 sv=50
    val got = engine.execute(s"join matview get where path = $p")
    assert(got.contains(""""g":"x","n":3,"sv":140"""), got)
    assert(got.contains(""""g":"y","n":1,"sv":20"""), got)
    assert(got.contains(""""g":"z","n":1,"sv":50"""), got)
    assert(engine.execute(s"join matview sync where path = $p")
      .contains("in sync"), "second sync must be a no-op")
  }

  test("join matview refresh REFUSES when the other side has unfolded " +
      "rows (the double-count guard) and directs to sync") {
    val dir = java.nio.file.Files.createTempDirectory("ar10")
    val (engine, p) = mkJmv(dir)
    engine.execute("set view auto refresh = off")
    engine.ingest("jl", """{"lk": 3, "g": "x"}""")
    engine.ingest("jr", """{"rk": 5, "v": 50}""")
    // folding the left delta against right-current would count
    // lk=3 ⋈ rk=3 (fine) but a right refresh later joins rk=5 against
    // left-current incl. lk=3 — if lk=5 existed both folds would count
    // the cross pair; the guard refuses regardless
    val err = intercept[IllegalStateException] {
      val missed = dir.resolve("lmiss.parquet").toString
      engine.query("""sql edge "select * from jl where lk = 3"""")
        .write.parquet(missed)
      engine.execute(s"join matview refresh where path = $p and " +
        s"side = left and source = $missed")
    }
    assert(err.getMessage.contains("join matview sync"), err.getMessage)
    // sync reconciles both
    assert(engine.execute(s"join matview sync where path = $p")
      .contains("folded"))
    val got = engine.execute(s"join matview get where path = $p")
    assert(got.contains(""""g":"x","n":2,"sv":40"""), got)
  }

  test("jmv auto-fold detects the other side's pending rows and routes " +
      "to the sync decomposition — the cross delta folds exactly once") {
    val dir = java.nio.file.Files.createTempDirectory("ar11")
    val (engine, p) = mkJmv(dir)
    engine.execute("set view auto refresh = off")
    // left batch lands while folds are off: lk=5 (matches nothing yet)
    engine.ingest("jl", """{"lk": 5, "g": "z"}""")
    engine.execute("set view auto refresh = on")
    // right batch rk=5 auto-folds: a naive batch ⋈ left-current fold
    // would count (5,z)⋈(rk=5) now and AGAIN if the left batch ever
    // folded against right-current — the sync route folds both sides
    // exactly once and advances both watermarks
    engine.ingest("jr", """{"rk": 5, "v": 50}""")
    val got = engine.execute(s"join matview get where path = $p")
    assert(got.contains(""""g":"z","n":1,"sv":50"""), got)
    assert(got.contains(""""g":"x","n":1,"sv":10"""), got)
    assert(engine.execute(s"join matview sync where path = $p")
      .contains("in sync"))
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  test("a JOIN sql query serves transparently from the registered " +
      "join matview (neither base scanned) and stays fresh under the " +
      "PUT auto-fold") {
    val dir = java.nio.file.Files.createTempDirectory("ar12")
    val (engine, _) = mkJmv(dir)
    def served() = {
      val df = engine.query(
        """sql edge "select g, count(*) as n from jl join jr """ +
          """on jl.lk = jr.rk group by g order by g"""")
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("/data/jl") && !plan.contains("/data/jr"),
        s"JOIN query fell back to the live join:\n$plan")
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    assert(served() === Seq(("x", 1L), ("y", 1L)))
    engine.ingest("jl", """{"lk": 3, "g": "x"}""") // rk=3 exists
    assert(served() === Seq(("x", 2L), ("y", 1L)),
      "served JOIN result went stale after a PUT auto-fold")
    // an unservable aggregate falls back to the live join (sum(v) has
    // no recorded decimal partial in this spec)
    val live = engine.query(
      """sql edge "select g, sum(v) as sv from jl join jr """ +
        """on jl.lk = jr.rk group by g order by g"""")
    assert(live.queryExecution.sparkPlan.toString.contains("/data/jl"))
    assert(live.collect().map(r => (r.getString(0),
      r.getDouble(1))).toSeq === Seq(("x", 40.0), ("y", 20.0)))
  }

  test("PUT ingest auto-folds registered INDEX families (vindex sq8 + " +
      "sindex): searches serve the new rows with no refresh command, " +
      "and the targets are listed") {
    val dir = java.nio.file.Files.createTempDirectory("ar13")
    // a TYPED registered table (array<float> vector) — PUT bodies align
    // to the registered schema by cast (JSON arrays infer as
    // array<double>; plain schema inference would freeze them as
    // strings on an auto-created table)
    Seq((1L, "alpha beta gamma delta", Array(1.0f, 0.0f)),
        (2L, "beta gamma delta epsilon", Array(0.0f, 1.0f)))
      .toDF("id", "text", "vec")
      .write.parquet(dir.resolve("it1.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("it1", dir.resolve("it1.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    def nd(rows: Seq[(Long, String, Seq[Double])]): String =
      rows.map { case (id, txt, v) =>
        s"""{"id": $id, "text": "$txt", "vec": [${v.mkString(", ")}]}"""
      }.mkString("\n")
    val vx = dir.resolve("vx").toString
    val sx = dir.resolve("sx").toString
    engine.execute(s"vindex create where table = it1 and path = $vx " +
      "and id = id and vector = vec and type = sq8")
    engine.execute(s"sindex create where table = it1 and key = text " +
      "and text = text and k = 8 and path = $sx".replace("$sx", sx))
    val inv = engine.execute("get view auto refresh")
    assert(inv.contains(s"it1: vindex $vx"), inv)
    assert(inv.contains(s"it1: sindex $sx"), inv)
    // the late batch must fold into BOTH indexes with no refresh cmd
    engine.ingest("it1", nd(Seq(
      (3L, "gamma delta epsilon zeta", Seq(1.0, 1.0)))))
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
    // vindex: a probe at id 3's exact vector (fresh probe id — the
    // search excludes self-matches) must retrieve the auto-folded row
    val probes = dir.resolve("probes.parquet").toString
    Seq((99L, Array(1.0f, 1.0f))).toDF("id", "vec").write.parquet(probes)
    val hit = engine.execute(s"vindex search where table = it1 and " +
      s"probes = $probes and k = 1")
    assert(hit.contains(""""id":3"""), s"auto-folded vector not served: $hit")
    // sindex: the new key exists in the sketch artifact
    val sk = graft.ops.IndexStore.read(spark, sx).get
    assert(sk.filter(col("key") === "gamma delta epsilon zeta")
      .count() === 1L, "auto-folded sindex key missing")
  }

  test("foldStandingViews with a batch tag is exactly-once: a " +
      "replayed batch whose tag is live skips, no double-fold") {
    val dir = java.nio.file.Files.createTempDirectory("ar7")
    Seq(("a", 1L)).toDF("g", "k")
      .write.parquet(dir.resolve("base.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("st2", dir.resolve("base.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = st2 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    val batch = Seq(("a", 10L)).toDF("g", "k")
    engine.foldStandingViews("st2", batch,
      batchTag = Some("stream_st2_7"))
    // at-least-once replay of the same foreachBatch id
    engine.foldStandingViews("st2", batch,
      batchTag = Some("stream_st2_7"))
    val got = engine.execute(s"matview get where path = $p")
    assert(got.contains(""""g":"a","n":2,"sk":11"""),
      s"replay double-folded: $got")
  }

  test("index-family lineage watermarks: a gap (off -> missed batch -> " +
      "on -> new batch) routes the tindex auto-fold to the sync slice; " +
      "deletes carry the watermark; sync is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("ar15")
    val (_, engine) = mkEngine(dir)
    def nd(rows: (Long, String)*): String =
      rows.map { case (id, txt) =>
        s"""{"id": $id, "text": "$txt"}""" }.mkString("\n")
    engine.ingest("dt1", nd(1L -> "alpha beta", 2L -> "beta gamma"))
    val tx = dir.resolve("tx").toString
    engine.execute(s"tindex create where table = dt1 and path = $tx " +
      "and id = id and text = text")
    engine.execute("set view auto refresh = off")
    engine.ingest("dt1", nd(3L -> "gamma delta"))   // missed while off
    engine.execute("set view auto refresh = on")
    engine.ingest("dt1", nd(4L -> "delta epsilon")) // must fold 3 AND 4
    val postings = graft.ops.IndexStore.read(spark, tx).get
    assert(postings.filter(col("id") === 3L).count() > 0,
      "gap batch was orphaned by the index auto-fold")
    assert(postings.filter(col("id") === 4L).count() > 0)
    assert(engine.execute("tindex sync where table = dt1")
      .contains("in sync"))
    // a delete rewrites the artifact — the wm_ tag must ride along or
    // sync would refuse afterwards
    engine.execute("tindex delete where table = dt1 and ids = (2)")
    assert(engine.execute("tindex sync where table = dt1")
      .contains("in sync"),
      "tindex delete lost the lineage watermark")
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  test("registered EMBEDDING dedup index: PUT auto-fold appends with " +
      "the RECORDED LSH geometry; sync and delete keep the watermark") {
    val dir = java.nio.file.Files.createTempDirectory("ar16")
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("id", "vec").withColumn("tsd_id", lit(1))
      .write.parquet(dir.resolve("et.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("et1", dir.resolve("et.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val dx = dir.resolve("dx").toString
    engine.execute(s"dedup index create where table = et1 and " +
      s"path = $dx and type = embedding and id = id and vector = vec " +
      "and bits = 4 and tables = 2")
    // the PUT aligns to the registered schema (array<double> casts to
    // array<float>) and must fold with the recorded 4-bit geometry
    engine.ingest("et1", """{"id": 3, "vec": [0.5, 0.5]}""")
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
    val idx = graft.ops.IndexStore.read(spark, dx).get
    val r3 = idx.filter(col("id") === 3L).collect()
    assert(r3.length === 1, "auto-folded vector missing from the index")
    assert(r3.head.getAs[Int]("bits") === 4 &&
      r3.head.getAs[Int]("tables") === 2,
      "fold ignored the recorded geometry")
    // delete keeps geometry rows aligned and the watermark intact
    engine.execute(s"dedup index delete where path = $dx and ids = (1)")
    assert(graft.ops.IndexStore.read(spark, dx).get
      .filter(col("id") === 1L).count() === 0L)
    assert(engine.execute("dedup index sync where table = et1")
      .contains("in sync"),
      "dedup index delete lost the lineage watermark")
  }

  test("registered EXACT dedup index: create gates duplicates, PUT " +
      "auto-folds new hashes, delete makes content re-ingestable " +
      "(retention symmetry), the bloom sidecar rebuilds and never " +
      "changes the answer") {
    val dir = java.nio.file.Files.createTempDirectory("ar17")
    Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("id", "text").withColumn("tsd_id", lit(1))
      .write.parquet(dir.resolve("xt.parquet").toString)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("xt1", dir.resolve("xt.parquet").toString)
    val engine = new graft.engine.Engine(spark, cat)
    val dx = dir.resolve("dx").toString
    engine.execute(s"dedup index create where table = xt1 and " +
      s"path = $dx and type = exact and id = id and text = text")
    def gate(rows: Seq[(Long, String)]): Map[Long, Int] = {
      val hashes = graft.ops.IndexStore.read(spark, dx).get
      val bloom = graft.ops.IndexStore.read(spark, s"$dx-bloom")
      assert(bloom.isDefined, "bloom sidecar missing")
      val b = rows.toDF("id", "text")
      val withBl = graft.ops.Dedup.exactGate(b, hashes, bloom,
        "text", "id")
      val without = graft.ops.Dedup.exactGate(b, hashes, None,
        "text", "id")
      assert(withBl.exceptAll(without).count() === 0 &&
        without.exceptAll(withBl).count() === 0,
        "bloom prefilter changed the gate's answer")
      withBl.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(gate(Seq((10L, "alpha beta gamma"), (11L, "fresh text")))
      === Map(10L -> 1, 11L -> 0))
    // PUT auto-folds the new doc's hash into the standing gate state
    engine.ingest("xt1", """{"id": 3, "text": "eta theta iota"}""")
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
    assert(gate(Seq((12L, "eta theta iota"))) === Map(12L -> 1))
    // the fleet audit rebuild-diffs the exact kind like any other
    // (checked while state == table; a dindex delete is one-sided by
    // design, so verify runs before it)
    assert(engine.execute("artifact verify where table = xt1")
      .contains("VERIFIED"))
    // retention symmetry: tombstoned content becomes re-ingestable
    engine.execute(s"dedup index delete where path = $dx and ids = (1)")
    assert(gate(Seq((13L, "alpha beta gamma"))) === Map(13L -> 0),
      "deleted content still refused — corpse hash (or corpse bloom " +
        "bits deciding the answer)")
    assert(engine.execute("dedup index sync where table = xt1")
      .contains("in sync"),
      "dedup index delete lost the lineage watermark")
  }

  test("startTransactionalSink: ONE foreachBatch owns the table append " +
      "AND the view folds; replaying a batch (crash simulation) " +
      "duplicates neither — the lead/lag window is gone") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ar14")
    val tbl = dir.resolve("t.parquet").toString
    Seq(("a", 1L)).toDF("g", "k").write.parquet(tbl)
    val cat = new graft.engine.Catalog(spark)
    cat.registerTable("st3", tbl)
    val engine = new graft.engine.Engine(spark, cat)
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = st3 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"},
        {"fn": "sum", "expr": "k", "alias": "sk"}]}""")
    val mem = MemoryStream[(String, Long)]
    val q = graft.streaming.StreamIngest.startTransactionalSink(engine,
      "st3", mem.toDF().toDF("g", "k"), tbl,
      dir.resolve("ckpt").toString, flushSeconds = 1)
    try {
      mem.addData(("a", 10L), ("b", 2L))
      q.processAllAvailable()
      assert(cat.table("st3").count() === 3L)
      val got = engine.execute(s"matview get where path = $p")
      assert(got.contains(""""g":"a","n":2,"sk":11"""), got)
      assert(got.contains(""""g":"b","n":1,"sk":2"""), got)
    } finally q.stop()
    // crash replay: the SAME batch id re-runs BOTH legs — the append
    // rewrites the same deterministic file names, the fold tag skips
    val batch = Seq(("c", 9L)).toDF("g", "k")
    def runBatch(): Unit = {
      graft.streaming.StreamIngest.appendBatchIdempotent(batch, tbl, 99L)
      engine.foldStandingViews("st3", batch,
        batchTag = Some("txn_st3_99"))
    }
    runBatch(); runBatch()
    assert(cat.table("st3").count() === 4L,
      "replayed batch duplicated table rows")
    val got2 = engine.execute(s"matview get where path = $p")
    assert(got2.contains(""""g":"c","n":1,"sk":9"""),
      s"replayed batch double-folded the view: $got2")
    assert(engine.execute("get view auto refresh")
      .contains("no fold errors"))
  }

  test("partitioned transactional sink: batches land as TimePartitions " +
      "bucket dirs with deterministic names — replay-safe, prunable, " +
      "retention-compatible") {
    val dir = java.nio.file.Files.createTempDirectory("ar17")
    val tbl = dir.resolve("pt.parquet").toString
    def rows(xs: (String, Long)*) = xs.toSeq.toDF("ts_s", "k")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
    rows(("2024-01-01 10:00:00", 1L))
    graft.engine.TimePartitions.write(
      rows(("2024-01-01 10:00:00", 1L)), "ts", "day", 1, tbl)
    val cat = new graft.engine.Catalog(spark)
    cat.registerPartitionedTable("pts", tbl, "ts", "day", 1)
    val engine = new graft.engine.Engine(spark, cat)
    val batch = rows(("2024-01-02 09:00:00", 2L),
      ("2024-01-03 09:00:00", 3L))
    def runBatch(): Unit =
      graft.streaming.StreamIngest.appendBatchIdempotentPartitioned(
        batch, tbl, 7L, "ts", "day", 1)
    runBatch(); runBatch() // crash replay: same names, no duplicates
    assert(cat.table("pts").count() === 3L,
      "partitioned replay duplicated rows")
    assert(graft.engine.TimePartitions.partitions(spark, tbl) ===
      Seq("2024-01-01", "2024-01-02", "2024-01-03"))
    // retention still works over sink-written buckets
    engine.execute("drop partition pts before 2024-01-02")
    assert(cat.table("pts").count() === 2L)
  }

  test("artifact verify: a fresh fleet verifies EXACT against a " +
      "rebuild, a stale matview reports DIVERGED, and sync restores " +
      "exactness; unverifiable families refuse honestly") {
    val dir = java.nio.file.Files.createTempDirectory("ar18")
    val (_, engine) = mkEngine(dir)
    engine.ingest("vt1",
      """{"id": 1, "g": "a", "text": "alpha beta gamma"}""" + "\n" +
        """{"id": 2, "g": "b", "text": "beta gamma delta"}""")
    val mv = dir.resolve("mv").toString
    engine.execute(s"matview create where table = vt1 and path = $mv " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"}]}""")
    engine.execute(s"tindex create where table = vt1 and " +
      s"path = ${dir.resolve("tx")} and id = id and text = text")
    engine.execute(s"dedup index create where table = vt1 and " +
      s"path = ${dir.resolve("dx")} and type = simhash and id = id " +
      "and text = text")
    // fresh fleet + one auto-folded PUT: everything verifies exact
    engine.ingest("vt1", """{"id": 3, "g": "a", "text": "gamma delta"}""")
    val v1 = engine.execute("artifact verify where table = vt1")
    assert(v1.linesIterator.count(_.contains("VERIFIED exact")) === 3, v1)
    assert(!v1.contains("DIVERGED"), v1)
    // a batch missed while auto refresh is off -> matview diverges
    engine.execute("set view auto refresh = off")
    engine.ingest("vt1", """{"id": 4, "g": "c", "text": "epsilon"}""")
    val v2 = engine.execute("artifact verify where table = vt1")
    assert(v2.contains(s"matview $mv: DIVERGED"), v2)
    assert(v2.contains("rebuild-only row(s)"), v2)
    // sync all reconciles; verify is exact again
    engine.execute("sync all where table = vt1")
    val v3 = engine.execute("artifact verify where table = vt1")
    assert(v3.linesIterator.count(_.contains("VERIFIED exact")) === 3, v3)
    // refusal honesty: a vindex over the table refuses with a reason
    // instead of fake-verifying against a retrained geometry
    graft.ops.IndexStore.write(
      Seq((1L, "x")).toDF("id", "role"), dir.resolve("vx").toString)
    engine.execute(s"vindex attach where table = vt1 and " +
      s"path = ${dir.resolve("vx")} and type = sq8 and id = id " +
      "and vector = vec")
    val v4 = engine.execute("artifact verify where table = vt1")
    assert(v4.contains("vindex") && v4.contains("REFUSED"), v4)
  }

  test("RANDOMIZED schedules (seeded): arbitrary interleavings of " +
      "left/right PUTs, auto-refresh toggles and syncs always leave " +
      "matview + join matview + tindex verify-EXACT at quiescence") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val dir = java.nio.file.Files.createTempDirectory(s"arr$trial")
      val (_, engine) = mkEngine(dir)
      var nextId = 100L
      def putLeft(): Unit = {
        nextId += 1
        engine.ingest("sl", s"""{"lk": $nextId, "g": "g${nextId % 4}", """ +
          s""""text": "w${nextId % 7} w${nextId % 5} w${nextId % 3}"}""")
      }
      def putRight(): Unit = {
        nextId += 1
        engine.ingest("sr", s"""{"rk": ${nextId % 120}, "v": $nextId}""")
      }
      putLeft(); putRight() // both tables exist before creates
      engine.execute(s"matview create where table = sl and " +
        s"""path = ${dir.resolve("mv")} and spec = {"keys": ["g"],
          "aggs": [{"fn": "count", "alias": "n"}]}""")
      engine.execute(s"join matview create where " +
        s"""path = ${dir.resolve("jm")} and spec = {"left": "sl",
          "right": "sr", "on": [["lk", "rk"]], "keys": ["g"],
          "aggs": [{"fn": "count", "alias": "n"},
            {"fn": "sum", "expr": "v", "alias": "sv"}]}""")
      engine.execute(s"tindex create where table = sl and " +
        s"path = ${dir.resolve("tx")} and id = lk and text = text")
      for (_ <- 1 to 12) rnd.nextInt(5) match {
        case 0 | 1 => putLeft()
        case 2 => putRight()
        case 3 => engine.execute(
          s"set view auto refresh = ${if (rnd.nextBoolean()) "on" else "off"}")
        case _ =>
          engine.execute("sync all where table = sl")
          engine.execute("sync all where table = sr")
      }
      // quiescence: reconcile, then EVERYTHING must equal a rebuild
      engine.execute("set view auto refresh = on")
      engine.execute("sync all where table = sl")
      engine.execute("sync all where table = sr")
      val a1 = engine.execute("artifact verify where table = sl")
      assert(a1.linesIterator.count(_.contains("VERIFIED exact")) === 3,
        s"trial $trial:\n$a1")
      val a2 = engine.execute("artifact verify where table = sr")
      assert(a2.contains("VERIFIED exact") && !a2.contains("DIVERGED"),
        s"trial $trial:\n$a2")
      assert(engine.execute("get view auto refresh")
        .contains("no fold errors"), s"trial $trial")
    }
  }

  test("manual refresh of a crash-missed stamped batch advances the " +
      "watermark, so a later sync does NOT re-fold the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("ar5")
    val (cat, engine) = mkEngine(dir)
    engine.ingest("t5", ndjson(Seq((1, "a"))))
    val p = dir.resolve("mv").toString
    engine.execute(s"matview create where table = t5 and path = $p " +
      s"""and spec = {"keys": ["g"], "aggs": [
        {"fn": "count", "alias": "n"}]}""")
    engine.execute("set view auto refresh = off")
    engine.ingest("t5", ndjson(Seq((2, "b"))))
    // the operator reconciles by hand: the missed slice (stamped rows,
    // tsd lineage intact) refreshed from a parquet path
    val missed = dir.resolve("missed.parquet").toString
    cat.table("t5").filter(col("g") === "b").write.parquet(missed)
    engine.execute(s"matview refresh where path = $p and source = $missed")
    val got = engine.execute(s"matview get where path = $p")
    assert(got.contains(""""g":"a","n":1"""), got)
    assert(got.contains(""""g":"b","n":1"""), got)
    // the refresh advanced the watermark — sync must see nothing left
    assert(engine.execute("matview sync where table = t5")
      .contains("in sync"), "manual refresh failed to advance watermark")
    assert(engine.execute(s"matview get where path = $p") === got)
  }
}
