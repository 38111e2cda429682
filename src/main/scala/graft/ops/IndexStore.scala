package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Crash-atomic persistence for STANDING index tables (the shingle /
  * embedding indexes a dedup pipeline carries across batches — the most
  * expensive artifact a 100 TB ingest gate owns: rebuilding one means
  * re-reading the corpus).
  *
  * A plain `write.mode("overwrite").parquet(dir)` deletes the old index
  * before the new one finishes — a driver/executor failure mid-write
  * destroys the accumulated state. This store never mutates a committed
  * version:
  *
  *  - layout: `dir/v=N/` immutable version directories; the LIVE version
  *    is the highest N carrying a `_GRAFT_COMMIT` marker file.
  *  - [[write]] materializes `dir/v=N+1` completely, then creates the
  *    marker (a single atomically-visible file create — the commit
  *    point), then prunes older versions. A crash at ANY point leaves
  *    the previous committed version untouched and readable; a dirty
  *    uncommitted `v=` dir is skipped by readers and eventually pruned.
  *  - the marker is our own file (not Spark's `_SUCCESS`) so commits
  *    stay correct even where success markers are disabled.
  *  - legacy layout (parquet files at `dir` root, the historical
  *    in-place form) is still readable; the first [[write]] upgrades to
  *    versioned and removes the root files only after its commit.
  *
  * Single-writer discipline (a `foreachBatch` body, a nightly refresh
  * job) is assumed, exactly like any non-transactional table format;
  * concurrent readers are safe because committed versions are
  * immutable. Reference behavior: the standing dedup state the
  * reference keeps in its DBMS layer survives process crashes
  * (edge_lake/dbms — tables, not files); this store gives the parquet
  * index the same durability.
  *
  * Schema memo: [[write]] keeps each version's schema in process, keyed
  * by version dir and commit-marker mtime (a re-create at the same path
  * never hits a stale entry), so reads skip Spark's schema inference
  * job. Pruning drops the entry; another process's versions infer.
  */
object IndexStore {
  private val Marker = "_GRAFT_COMMIT"
  private val RetainFile = "_GRAFT_RETAIN"
  /** Name prefix of [[setRetention]]'s temp files (hidden: a leading
    * dot, which readers and [[write]]'s root-file prune skip). */
  private val RetainTmp = s".$RetainFile."
  private val VersionRx = "^v=(\\d+)$".r

  /** (qualified version dir, commit marker mtime) -> schema. */
  private[graft] val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), StructType]()

  private def memoKey(spark: SparkSession, vDir: String): (String, Long) = {
    val (fs, p) = fsOf(spark, vDir)
    val q = fs.makeQualified(p)
    (q.toString, fs.getFileStatus(new Path(q, Marker)).getModificationTime)
  }

  /** Read committed version `n`, with the memoized schema if any. */
  private def load(spark: SparkSession, dir: String, n: Long): DataFrame = {
    val vDir = s"$dir/v=$n"
    Option(schemas.get(memoKey(spark, vDir)))
      .fold(spark.read.parquet(vDir))(spark.read.schema(_).parquet(vDir))
  }

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** [[fsOf]] below the checksum layer, for the retention file: a local
    * fs keeps a `.crc` beside each file, and replacing a file and its
    * `.crc` takes two renames that a concurrent reader can fall
    * between. */
  private def rawFsOf(spark: SparkSession, dir: String) =
    fsOf(spark, dir) match {
      case (c: org.apache.hadoop.fs.ChecksumFileSystem, p) =>
        (c.getRawFileSystem, p)
      case other => other
    }

  /** All `v=N` children (committed or dirty). */
  private def versions(spark: SparkSession, dir: String): Seq[(Long, Boolean)] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory =>
        st.getPath.getName match {
          case VersionRx(n) =>
            Some((n.toLong, fs.exists(new Path(st.getPath, Marker))))
          case _ => None
        }
      case _ => None
    }.flatten
  }

  /** Highest committed version, if any. */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    versions(spark, dir).collect { case (n, true) => n }.maxOption

  /** All committed versions, ascending — the store's AS-OF axis. */
  def committedVersions(spark: SparkSession, dir: String): Seq[Long] =
    versions(spark, dir).collect { case (n, true) => n }.sorted

  /** How many committed versions [[write]] retains at this dir:
    * the recorded `_GRAFT_RETAIN` setting, else the default 2
    * (current + immediately previous — the concurrent-reader
    * lookback every store needs). */
  def retention(spark: SparkSession, dir: String): Int = {
    val (fs, p) = rawFsOf(spark, dir)
    val f = new Path(p, RetainFile)
    if (!fs.exists(f)) 2
    else {
      val in = fs.open(f)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toInt
      finally in.close()
    }
  }

  /** Record a retention depth for this store: later [[write]]s keep
    * the newest `keep` committed versions as the AS-OF/audit history
    * (each one an immutable `v=N` snapshot readable by
    * [[readVersion]]). Floor 2 — anything lower would break the
    * concurrent-reader lookback and the exactly-once tag protocol's
    * two-version window. Raising retention never deletes anything;
    * lowering it takes effect at the next write's prune. The file is
    * written whole under a temp name and renamed over the old one,
    * never truncated in place: a concurrent fold's [[write]] reads it
    * and must see the old setting or the new one. */
  def setRetention(spark: SparkSession, dir: String, keep: Int): Unit = {
    require(keep >= 2,
      s"retention $keep < 2 would break the concurrent-reader / " +
        "exactly-once-tag two-version lookback")
    val (fs, p) = rawFsOf(spark, dir)
    fs.mkdirs(p)
    val tmp = new Path(p, RetainTmp + java.util.UUID.randomUUID())
    val out = fs.create(tmp, false)
    try out.write(keep.toString.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new Path(p, RetainFile)
    // a store whose rename never replaces (HDFS) drops the old record
    // first; a fold in that gap prunes at the default depth
    if (!fs.rename(tmp, dst) &&
        !(fs.delete(dst, false) && fs.rename(tmp, dst))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not record retention at $dst")
    }
  }

  /** AS-OF read: the exact state committed as version `v`. Loud error
    * (listing what IS available) when `v` was pruned or never
    * committed — a silently-wrong audit read is worse than a refusal.
    * Raise [[setRetention]] BEFORE the writes whose history an audit
    * needs; pruned versions are gone, not recoverable. */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame = {
    val committed = committedVersions(spark, dir)
    require(committed.contains(v),
      s"version $v is not a committed version at $dir — available: " +
        (if (committed.isEmpty) "(none)" else committed.mkString(", ")) +
        " (pruned history is unrecoverable; set retention before the " +
        "writes you need to audit)")
    load(spark, dir, v)
  }

  /** Tags stamped on a specific committed version (the per-version
    * twin of [[currentTags]] — what batch/scalar rode THAT commit). */
  def tagsOf(spark: SparkSession, dir: String, v: Long): Seq[String] = {
    val (fs, _) = fsOf(spark, dir)
    val d = new Path(s"$dir/v=$v")
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.collect {
      case st if st.isFile &&
          st.getPath.getName.startsWith("_GRAFT_TAG_") =>
        st.getPath.getName.stripPrefix("_GRAFT_TAG_")
    }
  }

  /** True when a committed version OR legacy root-level data exists. */
  def exists(spark: SparkSession, dir: String): Boolean =
    currentVersion(spark, dir).isDefined || {
      val (fs, p) = fsOf(spark, dir)
      fs.exists(p) && fs.listStatus(p).exists(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    }

  /** Load the live index: the highest committed `v=N`, else the legacy
    * root-level parquet files, else None. Dirty (uncommitted) version
    * dirs are never read. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    currentVersion(spark, dir) match {
      case Some(n) => Some(load(spark, dir, n))
      case None =>
        val (fs, p) = fsOf(spark, dir)
        // legacy root-level files are read BY EXPLICIT PATH, never via
        // the directory: a crash between a first upgrade-write's v=1
        // materialization and its marker leaves root files AND a dirty
        // v=1 dir, and directory-level partition discovery would throw
        // 'conflicting directory structures' on the mixed depths —
        // breaking the crash-at-any-point readability contract
        val legacyFiles =
          if (!fs.exists(p)) Array.empty[String]
          else fs.listStatus(p).collect {
            case st if st.isFile && !st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith(".") =>
              st.getPath.toString
          }
        if (legacyFiles.nonEmpty)
          Some(spark.read.parquet(legacyFiles.toIndexedSeq: _*))
        else None
    }

  /** Commit `df` as the next version and return its number. The old
    * version stays live until the new one's marker lands; pruning after
    * the commit is best-effort (a crash mid-prune leaves extra
    * directories, never a broken index) and RETAINS the immediately
    * previous committed version — a concurrent reader that resolved the
    * old version just before this commit can finish its scan (readers
    * lag by at most one write; the grandparent is gone by then). A
    * recorded [[setRetention]] depth keeps more committed versions as
    * an AS-OF audit history ([[readVersion]]). */
  def write(df: DataFrame, dir: String): Long = write(df, dir, None)

  /** As [[write]], optionally stamping a `tag` INSIDE the new version
    * directory BEFORE the commit marker — the tag becomes visible
    * atomically WITH the version (there is no state where the data
    * committed but the tag didn't), which is what an exactly-once
    * foreachBatch fold needs ([[hasTag]] + retained-previous-version
    * pruning give a two-version lookback — enough for checkpointed
    * strictly-increasing batch ids that retry at most the last batch). */
  def write(df: DataFrame, dir: String, tag: Option[String]): Long =
    write(df, dir, tag.toSeq)

  /** As [[write]] with any number of tags — e.g. an exactly-once batch
    * tag AND a lineage watermark riding the same commit. */
  def write(df: DataFrame, dir: String, tags: Seq[String]): Long = {
    val spark = df.sparkSession
    val (fs, p) = fsOf(spark, dir)
    // number above every existing dir, dirty ones included, so a
    // half-written crash leftover is never re-entered
    val before = versions(spark, dir)
    val next = before.map(_._1).maxOption.getOrElse(0L) + 1L
    val vDir = s"$dir/v=$next"
    // job label (guide §1.5): commits dominate the lifecycle families'
    // job streams — make each attributable in profiles/the UI
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"indexstore commit v=$next $dir")
    // REBALANCE before the write (guide §6): without it the version
    // inherits the upstream partition count — a few-hundred-row fold
    // union was committing 64 near-empty files, and every subsequent
    // fold/serve re-listed and re-opened all of them. AQE sizes the
    // output adaptively: tiny artifact -> one file, huge artifact ->
    // advisory-sized files (a fixed coalesce(1) would be wrong at
    // scale; REBALANCE also splits skewed partitions).
    try df.hint("REBALANCE").write.mode("overwrite").parquet(vDir)
    finally sc.setJobDescription(prevDesc)
    tags.foreach { t =>
      fs.create(new Path(vDir, s"_GRAFT_TAG_$t"), false).close()
    }
    // the commit point: one atomically-visible file create
    fs.create(new Path(vDir, Marker), false).close()
    schemas.put(memoKey(spark, vDir), df.schema)
    // prune: keep the newest `retention` committed versions (default
    // 2 = this one + the immediately previous, the concurrent-reader
    // lookback; a recorded _GRAFT_RETAIN deepens the AS-OF history),
    // drop dirty leftovers below `next`, and clear legacy root files
    val keep = retention(spark, dir)
    val keptCommitted = (before.collect { case (n, true) => n } :+ next)
      .sorted.takeRight(keep).toSet
    before.foreach { case (n, committed) =>
      if (n < next && (!committed || !keptCommitted.contains(n))) {
        val old = fs.makeQualified(new Path(s"$dir/v=$n"))
        fs.delete(old, true)
        schemas.keySet.removeIf(_._1 == old.toString)
      }
    }
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && name != RetainFile && !name.startsWith(RetainTmp))
        fs.delete(st.getPath, false)
    }
    next
  }

  /** All tags stamped on the CURRENT committed version. Because a tag
    * file lands inside the version directory BEFORE the commit marker,
    * a tag read here is guaranteed to describe exactly the data
    * [[read]] returns — the atomic-metadata channel a standing
    * artifact uses to commit a derived scalar (e.g. the triangle
    * census total) in the SAME commit as its data, with no window
    * where one landed and the other didn't. */
  def currentTags(spark: SparkSession, dir: String): Seq[String] =
    currentVersion(spark, dir).toSeq.flatMap(tagsOf(spark, dir, _))

  /** True iff any LIVE committed version (current or the retained
    * previous) carries `tag`. Pruned versions take their tags with
    * them — callers must only rely on a two-write lookback. */
  def hasTag(spark: SparkSession, dir: String, tag: String): Boolean = {
    val (fs, _) = fsOf(spark, dir)
    versions(spark, dir).collect { case (n, true) => n }.exists(n =>
      fs.exists(new Path(s"$dir/v=$n", s"_GRAFT_TAG_$tag")))
  }

  /** The committed version immediately BEFORE the one carrying `tag` —
    * i.e. the state the tagged fold started from. None when the tagged
    * version was the first commit (pre-fold state was empty). Within
    * the two-version retention this is exactly the replay case a
    * checkpointed foreachBatch needs: the retried batch's tag sits on
    * the CURRENT version, so its predecessor is the retained one. */
  def readBefore(spark: SparkSession, dir: String, tag: String): Option[DataFrame] = {
    val (fs, _) = fsOf(spark, dir)
    val committed = versions(spark, dir).collect { case (n, true) => n }
    committed.find(n =>
        fs.exists(new Path(s"$dir/v=$n", s"_GRAFT_TAG_$tag")))
      .flatMap(t => committed.filter(_ < t).maxOption)
      .map(load(spark, dir, _))
  }
}
