package graft

import org.apache.spark.sql.SparkSession

/** The ONE construction site for the engine's session defaults.
  *
  * Every main in this repo (Bench, Verify, OpProf, QProf, PlanDump,
  * Plans, KcoreLadder, EditJoinProbe) builds its session here, so the
  * plans the bench times, the plans the oracle verifies, and the plans
  * the diagnostic tools dump are produced under IDENTICAL engine conf.
  *
  * Embedders: an application that constructs its own SparkSession for
  * `graft.SparkEntry` / `graft.engine.Engine` must route its builder
  * through [[defaults]] (or replicate these conf keys), otherwise the
  * engine's join-strategy work — most visibly the triangle-closure
  * sort-merge→shuffled-hash rewrite gated by
  * `spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold` — silently
  * reverts to slower plans. The settings are scale-independent: the SHJ
  * threshold is a RUNTIME per-partition bound (AQE only rewrites when
  * the measured build side fits task memory, where a static
  * SHUFFLE_HASH hint OOM'd the 10x probe), and AQE itself is on by
  * default since Spark 3.2.
  */
object Sessions {
  /** The AQE sort-merge→shuffled-hash rewrite bound, derived from the
    * session's MEMORY GEOMETRY instead of a constant, clamped to the
    * r15 value: heap/(slots × 4), i.e. one task's nominal memory
    * share, in [8m, 64m]. At this repo's local geometries (8 GB heap,
    * 8-32 cores) it equals the r15 constant 64m — the bench-proven
    * setting — and only drops on genuinely core-dense/heap-tight
    * sessions (e.g. 128 slots on 8 GB), where a 64 MB serialized build
    * (~4-6x that when hash-built; a shuffled-hash build CANNOT spill)
    * exceeds any task's share and the r15 constant would OOM instead
    * of slowing down.
    *
    * The threshold is necessary but NOT sufficient for safety: AQE
    * coalesces partitions TOWARD advisoryPartitionSizeInBytes, so an
    * unpinned join's build partitions sit AT the largest allowed size
    * and every eligible task builds at once — exactly how q150's
    * closure/anti joins OOM'd the 10x organic probe at r15's conf
    * ("not enough memory to build hash map"). The joins the probes
    * showed at risk pin their own partitioning on the join key
    * (Par.pin/pinFine in Graph/GraphQueries — the explicit-N exchange
    * is the join's own shuffle and is AQE-coalesce-exempt), keeping
    * their builds at |edges|/N per task at EVERY scale. Validated r16:
    * both triangle queries complete the 10x organic probe (q150 OOM'd
    * before the pins at ANY threshold that let the rewrite fire) with
    * the sf0.1 shuffled-hash closure plan intact. A derived-smaller
    * threshold (heap/(slots x 16), = 16m here) was safer by
    * construction but required advisory=16m for the rewrite to fire at
    * all, and THAT coalescing granularity cost the wider suite
    * measurably (q92/q143/q88/q134 1.2-1.6x in a back-to-back A/B) —
    * reverted in favor of pins + the r15-equivalent bound. */
  def shjThreshold(cores: Int): String = {
    val perSlot = Runtime.getRuntime.maxMemory() / math.max(cores, 1) / 4
    val mb = math.max(8L, math.min(64L, perSlot >> 20))
    s"${mb}m"
  }

  /** Engine conf applied to any builder — see the object doc. */
  def defaults(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.adaptive.enabled", "true")
      // let AQE rewrite a sort-merge join to shuffled-hash when the
      // RUNTIME-measured per-partition build side fits task memory —
      // skips sorting the big streamed side (e.g. the triangle wedge
      // stream: 443 MB / 141 s of taskTime at sf0.1; optimization r15)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        shjThreshold(cores))
      // the SHJ rewrite is documented to fire only when the threshold
      // is >= advisoryPartitionSizeInBytes (and every runtime-measured
      // partition is under the threshold) — so the advisory target is
      // tied to the SAME derived value. At this repo's local
      // geometries both equal Spark's 64m default (no coalescing
      // change vs r15); on a core-dense/heap-tight session both drop
      // together so the rewrite stays enabled at the safe granularity.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        shjThreshold(cores))
      .config("spark.sql.session.timeZone", "UTC")

  /** A local-mode session for this repo's mains: master/parallelism from
    * `$SPARK_GRAFT_CPUS` (driver contract — the driver re-runs the bench
    * at a lower core count to measure scaling), engine [[defaults]], UI
    * off, and the audited WindowExec warning demotion (every
    * unpartitioned window in the repo is bounded — see Verify). File
    * listing always runs on the driver: in local mode a listing job's
    * tasks are threads of this JVM reading the same filesystem, so the
    * job only adds scheduling cost (at Spark's default threshold of 32
    * paths, a streamer batch's file list is listed by a job with one
    * task per file). [[defaults]] leaves it alone: embedders may run a
    * cluster. */
  def local(app: String, defaultCpus: String = "32"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val spark = defaults(SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
          Int.MaxValue.toString)
        .config("spark.ui.enabled", "false"),
        cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // audited bounded-input windows only — see the note in Verify.scala
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
