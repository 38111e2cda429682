package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `trace` groups the spans of
  * one request; `parent` is the span that caused this one (0 = root).
  * Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Long, end: Long)

/** In-memory span recorder. Off, `span` only runs its body. Spans are
  * written out when the run ends. */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  // wall-clock millis (Spark's event times) onto the nanoTime axis
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nanosOf(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  def span[T](name: String)(body: => T): T = if (!on) body else {
    val outer = stack.get
    val id = ids.incrementAndGet()
    val (parent, trace) = outer match {
      case p :: _ => (p.id, p.trace)
      case Nil => (0L, id)
    }
    stack.set(Span(id, parent, trace, name, 0, 0) :: outer)
    val t0 = System.nanoTime()
    try body finally {
      spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  /** Record an interval measured elsewhere (a Spark job, a streaming
    * batch) as a child of `parent`. */
  def add(name: String, parent: Option[Span], start: Long, end: Long): Unit =
    if (on) {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent.map(_.id).getOrElse(0L),
        parent.map(_.trace).getOrElse(id), name, start, end))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans named `name`. */
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of each span: its duration minus the part of it its
    * children cover, ms. */
  def selfMs: Map[Long, Double] = {
    val s = all
    val kids = s.groupBy(_.parent)
    s.map { p =>
      val covered = Stats.unionLength(kids.getOrElse(p.id, Nil)
        .map(c => (math.max(c.start, p.start), math.min(c.end, p.end))))
      p.id -> (p.end - p.start - covered) / 1e6
    }.toMap
  }

  /** Mean self time per span of `name`, ms (0 when there are none). */
  def meanSelfMs(name: String): Double = {
    val self = selfMs
    Stats.mean(named(name).map(sp => self(sp.id)))
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.start).map { sp =>
      s"""{"id": ${sp.id}, "parent": ${sp.parent}, "trace": ${sp.trace}, """ +
        s""""name": ${Json.str(sp.name)}, "start_ns": ${sp.start - baseNs}, """ +
        s""""end_ns": ${sp.end - baseNs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

/** Spark job, task and streaming-progress counts, collected by
  * listeners the benchmark registers for a traced run only. */
object Listeners {
  /** A Spark job: its local properties and, once it ended, its counts.
    * Times are wall-clock ms. */
  final case class Job(id: Int, group: String, stream: String,
      start: Long, var end: Long = -1, var tasks: Int = 0,
      var taskMs: Long = 0, var shuffleBytes: Long = 0)
  /** Catalyst phase times of one executed query, ms. */
  final case class Phases(analysis: Double, optimization: Double,
      planning: Double, startMs: Long)
  /** One streaming progress report: batch end (ms) and its durations. */
  final case class Progress(endMs: Long, durations: Map[String, Long],
      rows: Long)
}

final class Listeners(spark: SparkSession) {
  import Listeners._

  private val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Job]
  private val phases = new ConcurrentLinkedQueue[Phases]
  private val progress = new ConcurrentLinkedQueue[Progress]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      val j = Job(e.jobId, prop("spark.jobGroup.id"), prop("sql.streaming.queryId"), e.time)
      Listeners.this.synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach(s => stageJob(s) = j)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Listeners.this.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Listeners.this.synchronized {
        stageJob.get(e.stageId).foreach { j =>
          j.tasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.taskMs += m.executorRunTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      phases.add(Phases(ms("analysis"), ms("optimization"), ms("planning"), start))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)
      progress.add(Progress(end,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def jobsWhere(p: Job => Boolean): Seq[Job] = { drain(); synchronized(jobs.values.filter(p).toSeq) }
  def jobsInGroup(g: String): Seq[Job] = jobsWhere(_.group == g)
  /** Planning phases of the queries executed in [fromMs, toMs]. */
  def phasesBetween(fromMs: Long, toMs: Long): Seq[Phases] = {
    drain(); phases.asScala.filter(p => p.startMs >= fromMs && p.startMs <= toMs).toSeq
  }
  def progressBetween(fromMs: Long, toMs: Long): Seq[Progress] = {
    drain(); progress.asScala.filter(p => p.endMs >= fromMs && p.endMs <= toMs).toSeq
  }
}
