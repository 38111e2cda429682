package graft.engine

import scala.collection.mutable

/** Repeatable-task scheduler — the reference's `schedule` / `run
  * scheduler` / `task` / `get scheduler` command family
  * (cmd/member_cmd.py:21696-21725 `_schedule`/`_scheduler`,
  * job/task_scheduler.py:127 schedule_server, :253 get_new_task,
  * :301 change_task_mode, :332 show_info).
  *
  * Reference semantics preserved:
  *   - a task fires at a scheduler wake once `now >= start` AND
  *     `now - lastRun >= repeat` (task_scheduler.py:155-163
  *     is_start_time/is_exec_time); the start default is registration
  *     time, so the first wake after `schedule` executes the task;
  *   - `TIME(PREVIOUS)` / `TIME(CURRENT)` placeholders in the task
  *     command are substituted per run (task_scheduler.py:181-204
  *     update_command_string) — PREVIOUS is the last run's CURRENT
  *     stamp, seeded with `now - wake` on the first run;
  *   - task modes Active / Stopped / Removed; `task remove` frees the
  *     slot for reuse by the next `schedule` (get_new_task:266-273);
  *   - duplicate ACTIVE task names on one scheduler are refused
  *     (member_cmd.py:12052 "Duplicate task name");
  *   - per-task run counter + last return status rendered by
  *     `get scheduler` (show_info:332-366).
  *
  * Spark-side divergence (deliberate): the wake loop is one daemon
  * thread per scheduler id calling [[tick]]; `tick(id)` is also public
  * so specs and engine-simulation queries drive VIRTUAL time
  * deterministically through the injected `clock` instead of sleeping.
  * Task commands execute through the engine's own `execute` — a
  * mutating task (sync/refresh/drop) therefore serializes on the
  * engine write gate exactly like an interactive caller, and its
  * result lands in the engine event/error rings like any command.
  *
  * Thread safety: all registry state is guarded by `this`; a tick
  * snapshots due tasks under the lock, then executes OUTSIDE it so a
  * long-running task never blocks `schedule`/`task`/`get scheduler`
  * callers (the reference gets the same property from the GIL +
  * per-scheduler thread).
  */
final class TaskScheduler(exec: String => String,
    clock: () => Long = () => System.currentTimeMillis) {

  /** One scheduled task (job/sche_task.py ScheduledTask). */
  final class Task(val id: Int, val name: String, val command: String,
      val repeatMs: Long, @volatile var startAt: Long) {
    @volatile var mode: String = "Active" // Active | Stopped | Removed
    @volatile var lastRun: Long = Long.MinValue
    @volatile var prevStamp: Option[Long] = None // TIME(PREVIOUS) carry
    @volatile var counter: Long = 0
    @volatile var lastStatus: String = "No runs"
    /** True while a run is executing on the pool — guards re-dispatch
      * of a task that outlives its timeout (one hung command must not
      * pile a new thread per wake). */
    @volatile var inFlight: Boolean = false
  }

  /** scheduler id -> (running?, wakeMs, tasks). Id 1 is the default
    * (task_scheduler.py:84 set_scheduler); registering a task
    * declares the buffers even when the wake thread is not running,
    * same as the reference. */
  private final class Sched(val id: Int) {
    var running = false
    var wakeMs: Long = 10000L // reference default wake_time = 10 s
    /** How long one wake waits for its dispatched tasks before
      * declaring them timed out (they keep running; the SCHEDULE
      * moves on). Generous default — the knob exists so a hung
      * command can't serialize every later task behind it. */
    var taskTimeoutMs: Long = 600000L
    val tasks = mutable.ArrayBuffer.empty[Task]
  }

  /** Shared dispatch pool for task runs — the reference executes
    * scheduled jobs on its job pool rather than the scheduler thread
    * for the same reason. Cached (not fixed): a permanently hung task
    * parks one thread, and `inFlight` stops it from being re-submitted,
    * so the thread count is bounded by the number of DISTINCT hung
    * tasks — a fixed pool would instead let a few hung tasks starve
    * every healthy one. */
  private lazy val pool = java.util.concurrent.Executors
    .newCachedThreadPool(new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-task-${n.incrementAndGet()}")
        t.setDaemon(true); t
      }
    })

  /** Set the per-wake task timeout (see [[Sched.taskTimeoutMs]]). */
  def setTaskTimeout(ms: Long, id: Int = 1): Unit = synchronized {
    require(ms > 0, "timeout must be positive")
    sched(id).taskTimeoutMs = ms
  }
  private val schedulers = mutable.Map.empty[Int, Sched]
  private val threads = mutable.Map.empty[Int, Thread]

  private def sched(id: Int): Sched =
    schedulers.getOrElseUpdate(id, new Sched(id))

  /** `run scheduler [id]` — refuses a second start like the
    * reference's Process_already_running. Spec/test callers pass
    * `spawnThread = false` and drive [[tick]] themselves. */
  def start(id: Int = 1, wakeMs: Long = 10000L,
      spawnThread: Boolean = true): String = synchronized {
    val s = sched(id)
    if (s.running) return s"Scheduler $id already running"
    s.running = true
    s.wakeMs = wakeMs
    if (spawnThread) {
      val t = new Thread(() => {
        var live = true
        while (live && synchronized(s.running)) {
          try tick(id) catch { case _: Throwable => }
          try Thread.sleep(s.wakeMs)
          catch { case _: InterruptedException => live = false }
        }
      }, s"graft-scheduler-$id")
      t.setDaemon(true)
      t.start()
      threads(id) = t
    }
    s"Scheduler $id started (wake ${s.wakeMs / 1000} seconds)"
  }

  /** `exit scheduler [id]` (process_status.is_exit("scheduler")). */
  def stop(id: Int = 1): String = synchronized {
    schedulers.get(id) match {
      case Some(s) if s.running =>
        s.running = false
        threads.remove(id).foreach(_.interrupt())
        s"Scheduler $id terminated"
      case _ => s"Scheduler $id not running"
    }
  }

  def isRunning(id: Int = 1): Boolean =
    synchronized(schedulers.get(id).exists(_.running))

  /** Register a repeatable task (`schedule time = .. task ..`).
    * `startAt` None -> now (get_new_task:258: current time as start).
    * Removed slots are reused before appending (get_new_task:266). */
  def add(name: String, command: String, repeatMs: Long,
      startAt: Option[Long] = None, schedId: Int = 1): Task =
    synchronized {
      require(repeatMs > 0, "schedule: time must be positive")
      val s = sched(schedId)
      if (s.tasks.exists(t => t.mode != "Removed" && t.name == name))
        throw new IllegalArgumentException(
          s"Duplicate task name: '$name'")
      val reuse = s.tasks.indexWhere(_.mode == "Removed")
      val id = if (reuse >= 0) reuse + 1 else s.tasks.length + 1
      val task =
        new Task(id, name, command, repeatMs, startAt.getOrElse(clock()))
      if (reuse >= 0) s.tasks(reuse) = task else s.tasks += task
      task
    }

  /** `task stop|resume|run|remove|init` by name
    * (change_task_mode:301; `task run` forces one immediate
    * execution; `task init` re-arms the start time). */
  def taskCmd(op: String, name: String, schedId: Int = 1,
      newStart: Option[Long] = None): String = {
    val t = synchronized {
      sched(schedId).tasks
        .find(t => t.mode != "Removed" && t.name == name)
        .getOrElse(throw new IllegalArgumentException(
          s"No task named '$name' on scheduler $schedId"))
    }
    op match {
      case "stop"   => t.mode = "Stopped"; s"Task '$name' stopped"
      case "resume" => t.mode = "Active"; s"Task '$name' active"
      case "remove" => t.mode = "Removed"; s"Task '$name' removed"
      case "init" =>
        t.startAt = newStart.getOrElse(clock())
        t.lastRun = Long.MinValue
        s"Task '$name' re-armed"
      case "run" =>
        // a manual run must honor the same single-flight guard as the
        // pooled tick dispatch — otherwise it can execute concurrently
        // with a scheduled run of the same task and race on
        // prevStamp/lastRun/counter
        val claimed = t.synchronized {
          if (t.inFlight) false else { t.inFlight = true; true }
        }
        if (!claimed) s"Task '$name' already running — run skipped"
        else {
          // exactly ONE clear (in the finally): a second clear after
          // the status write could release a claim some OTHER thread
          // acquired in between, breaking single-flight
          try {
            val st = runTask(t, schedId)
            t.synchronized { t.lastStatus = st }
          } finally t.synchronized { t.inFlight = false }
          s"Task '$name' executed"
        }
      case other =>
        throw new IllegalArgumentException(s"task: unknown operation '$other'")
    }
  }

  /** One scheduler wake: snapshot due tasks under the lock, dispatch
    * them IN PARALLEL on the shared pool, and wait at most the
    * scheduler's task timeout for the batch — so one slow or hung
    * command can neither delay the other due tasks this wake (they
    * run concurrently) nor serialize future wakes (the tick returns
    * at the deadline and `get scheduler` shows the straggler as
    * Failed-by-timeout while it keeps `inFlight`, which blocks
    * re-dispatch until it actually finishes). A timed-out task that
    * eventually completes overwrites the timeout status with its real
    * outcome and resumes its schedule. Returns #dispatched. */
  def tick(schedId: Int = 1): Int = {
    val now = clock()
    val (due, timeoutMs) = synchronized {
      val s = sched(schedId)
      // check-and-CLAIM inFlight atomically per task (under the task's
      // own monitor, the same one the completion/clear path uses): a
      // concurrent tick or a manual `task run` racing this filter can
      // no longer both select the same task
      (s.tasks.filter { t =>
        t.mode == "Active" && now >= t.startAt &&
          (t.lastRun == Long.MinValue || now - t.lastRun >= t.repeatMs) &&
          t.synchronized {
            if (t.inFlight) false else { t.inFlight = true; true }
          }
      }.toList, s.taskTimeoutMs)
    }
    val futs = due.map { t =>
      t -> pool.submit(new Runnable {
        def run(): Unit = {
          // status write + inFlight clear are ONE atomic block under
          // the task's monitor, and tick's timeout write is guarded
          // on inFlight under the same monitor — so a real outcome
          // landing just after the deadline is never buried by the
          // timeout message (it either skips the timeout write or
          // overwrites it, both correct)
          val st = runTask(t, schedId)
          t.synchronized { t.lastStatus = st; t.inFlight = false }
        }
      })
    }
    // one shared wall-clock deadline: the whole wake waits at most
    // taskTimeoutMs, not timeoutMs x #due
    val deadline = System.nanoTime + timeoutMs * 1000000L
    futs.foreach { case (t, f) =>
      try f.get(math.max(deadline - System.nanoTime, 0L),
        java.util.concurrent.TimeUnit.NANOSECONDS)
      catch {
        case _: java.util.concurrent.TimeoutException =>
          t.synchronized {
            if (t.inFlight) t.lastStatus =
              s"Failed: timeout after ${timeoutMs / 1000} s " +
                "(still running)"
          }
        case _: java.util.concurrent.ExecutionException => ()
        case _: InterruptedException =>
          Thread.currentThread().interrupt()
      }
    }
    due.size
  }

  private def runTask(t: Task, schedId: Int): String = {
    val now = clock()
    // TIME(PREVIOUS)/TIME(CURRENT) substitution
    // (task_scheduler.py:181-204): PREVIOUS = last run's CURRENT
    // stamp, first run seeded with now - wake.
    val wake = synchronized(sched(schedId).wakeMs)
    val prev = t.prevStamp.getOrElse(now - wake)
    val cmd = t.command
      .replace("TIME(PREVIOUS)", s"'${fmt(prev)}'")
      .replace("TIME(CURRENT)", s"'${fmt(now)}'")
    // the reference advances PREVIOUS only when the command stamps a
    // CURRENT (task_scheduler.py:198-200) — a PREVIOUS-only command
    // keeps re-reading from now - wake each run, matched here
    if (t.command.contains("TIME(CURRENT)")) t.prevStamp = Some(now)
    t.lastRun = now
    t.counter += 1
    // RETURNS the outcome instead of writing it — the caller owns the
    // lastStatus write so it can make it atomic with the inFlight
    // clear (see tick's dispatch block)
    try { exec(cmd); "Success" }
    catch {
      case e: Throwable =>
        "Failed: " + Option(e.getMessage).getOrElse(
          e.getClass.getSimpleName).linesIterator.next()
    }
  }

  private def fmt(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))

  /** `get scheduler [id]` — status header + the reference's task table
    * columns (show_info:345: ID, Mode, Name, Counter, Run Status,
    * Start-Time, Repeat-Time, Task). */
  def report(id: Int = 1): String = synchronized {
    schedulers.get(id) match {
      case None => s"Scheduler $id not declared"
      case Some(s) =>
        val state = if (s.running) "Running" else "Not Running"
        val live = s.tasks.filter(_.mode != "Removed")
        val rows = live.map { t =>
          Seq(t.id.toString, t.mode, t.name, t.counter.toString,
            t.lastStatus, fmt(t.startAt), s"${t.repeatMs / 1000} seconds",
            t.command)
        }.toSeq
        val header = Seq("ID", "Mode", "Name", "Counter", "Run Status",
          "Start-Time", "Repeat-Time", "Task")
        val widths = header.indices.map(i =>
          (header(i) +: rows.map(_(i))).map(_.length).max)
        def line(cells: Seq[String]) =
          cells.zip(widths).map { case (c, w) => c.padTo(w, ' ') }
            .mkString("| ", " | ", " |")
        (s"Scheduler ID:     $id\nScheduler Status: $state\n" +
          (line(header) +: rows.map(line)).mkString("\n")).trim
    }
  }

  /** All declared scheduler ids (show_all:318). */
  def ids: Seq[Int] = synchronized(schedulers.keys.toSeq.sorted)

  /** Live (non-removed) tasks, for assertions. */
  def tasksOf(id: Int = 1): Seq[Task] =
    synchronized(sched(id).tasks.filter(_.mode != "Removed").toSeq)
}
