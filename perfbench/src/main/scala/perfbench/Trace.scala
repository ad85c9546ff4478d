package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is 0 for a top-level span;
  * `request` groups the spans of one request (a file event id, an index
  * round, a board row). `cpuNs` is the CPU time the whole process spent
  * while the span was open.
  */
final case class Span(id: Int, name: String, parent: Int, request: String,
    attrs: Map[String, String], startNs: Long, endNs: Long, cpuNs: Long = 0) {
  def durNs: Long = endNs - startNs
}

/** Records spans in memory on the single client thread. When a Spark
  * context is given, the innermost open span is also published as the
  * thread's job group, so every job and SQL execution it submits names
  * the span that caused it.
  */
final class Recorder(sc: Option[SparkContext]) {
  private val open = mutable.ArrayBuffer.empty[Int]
  private val done = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  var request: String = ""
  /** Wall-clock anchor for converting Spark's millisecond event times. */
  val wallMs0: Long = System.currentTimeMillis()
  val nano0: Long = System.nanoTime()

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.lastOption.getOrElse(0)
    val req = request
    open += id
    publish(id)
    val c0 = Recorder.processCpuNs()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = Recorder.processCpuNs()
      open.remove(open.length - 1)
      publish(open.lastOption.getOrElse(0))
      done += Span(id, name, parent, req, attrs, t0, t1, c1 - c0)
    }
  }

  private def publish(id: Int): Unit = sc.foreach { c =>
    if (id == 0) c.clearJobGroup()
    else c.setJobGroup(Recorder.groupOf(id), "perfbench span", interruptOnCancel = false)
  }

  /** Spark event time (epoch ms) on the recorder's nanosecond clock. */
  def msToNs(ms: Long): Long = nano0 + (ms - wallMs0) * 1000000L
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of every thread of the process. Unlike wall time it does not
    * grow when the host takes the machine's CPUs away (steal).
    */
  def processCpuNs(): Long = os.getProcessCpuTime

  private val Prefix = "perfbench-span-"
  def groupOf(id: Int): String = Prefix + id
  def spanOfGroup(g: String): Option[Int] =
    if (g != null && g.startsWith(Prefix)) g.drop(Prefix.length).toIntOption else None
}

/** Per-stage task counters, summed over the stage's finished tasks;
  * shuffle bytes are the bytes the stage's tasks wrote to the shuffle.
  */
final case class TaskSums(tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, longestMs: Long = 0, inputBytes: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0, outputBytes: Long = 0) {
  def +(o: TaskSums): TaskSums = TaskSums(tasks + o.tasks, runMs + o.runMs,
    cpuNs + o.cpuNs, gcMs + o.gcMs, math.max(longestMs, o.longestMs),
    inputBytes + o.inputBytes, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes)
}

final case class JobRec(jobId: Int, group: Option[String], startMs: Long,
    endMs: Long, stageIds: Seq[Int])

/** Engine events of one run: jobs with their group and interval, task
  * counters per stage, completed stages, and the planning phases of each
  * query execution. Events arrive on Spark's listener thread; reads
  * happen after the bus has drained.
  */
final class EngineLog extends SparkListener with QueryExecutionListener {
  private val jobStarts = mutable.Map.empty[Int, (Option[String], Long, Seq[Int])]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageTasks = mutable.Map.empty[Int, TaskSums]
  val stagesRun = mutable.ArrayBuffer.empty[Int]
  /** Query execution id → (start ms, duration ms) of its analysis,
    * optimization and planning phases. The phases run on the thread that
    * built or ran the query, so their start times place them in a span.
    */
  val planning = mutable.Map.empty[Long, Seq[(Long, Long)]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    jobStarts(e.jobId) = (g, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach { case (g, t0, st) =>
      jobs += JobRec(e.jobId, g, t0, e.time, st)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stagesRun += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val dur = if (e.taskInfo != null) e.taskInfo.duration else 0L
    val t = if (m == null) TaskSums(tasks = 1, longestMs = dur)
    else TaskSums(1, m.executorRunTime, m.executorCpuTime, m.jvmGCTime, dur,
      m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, TaskSums()) + t
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    recordPlanning(qe)

  private def recordPlanning(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values.map(p => (p.startTimeMs, p.durationMs)).toSeq
    synchronized { planning(qe.id) = phases }
  }

  /** A consistent copy, taken once the listener bus is idle. */
  def snapshot(): EngineSnapshot = synchronized {
    EngineSnapshot(jobs.toSeq, stageTasks.toMap, stagesRun.toSeq, planning.toMap)
  }
}

final case class EngineSnapshot(jobs: Seq[JobRec], stageTasks: Map[Int, TaskSums],
    stagesRun: Seq[Int], planning: Map[Long, Seq[(Long, Long)]])

/** Counters attributed to one span, excluding its children. */
final case class Counters(jobs: Int = 0, stages: Int = 0, tasks: TaskSums = TaskSums(),
    planMs: Long = 0, jobIntervalsNs: Seq[(Long, Long)] = Nil) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, planMs + o.planMs, jobIntervalsNs ++ o.jobIntervalsNs)
}

/** Attribution of engine events to spans, and the span arithmetic the
  * per-layer metrics are built from.
  */
final class Attribution(spans: Seq[Span], snap: EngineSnapshot, msToNs: Long => Long) {
  private val byId = spans.map(s => s.id -> s).toMap
  private val children: Map[Int, Seq[Span]] = spans.groupBy(_.parent)

  /** The innermost span open at `ns`: spans on one thread nest, so it is
    * the containing span that started last.
    */
  def innermostAt(ns: Long): Option[Int] = {
    val c = spans.filter(s => s.startNs <= ns && ns <= s.endNs)
    if (c.isEmpty) None else Some(c.maxBy(_.startNs).id)
  }

  /** A job belongs to the span named by its job group; a job submitted
    * under another group (a streaming query thread sets its own) falls
    * back to the innermost span open when it started.
    */
  def spanOfJob(j: JobRec): Option[Int] =
    j.group.flatMap(Recorder.spanOfGroup).filter(byId.contains)
      .orElse(innermostAt(msToNs(j.startMs)))

  private val stageRuns: Map[Int, Int] = snap.stagesRun.groupBy(identity).map {
    case (k, v) => k -> v.size }

  val own: Map[Int, Counters] = {
    val acc = mutable.Map.empty[Int, Counters]
    // a stage listed by several jobs (a reused exchange) is charged once,
    // to the first job that ran it
    val charged = mutable.Set.empty[Int]
    snap.jobs.sortBy(_.jobId).foreach { j =>
      spanOfJob(j).foreach { sid =>
        val mine = j.stageIds.filter(st => !charged(st))
        charged ++= mine
        val c = Counters(jobs = 1,
          stages = mine.map(st => stageRuns.getOrElse(st, 0)).sum,
          tasks = mine.flatMap(snap.stageTasks.get).foldLeft(TaskSums())(_ + _),
          jobIntervalsNs = Seq((msToNs(j.startMs), msToNs(j.endMs))))
        acc(sid) = acc.getOrElse(sid, Counters()) + c
      }
    }
    // a planning phase belongs to the innermost span open when it started
    snap.planning.values.flatten.foreach { case (t0, ms) =>
      innermostAt(msToNs(t0)).foreach(s =>
        if (ms > 0) acc(s) = acc.getOrElse(s, Counters()) + Counters(planMs = ms))
    }
    acc.toMap
  }

  def descendants(id: Int): Seq[Span] =
    children.getOrElse(id, Nil).flatMap(c => c +: descendants(c.id))

  /** Counters of a span and everything under it. */
  def inclusive(id: Int): Counters =
    (id +: descendants(id).map(_.id)).flatMap(own.get).foldLeft(Counters())(_ + _)

  /** Duration minus the part of it that child spans cover. */
  def selfNs(id: Int): Long = {
    val s = byId(id)
    s.durNs - Attribution.coveredNs(children.getOrElse(id, Nil).map(c =>
      (c.startNs, c.endNs)), s.startNs, s.endNs)
  }

  /** Wall time of the span during which none of its jobs ran. */
  def driverGapNs(id: Int): Long = {
    val s = byId(id)
    s.durNs - Attribution.coveredNs(inclusive(id).jobIntervalsNs, s.startNs, s.endNs)
  }

  /** Job-busy wall time of the span (the union of its jobs' intervals). */
  def jobWallNs(id: Int): Long = {
    val s = byId(id)
    Attribution.coveredNs(inclusive(id).jobIntervalsNs, s.startNs, s.endNs)
  }
}

object Attribution {
  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def coveredNs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
