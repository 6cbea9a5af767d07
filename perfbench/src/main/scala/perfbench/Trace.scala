package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval at a layer boundary, in epoch nanoseconds. `parent`
  * is -1 for an op's root span; every span of one op shares `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long) {
  def ns: Long = end - start
}

final case class JobRec(jobId: Int, group: Option[String], table: Option[String],
    start: Long, end: Long, stageIds: Seq[Int])

final case class StageRec(stageId: Int, submitted: Long)

final case class TaskRec(stageId: Int, launch: Long, durationMs: Long, cpuNs: Long,
    gcMs: Long, inBytes: Long, inRecords: Long, shuffleWrite: Long, spill: Long)

/** Collects jobs, stages and tasks from the benchmark side. Jobs are tied
  * to ops by the job group the [[Tracer]] sets, and to the index table a
  * build job writes by the output path in its SQL execution's plan.
  */
final class JobListener extends SparkListener {
  private val execTables = mutable.Map.empty[Long, String]
  private val open = mutable.Map.empty[Int, JobRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      JobListener.writtenTable(e.physicalPlanDescription)
        .foreach(t => synchronized(execTables(e.executionId) = t))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val ids = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
      .flatMap(prop(e.properties, _)).map(_.toLong)
    open(e.jobId) = JobRec(e.jobId, prop(e.properties, "spark.jobGroup.id"),
      ids.flatMap(execTables.get).headOption, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(end = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageRec(s.stageId, s.submissionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.duration,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }
}

object JobListener {
  private val written =
    "Execute InsertIntoHadoopFsRelationCommand\\s+Input[^\\n]*\\s+Arguments: ([^,]+),".r
  private val table = "/(postings|docmap|termdict|stats|deletes)(/|$)".r

  /** The index table a write plan's insert command writes, if any. */
  def writtenTable(planDescription: String): Option[String] =
    written.findFirstMatchIn(planDescription)
      .flatMap(m => table.findFirstMatchIn(m.group(1))).map(_.group(1))
}

/** Spans recorded from the benchmark's own calls into the engine, kept in
  * memory and written out at the end. When `enabled` is false, `op` only
  * times its body and `span` is a plain call.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock, comparable to Spark's
    * millisecond job and task times.
    */
  def now(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) } else None

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Whether the current op records spans and sets its job group; the
    * traced run turns this off on alternate passes to measure overhead.
    */
  var active: Boolean = enabled
  private var stack: List[Int] = Nil
  private var inOp = false
  private var opId = -1
  private var nextId = 0

  def groupOf(op: Int): String = s"perfbench-op-$op"

  /** Runs one client operation; returns its result and wall nanoseconds. */
  def op[A](name: String)(body: => A): (A, Long, Int) = {
    val t0 = System.nanoTime()
    if (!active) { val r = body; return (r, System.nanoTime() - t0, -1) }
    opId += 1
    val id = opId
    sc.setJobGroup(groupOf(id), name)
    inOp = true
    try {
      val r = span(name)(body)
      (r, System.nanoTime() - t0, id)
    } finally { inOp = false; sc.clearJobGroup() }
  }

  /** Records a span inside the current op; outside an op it is a plain call. */
  def span[A](name: String)(body: => A): A = {
    if (!active || !inOp) return body
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = now()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, opId, name, start, now())
    }
  }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}

/** Reductions over spans and listener records. */
object Trace {

  final case class OpJobs(jobs: Seq[JobRec], tasks: Seq[TaskRec])

  /** Jobs of each op: by job group, and by time for jobs started from
    * threads that do not inherit the group (the engine's own futures).
    */
  def jobsByOp(spans: Seq[Span], l: JobListener, group: Int => String): Map[Int, OpJobs] = {
    val roots = spans.filter(_.parent < 0)
    val byGroup = l.jobs.groupBy(_.group)
    val tasksByStage = l.tasks.groupBy(_.stageId)
    roots.map { r =>
      val grouped = byGroup.getOrElse(Some(group(r.op)), Seq.empty)
      val ungrouped = byGroup.getOrElse(None, Seq.empty).filter { j =>
        j.start * 1000000L >= r.start && j.start * 1000000L < r.end }
      val jobs = (grouped ++ ungrouped).toSeq
      val stageIds = jobs.flatMap(_.stageIds).distinct
      r.op -> OpJobs(jobs, stageIds.flatMap(tasksByStage.getOrElse(_, Seq.empty)))
    }.toMap
  }

  /** Spark jobs as child spans of the innermost span that contains them. */
  def jobSpans(spans: Seq[Span], byOp: Map[Int, OpJobs], firstId: Int): Seq[Span] = {
    var id = firstId
    val byOpSpans = spans.groupBy(_.op)
    byOp.toSeq.sortBy(_._1).flatMap { case (op, oj) =>
      val own = byOpSpans.getOrElse(op, Seq.empty)
      oj.jobs.sortBy(_.start).map { j =>
        val (s, e) = (j.start * 1000000L, j.end * 1000000L)
        val parent = own.filter(x => x.start <= s && s < x.end).sortBy(_.ns).headOption
          .orElse(own.find(_.parent < 0))
        id += 1
        Span(id, parent.map(_.id).getOrElse(-1), op,
          j.table.fold("spark.job")(t => s"spark.job.$t"), s, e)
      }
    }
  }

  /** Self time of every span: its duration minus the union of its children. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Long)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      s -> Stats.selfLength(s.start, s.end,
        children.getOrElse(s.id, Seq.empty).filter(_.op == s.op).map(c => (c.start, c.end)))
    }
  }

  /** Total self time per span name (layer), in milliseconds. */
  def selfMsByLayer(spans: Seq[Span]): Map[String, Double] =
    selfTimes(spans).groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).sum / 1e6 }

  /** max/p50 task duration of each stage with at least two tasks. */
  def stageSkews(tasks: Seq[TaskRec]): Seq[Double] =
    tasks.groupBy(_.stageId).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durationMs.toDouble)
      val p50 = Stats.median(d)
      if (p50 > 0) d.max / p50 else 1.0
    }.toSeq

  def spanJson(s: Span): String =
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
}
