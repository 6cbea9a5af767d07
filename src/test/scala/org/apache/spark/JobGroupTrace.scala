package org.apache.spark

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one job group ran, seen by a listener scoped to the group: its
  * jobs (call site, and the physical plan of the SQL execution each ran
  * in, if any), its submitted stages, the RDDs those stages ran, the tasks
  * that ended in them, and the shuffle bytes those tasks wrote and read.
  */
final class JobGroupTrace private (val group: String) extends SparkListener {
  private val jobSites = new ConcurrentLinkedQueue[(String, Option[Long])]()
  private val plans = new ConcurrentHashMap[Long, String]()
  private val stageCount = new AtomicInteger
  private val stageIds = ConcurrentHashMap.newKeySet[Int]()
  private val rddNames = ConcurrentHashMap.newKeySet[String]()
  private val shuffle = new AtomicLong
  private val stageTasks = new ConcurrentHashMap[Int, AtomicInteger]()

  private def ours(p: java.util.Properties) =
    p != null && p.getProperty("spark.jobGroup.id") == group

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (ours(e.properties)) {
      val exec = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
        .flatMap(k => Option(e.properties.getProperty(k))).headOption.map(_.toLong)
      jobSites.add((e.stageInfos.maxBy(_.stageId).name, exec))
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (ours(e.properties)) {
      stageCount.incrementAndGet(); stageIds.add(e.stageInfo.stageId)
      stageTasks.putIfAbsent(e.stageInfo.stageId, new AtomicInteger)
      e.stageInfo.rddInfos.foreach(r => rddNames.add(r.name))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageIds.contains(e.stageId)) {
      stageTasks.get(e.stageId).incrementAndGet()
      if (e.taskMetrics != null)
        shuffle.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten +
          e.taskMetrics.shuffleReadMetrics.totalBytesRead)
    }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
    case _ => ()
  }

  /** Each job as (call site, physical plan of its SQL execution, if any). */
  def jobs: Seq[(String, Option[String])] =
    jobSites.asScala.toSeq.map { case (site, exec) => (site, exec.map(plans.get)) }
  def stages: Int = stageCount.get
  def rdds: Set[String] = rddNames.asScala.toSet
  /** Tasks that ended in the group's stages. */
  def tasks: Int = stageTasks.values.asScala.map(_.get).sum
  /** Tasks that ended in the group's last submitted stage: a job's result
    * stage, when the group ran one job.
    */
  def lastStageTasks: Int =
    stageTasks.asScala.maxByOption(_._1).fold(0)(_._2.get)
  /** Shuffle bytes written plus shuffle bytes read. */
  def shuffleBytes: Long = shuffle.get
}

object JobGroupTrace {
  /** Run `f` in a job group of its own, named after `name`, and return
    * what the group ran, every event of it delivered.
    */
  def apply(sc: SparkContext, name: String)(f: => Any): JobGroupTrace = {
    val t = new JobGroupTrace(s"$name-${System.nanoTime()}")
    sc.addSparkListener(t)
    try {
      sc.setJobGroup(t.group, name)
      try f finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      t
    } finally sc.removeSparkListener(t)
  }
}
