package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite
import graft.bench.CorpusGen
import graft.index.IndexConfig
import graft.query.TermQ

/** The write path's Spark job budget. An append, a delete and a reopened
  * Searcher's first collector query read every index table with its
  * declared schema, so none runs a Parquet schema-inference job (a
  * `parquet at ...` job outside any SQL execution); and a delete runs its
  * query plan once, counting its matches on the write instead of in a
  * separate count.
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** One job group's jobs, and the plans of the SQL executions they ran in. */
  private final class Jobs(group: String) extends SparkListener {
    /** (job callsite, SQL execution id) per job of the group. */
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Option[Long])]()
    val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
        val exec = Seq("spark.sql.execution.root.id", "spark.sql.execution.id")
          .flatMap(k => Option(e.properties.getProperty(k))).headOption.map(_.toLong)
        jobs.add((e.stageInfos.maxBy(_.stageId).name, exec))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => plans.put(s.executionId, s.physicalPlanDescription)
      case _ => ()
    }
  }

  /** Run `f` in its own job group; its jobs as (callsite, SQL execution
    * plan, if any).
    */
  private def jobsOf(name: String)(f: => Any): Seq[(String, Option[String])] = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"budget-$name-${System.nanoTime()}"
    val l = new Jobs(group)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, name)
      try f finally sc.clearJobGroup()
      ListenerBusDrain(sc)
      val got = l.jobs.asScala.toSeq.map { case (site, exec) => (site, exec.map(l.plans.get)) }
      info(s"$name: ${got.size} jobs: ${got.map(_._1).mkString(", ")}")
      got
    } finally sc.removeSparkListener(l)
  }

  private def inference(jobs: Seq[(String, Option[String])]): Seq[String] =
    jobs.collect { case (site, None) if site.startsWith("parquet at ") => site }

  private lazy val corpus = CorpusGen.corpus(spark, 400, seed = 3L).toDF()
  private lazy val dir = java.nio.file.Files.createTempDirectory("gb").toString
  private lazy val idx = {
    val i = Graft.build(spark, corpus.limit(200), dir, IndexConfig(numSegments = 2))
    i.searcher.topDocs(TermQ("val"), 10)
    i
  }

  test("an append runs no schema inference") {
    idx
    val append = jobsOf("append")(idx.add(corpus.offset(200)))
    assert(append.size > 0)
    assert(inference(append).isEmpty, "append inferred schemas")
  }

  test("a delete runs no schema inference and its query plan once") {
    val before = idx.searcher.count(TermQ("error"))
    assert(before > 0, "the corpus must contain the delete term")
    var deleted = 0L
    val delete = jobsOf("delete") { deleted = idx.delete(TermQ("error")) }
    assert(deleted == before)
    assert(inference(delete).isEmpty, "delete inferred schemas")
    // the executions that scan the postings: the query plan, run once, by
    // the write that counts it
    val scans = delete.flatMap(_._2).distinct.filter(_.contains(s"$dir/postings"))
    val (n, written) = (scans.length, scans.forall(_.contains("InsertIntoHadoopFsRelationCommand")))
    assert(n == 1, "executions that scan the postings")
    assert(written, "the query plan is not the write")
  }

  test("a reopened Searcher's first collector query runs no schema inference") {
    var hits = 0
    val reopen = jobsOf("reopen") { hits = idx.searcher.topDocs(TermQ("val"), 10).length }
    assert(hits == 10)
    assert(inference(reopen).isEmpty, "reopen inferred schemas")
  }
}
