package graft

import org.apache.spark.JobGroupTrace
import org.scalatest.funsuite.AnyFunSuite
import graft.bench.CorpusGen
import graft.index.IndexConfig
import graft.query.TermQ

/** The write path's Spark job budget. An append, a delete and a reopened
  * Searcher's first collector query read every index table with its
  * declared schema, so none runs a Parquet schema-inference job (a
  * `parquet at ...` job outside any SQL execution); a delete runs its
  * query plan once, counting its matches on the write instead of in a
  * separate count; and every job of an append, its concurrent sha256 check
  * included, runs in the caller's job group.
  */
class JobBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Run `f` in its own job group; its jobs as (callsite, SQL execution
    * plan, if any).
    */
  private def jobsOf(name: String)(f: => Any): Seq[(String, Option[String])] = {
    val got = JobGroupTrace(spark.sparkContext, s"budget-$name")(f).jobs
    info(s"$name: ${got.size} jobs: ${got.map(_._1).mkString(", ")}")
    got
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
    // the sha256 check runs on another thread; its jobs, named by its call
    // site, must carry the append's job group
    val check = append.filter(_._1.startsWith("sha256 verify of batch "))
    assert(check.size >= 2, "the sha256 check's jobs are outside the append's job group")
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
