package graft

import org.scalatest.funsuite.AnyFunSuite

/** Batch retrieval parity: `Engine.topKBatchF64` answers N disjunctive
  * queries off ONE postings scan and must return, per qid, exactly what the
  * per-query `topKShouldF64` pipeline returns — same f64 scores, same
  * rounding, same (score desc, doc_id) tie order. The batch path exists for
  * throughput (query-log replay at 100 TB amortizes to one scan + one
  * shuffle); this spec pins that it buys NO semantic drift.
  */
class BatchTopKSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sfDir/documents.parquet").exists()
  private lazy val sr = Engine.searcher(spark, sfDir)

  private val queries = Seq(
    "q_spark" -> Seq("spark"),
    "q_spark_merge" -> Seq("spark", "merge"),
    "q_vwh" -> Seq("vector", "window", "hash"),
    "q_dup_terms" -> Seq("spark", "spark"),     // duplicate terms collapse
    "q_missing" -> Seq("zzz_not_a_term"))       // absent vocabulary -> 0 rows

  test("batch == per-query topKShouldF64, every qid, scores bit-identical") {
    assume(haveData)
    val k = 10
    val batch = Engine.topKBatchF64(sr, queries, k)
      .as[(String, Long, Double)].collect().toSeq
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3))).toMap
    queries.foreach { case (qid, terms) =>
      val single = Engine.topKShouldF64(sr, terms, k)
        .as[(Long, Double)].collect().toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"qid=$qid")
    }
  }

  test("per-qid k is enforced independently") {
    assume(haveData)
    val perQid = Engine.topKBatchF64(sr, queries, 3)
      .groupBy("qid").count().as[(String, Long)].collect().toMap
    assert(perQid.values.forall(_ <= 3))
    assert(perQid("q_spark") == 3 && !perQid.contains("q_missing"))
  }

  test("duplicate qids are rejected, not unioned") {
    assume(haveData)
    val dup = Seq("q" -> Seq("spark"), "q" -> Seq("merge"))
    val e = intercept[IllegalArgumentException](Engine.topKBatchF64(sr, dup, 10))
    assert(e.getMessage.contains("duplicate qids"))
  }
}
