package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("percentile interpolates between the closest ranks") {
    val xs = Seq(15.0, 20.0, 35.0, 40.0, 50.0)
    assert(Stats.percentile(xs, 0) == 15.0)
    assert(Stats.percentile(xs, 100) == 50.0)
    assert(Stats.median(xs) == 35.0)
    assert(Stats.percentile(xs, 40) == 29.0) // rank 1.6: 20 + 0.6 * 15
    assert(math.abs(Stats.percentile(xs, 90) - 46.0) < 1e-9) // rank 3.6
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
  }

  test("percentile ignores input order and is 0 on no samples") {
    assert(Stats.median(Seq(9.0, 1.0, 5.0)) == 5.0)
    assert(Stats.percentile(Seq.empty, 90) == 0.0)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("union length counts overlapping intervals once") {
    assert(Stats.unionLength(Seq.empty) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20L)
    assert(Stats.unionLength(Seq((20L, 25L), (0L, 10L), (2L, 3L))) == 15L)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 12L))) == 12L)
    assert(Stats.unionLength(Seq((5L, 5L), (7L, 6L))) == 0L)
  }

  test("self length subtracts the children clipped to the parent") {
    assert(Stats.selfLength(0L, 100L, Seq.empty) == 100L)
    assert(Stats.selfLength(0L, 100L, Seq((10L, 30L), (20L, 40L))) == 70L)
    assert(Stats.selfLength(50L, 100L, Seq((0L, 60L), (90L, 200L))) == 30L)
  }

  test("self time per layer: each span minus its own children, summed by name") {
    val spans = Seq(
      Span(0, -1, 0, "query", 0L, 100L),
      Span(1, 0, 0, "query.parse", 0L, 10L),
      Span(2, 0, 0, "query.collect", 10L, 100L),
      Span(3, 2, 0, "spark.job", 20L, 60L),
      Span(4, 2, 0, "spark.job", 50L, 90L),
      Span(5, -1, 1, "query", 200L, 250L),
      Span(6, 5, 1, "query.collect", 200L, 250L))
    val self = Trace.selfMsByLayer(spans).map { case (k, v) => k -> math.round(v * 1e6) }
    assert(self == Map("query" -> 0L, "query.parse" -> 10L, "query.collect" -> 70L,
      "spark.job" -> 80L))
  }

  test("stage skew is max over median task time, for stages with two or more tasks") {
    def task(stage: Int, ms: Long) = TaskRec(stage, 0L, ms, 0L, 0L, 0L, 0L, 0L, 0L)
    val skews = Trace.stageSkews(Seq(task(1, 10), task(1, 20), task(1, 40), task(2, 99)))
    assert(skews == Seq(2.0))
  }

  test("a write plan is attributed to the index table its insert command writes") {
    val plan =
      """== Physical Plan ==
        |AdaptiveSparkPlan (6)
        |+- Execute InsertIntoHadoopFsRelationCommand (5)
        |   +- Scan parquet (1)
        |
        |(1) Scan parquet
        |Location: InMemoryFileIndex [file:/idx/postings/batch=0]
        |
        |(5) Execute InsertIntoHadoopFsRelationCommand
        |Input: []
        |Arguments: file:/idx/termdict/batch=0, false, Parquet, [path=/idx/termdict/batch=0], Overwrite
        |""".stripMargin
    assert(JobListener.writtenTable(plan).contains("termdict"))
    assert(JobListener.writtenTable(plan.replace("termdict", "other")).isEmpty)
    assert(JobListener.writtenTable("== Physical Plan ==\nScan parquet").isEmpty)
  }
}
