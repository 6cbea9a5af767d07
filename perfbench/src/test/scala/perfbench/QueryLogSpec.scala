package perfbench

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.bench.QuerySet.Cmd

class QueryLogSpec extends AnyFunSuite {

  /** bench/queries.txt of the repository this benchmark sits in. */
  private val queriesTxt = Paths.get("..", "bench", "queries.txt")
  private val idents = QueryLog.identifiers(
    (0L until 200L).map(i => graft.bench.CorpusGen.row(5L, i).content))
  private def sample(seed: Long) = QueryLog.sample(seed, idents)

  test("the default seed replays bench/queries.txt byte for byte") {
    val want = new String(Files.readAllBytes(queriesTxt), "UTF-8")
    assert(QueryLog.render(sample(QueryLog.DefaultSeed)) == want)
  }

  test("every seed samples the same strata with the same commands") {
    val default = sample(QueryLog.DefaultSeed)
    for (seed <- Seq(1L, 2L, 7L, 12345L)) {
      val log = sample(seed)
      assert(log.map(_.stratum) == default.map(_.stratum))
      assert(log.map(_.cmd) == default.map(_.cmd))
      assert(log.map(_.text) != default.map(_.text))
      val hot = log.filter(_.stratum == "term_hot").map(_.text)
      assert(hot.distinct.size == 10)
      assert(log.filter(_.stratum == "phrase").forall(_.text.startsWith("\"")))
      assert(log.filter(_.stratum == "conj").forall(_.text.split(' ').forall(_.startsWith("+"))))
      // tail identifiers come from the corpus
      assert(log.filter(_.stratum == "term_tail").forall(q => idents.contains(q.text)))
      // every entry parses with the engine's query parser
      log.foreach(q => graft.query.QueryParser.parse(q.text))
    }
    assert(default.count(_.cmd == Cmd.Top10Count) == 10)
    assert(default.count(_.cmd == Cmd.Count) == 5)
  }

  test("identifiers are the one-token CorpusGen identifiers, sorted and distinct") {
    assert(QueryLog.identifiers(Seq("x parserImpl12 = writer_03(docImpl7);", "docImpl7 fieldA12"))
      == IndexedSeq("docImpl7", "parserImpl12"))
    assert(idents.nonEmpty)
  }

  test("the same seed gives the same log") {
    assert(QueryLog.render(sample(9L)) == QueryLog.render(sample(9L)))
    assert(QueryLog.render(sample(9L)) != QueryLog.render(sample(10L)))
  }

  test("interleaved replay keeps the strata mix in every prefix") {
    val order = Workloads.interleave(sample(3L))
    assert(order.map(_.qid).sorted == (0 until 60))
    val firstSix = order.take(6).map(_.stratum)
    assert(firstSix.toSet == Set("term_hot", "term_tail", "disj", "conj", "phrase"))
    assert(firstSix.count(_ == "disj") == 2)
  }
}
