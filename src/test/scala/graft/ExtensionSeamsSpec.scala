package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig, ParquetSegmentStore}
import graft.query._
import graft.score.{Bm25, Bm25StatisticsProvider}

/** The two extension seams promised by SURVEY §7 / §2.10 (round-5 verdict
  * item): a `SegmentStore` the query side resolves all component tables
  * through, and a `Bm25StatisticsProvider` (`bm25.rs:13-23`) that swaps
  * the statistics under the BM25 formulas.
  */
class ExtensionSeamsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val idxDir = {
    val d = java.nio.file.Files.createTempDirectory("graft-seams").toString
    val docs = Seq(
      ("r0", "p0", "c0", "x", "alpha beta gamma alpha"),
      ("r0", "p1", "c0", "x", "beta delta"),
      ("r0", "p2", "c0", "x", "alpha epsilon"))
      .toDF("repo", "path", "commit", "lang", "content")
    IndexBuilder.build(spark, docs, d, IndexConfig(numSegments = 1))
    d
  }

  test("SegmentStore: every component read flows through the trait") {
    val reads = scala.collection.mutable.ArrayBuffer.empty[String]
    val counting = new ParquetSegmentStore(idxDir) {
      override def read(s: org.apache.spark.sql.SparkSession, c: String) = {
        reads += c; super.read(s, c)
      }
    }
    val sr = new Searcher(spark, idxDir, store = counting)
    assert(sr.docFreqs(Seq("alpha", "beta")) == Map("alpha" -> 2L, "beta" -> 2L))
    assert(sr.count(TermQ("alpha")) == 2L)
    assert(reads.contains("termdict"),
      s"df lookups must resolve through the store, saw: $reads")
    val viaDefault = new Searcher(spark, idxDir).topDocs(TermQ("alpha"), 3)
    assert(sr.topDocs(TermQ("alpha"), 3).toSeq == viaDefault.toSeq)
    assert(reads.contains("stats") && reads.contains("postings"),
      s"scoring must resolve stats+postings through the store, saw: $reads")
  }

  test("Bm25StatisticsProvider: the Searcher is the default provider") {
    val sr = new Searcher(spark, idxDir)
    assert(sr.docCount("content") == 3L && sr.totalTokens("content") == 8L)
    assert(sr.docFreq("content", "alpha") == 2L && sr.docFreq("content", "nope") == 0L)
    // provider-built weights == the manifest-stats weights, bit for bit
    val viaProvider = sr.weightsFromProvider(sr, Seq("alpha", "beta"))
    val direct = sr.weightsFor(Seq("alpha", "beta"))
    assert(viaProvider.keySet == direct.keySet)
    viaProvider.foreach { case (t, w) => assert(w.weight == direct(t).weight) }
  }

  test("swapping stats (custom N) changes scores exactly per bm25.rs formulas") {
    val sr = new Searcher(spark, idxDir)
    // a corpus-level override: pretend the index is a shard of a 1000-doc
    // corpus with 4000 tokens where 'alpha' appears in 10 docs
    val custom = new Bm25StatisticsProvider {
      def totalTokens(field: String): Long = 4000L
      def docCount(field: String): Long = 1000L
      def docFreq(field: String, term: String): Long = if (term == "alpha") 10L else 0L
    }
    val w = sr.weightsFromProvider(custom, Seq("alpha", "beta"))
    assert(w.keySet == Set("alpha")) // beta: custom df 0 -> dropped
    // bm25.rs:50-54 idf + :127-141 for_one_term, in f32 exactly
    val expected = Bm25.forOneTerm(10L, 1000L, Bm25.averageFieldnorm(4000L, 1000L))
    assert(w("alpha").weight == expected.weight)
    assert(w("alpha").weight == Bm25.idf(10L, 1000L) * 2.2f)
    assert(w("alpha").avgFieldnorm == 4.0f)
    // ... and a per-posting score under the swapped stats follows the same
    // curve: score = weight * tf/(tf + K1*(1-B+B*dl/avgdl))
    val normId = graft.analysis.FieldNorm.fieldnormToId(4L)
    val dl = graft.analysis.FieldNorm.idToFieldnorm(normId)
    val man = w("alpha").weight *
      (2.0f / (2.0f + 1.2f * (0.25f + 0.75f * dl.toFloat / 4.0f)))
    assert(w("alpha").score(normId, 2L) == man)
    // the swap visibly re-ranks: 10-in-1000 idf >> 2-in-3 idf
    assert(w("alpha").weight > sr.weightsFor(Seq("alpha"))("alpha").weight)
  }
}
