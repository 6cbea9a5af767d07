package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.query._

/** WAND eligibility for WEIGHTED disjunctions (round-5 verdict item):
  * `Should(BoostQ(TermQ))` trees — the shape MoreLikeThis emits
  * (`more_like_this.rs:109-121`) — must route through the block-max WAND
  * executor with the boost folded into the Bm25 weight
  * (`bm25.rs:80-87 boost_by`; eligibility `boolean_weight.rs:56-76`),
  * and the pruned path must return exactly what the unpruned general
  * pipeline returns.
  */
class BoostedWandParitySpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val sfDir = "/root/testdata/sf0.01"
  private def haveData = new java.io.File(s"$sfDir/documents.parquet").exists()
  private lazy val sr = Engine.searcher(spark, sfDir)

  test("2-term boosted disjunction: WAND executor == general path, bit-identical") {
    assume(haveData)
    val boosts = Seq("spark" -> 2.0f, "merge" -> 1.0f)
    val q = BoolQ(boosts.map { case (t, b) =>
      Occur.Should -> (BoostQ(TermQ(t), b): Query) })
    val wand = Wand.topK(sr, boosts, 10)._1
    val gen = CompileRoute.topK(sr, q, 10)
    // two f32 addends sum order-independently, so hits AND scores are
    // bit-identical between the folded-weight paths
    assert(wand.toSeq == gen.toSeq)
    // and the collector routes the shape through WAND (same result object
    // semantics as calling the executor directly)
    assert(sr.topDocs(q, 10).toSeq == wand.toSeq)
  }

  test("boost changes the ranking (the fold actually applies)") {
    assume(haveData)
    val flat = Wand.topK(sr, Seq("spark" -> 1.0f, "merge" -> 1.0f), 10)._1
    val boosted = Wand.topK(sr, Seq("spark" -> 0.1f, "merge" -> 3.0f), 10)._1
    assert(flat.map(h => (h.segId, h.docId)).toSeq !=
      boosted.map(h => (h.segId, h.docId)).toSeq)
    // folded weight == reference boost_by: a single boosted term's score is
    // (w*boost)*tfFactor, i.e. boostBy on the weight, not score*boost after
    val w = sr.weightsFor(Seq("spark"))("spark")
    val one = Wand.topK(sr, Seq("spark" -> 2.5f), 5)._1
    val base = Wand.topK(sr, Seq("spark" -> 1.0f), 5)._1
    one.zip(base).foreach { case (b, u) =>
      assert((b.segId, b.docId) == (u.segId, u.docId))
      // recompute via boostBy from the unboosted hit's tfFactor
      val tfFactor = u.score / w.weight
      assert(b.score == w.boostBy(2.5f).weight * tfFactor)
    }
  }

  test("3-term boosted disjunction: same doc set, scores within f32 sum-order slack") {
    assume(haveData)
    val boosts = Seq("spark" -> 1.5f, "merge" -> 1.0f, "order" -> 0.5f)
    val q = BoolQ(boosts.map { case (t, b) =>
      Occur.Should -> (BoostQ(TermQ(t), b): Query) })
    val wand = Wand.topK(sr, boosts, 10)._1
    val gen = CompileRoute.topK(sr, q, 10)
    // >= 3 f32 addends may differ by ulps between the WAND pivot order and
    // the clause order (the reference has the same property between its
    // BufferedUnionScorer and block_wand paths) — compare sets + tolerance
    assert(wand.map(h => (h.segId, h.docId)).toSet ==
      gen.map(h => (h.segId, h.docId)).toSet)
    val genMap = gen.map(h => (h.segId, h.docId) -> h.score).toMap
    wand.foreach(h =>
      assert(math.abs(h.score - genMap((h.segId, h.docId))) <=
        math.ulp(h.score) * 4))
  }

  test("MoreLikeThis rides WAND via the collector rewrite, matching the general path") {
    assume(haveData)
    val mlt = MoreLikeThisQ(0, 0, minDocFreq = 5, minTermFreq = 1, maxQueryTerms = 10)
    val viaCollector = sr.topDocs(mlt, 10)
    val gen = CompileRoute.topK(sr, mlt, 10)
    assert(viaCollector.map(h => (h.segId, h.docId)).toSet ==
      gen.map(h => (h.segId, h.docId)).toSet)
    val genMap = gen.map(h => (h.segId, h.docId) -> h.score).toMap
    viaCollector.foreach(h =>
      assert(math.abs(h.score - genMap((h.segId, h.docId))) <=
        math.ulp(h.score) * 8))
    // the rewrite exposes the WAND-eligible shape: expanding by hand and
    // running the weighted executor gives the same hits
    val expanded = sr.mltDisjunction(mlt)
    val termBoosts = expanded.asInstanceOf[BoolQ].clauses.map {
      case (_, BoostQ(TermQ(t), b)) => (t, b)
      case other => fail(s"unexpected MLT clause shape: $other")
    }
    assert(Wand.topK(sr, termBoosts, 10)._1.toSeq == viaCollector.toSeq)
  }
}
