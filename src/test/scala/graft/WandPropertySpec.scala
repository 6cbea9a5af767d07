package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.query.Wand
import graft.query.Wand.TermScorer
import graft.score.Bm25

/** Property mirror of the reference's block-WAND proptest
  * (`block_wand.rs:339-628`): for random posting lists, the WAND-pruned
  * checkpoint sequence (callback fires iff score > threshold, threshold
  * ratchets to the score) must equal brute-force scoring. 400 seeded random
  * cases (deterministic across runs).
  *
  * Scores are engineered to be exactly representable and order-independent
  * in f32 — term weights are powers of two and tf in {1,3,7} with a flat
  * norm cache of 1.0 gives dyadic tf-factors (1/2, 3/4, 7/8) — so the
  * comparison is exact (the reference's proptest uses nearly-equals because
  * its sums are order-sensitive; ours removes the order sensitivity
  * instead, which also pins the doc sequence deterministically). The
  * scorers read their terms in place in one packed group, between filler
  * terms.
  */
class WandPropertySpec extends AnyFunSuite {

  private val BlockLen = 4 // small blocks exercise boundaries hard
  private val TermWeights = Array(1.0f, 0.5f, 2.0f, 0.25f)
  private val flatCache = Array.fill(256)(1.0f)
  private val TfChoices = Array(1, 3, 7)

  private def genTerm(rng: scala.util.Random): Vector[(Int, Int)] = {
    val n = 1 + rng.nextInt(40)
    val docs = rng.shuffle((0 until 200).toVector).take(n).sorted
    docs.map(d => (d, TfChoices(rng.nextInt(3))))
  }

  /** One scorer per term, all terms' blocks packed into one group between
    * filler terms.
    */
  private def mkScorers(terms: List[Vector[(Int, Int)]]): List[TermScorer] = {
    val rows = terms.zipWithIndex.flatMap { case (postings, termIdx) =>
      postings.grouped(BlockLen).zipWithIndex.map { case (chunk, blockId) =>
        val ds = chunk.map(_._1).toArray
        val ts = chunk.map(_._2).toArray
        val ns = Array.fill(chunk.length)(0)
        val (mn, mt) =
          if (chunk.length == BlockLen) graft.index.IndexBuilder.blockMaxPair(ts, ns, flatCache)
          else (255, 255)
        Packed.block(s"t$termIdx", blockId, mn, mt, ds, ts, ns)
      }
    }
    val g = Packed.group(rows)
    terms.indices.toList.map(i => new TermScorer(Bm25.Weight(TermWeights(i), flatCache, 1.0f), g, g.termIndex(s"t$i")))
  }

  private def checkpointsManual(terms: List[Vector[(Int, Int)]]): List[(Int, Float)] = {
    val allDocs = terms.flatMap(_.map(_._1)).distinct.sorted
    var threshold = Float.MinValue
    val out = List.newBuilder[(Int, Float)]
    allDocs.foreach { d =>
      var score = 0.0f
      terms.zipWithIndex.foreach { case (ps, i) =>
        ps.find(_._1 == d).foreach { case (_, tf) =>
          score += TermWeights(i) * (tf.toFloat / (tf.toFloat + 1.0f))
        }
      }
      if (score > threshold) { out += ((d, score)); threshold = score }
    }
    out.result()
  }

  test("blockWand checkpoints == brute force (400 random cases, seed 42)") {
    val rng = new scala.util.Random(42)
    for (iter <- 1 to 400) {
      val k = 1 + rng.nextInt(4)
      val terms = List.fill(k)(genTerm(rng))
      val expected = checkpointsManual(terms)
      val got = List.newBuilder[(Int, Float)]
      val s = mkScorers(terms)
      if (s.length == 1)
        Wand.blockWandSingle(s.head, Float.MinValue,
          (d, sc) => { got += ((d, sc)); sc })
      else
        Wand.blockWand(s, Float.MinValue, (d, sc) => { got += ((d, sc)); sc })
      assert(got.result() == expected, s"iter $iter with $k terms")
    }
  }

  test("blockWand with a pre-raised threshold prunes but never misses (seed 7)") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val k = 2 + rng.nextInt(3)
      val terms = List.fill(k)(genTerm(rng))
      val th = TermWeights.take(k).sum * 0.5f
      // manual with fixed threshold (no ratchet): all docs whose score > th
      val allDocs = terms.flatMap(_.map(_._1)).distinct.sorted
      val expected = allDocs.flatMap { d =>
        var score = 0.0f
        terms.zipWithIndex.foreach { case (ps, i) =>
          ps.find(_._1 == d).foreach { case (_, tf) =>
            score += TermWeights(i) * (tf.toFloat / (tf.toFloat + 1.0f)) }
        }
        if (score > th) Some((d, score)) else None
      }
      val got = List.newBuilder[(Int, Float)]
      val s = mkScorers(terms)
      Wand.blockWand(s, th, (d, sc) => { got += ((d, sc)); th }) // threshold stays
      assert(got.result() == expected)
    }
  }
}
