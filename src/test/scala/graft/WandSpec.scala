package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.concurrent.TimeLimits
import org.scalatest.time.{Seconds, Span}
import graft.query.Wand
import graft.query.Wand.TermScorer
import graft.score.Bm25

/** Regression tests for the block-max WAND executor's termination
  * invariants (reference `block_wand.rs`), its scorers reading their
  * terms in place in a packed group, between filler terms.
  */
class WandSpec extends AnyFunSuite with TimeLimits {

  private def weight(w: Float): Bm25.Weight =
    Bm25.Weight(w, Array.fill(256)(1.0f), 1.0f)

  test("blockWand terminates when the pivot scorer is TERMINATED") {
    // Regression: a scorer exhausted by advanceOneScorer stays in the list
    // with doc == TERMINATED. findPivot must return None when the pivot
    // lands on it (block_wand.rs:23-34), not spin. Before the fix this
    // looped forever (observed live on the sf0.001 corpus).
    val g = Packed.group(Seq(
      Packed.block("live", 0, 0, 1, Array(1, 5), Array(1, 1), Array(0, 0)),
      Packed.block("dead", 0, 0, 1, Array(3), Array(1), Array(0))))
    val live = new TermScorer(weight(0.5f), g, g.termIndex("live"))
    val dead = new TermScorer(weight(0.5f), g, g.termIndex("dead"))
    dead.seek(100)
    assert(dead.doc == Wand.TERMINATED)
    // threshold between live.maxScore and live.maxScore + dead.maxScore
    val th = live.maxScore + dead.maxScore * 0.5f
    var calls = 0
    failAfter(Span(10, Seconds)) {
      Wand.blockWand(Seq(live, dead), th, (_, s) => { calls += 1; s })
    }
    assert(calls == 0) // nothing can beat the threshold
  }

  test("blockWandSingle terminates on exhausted scorer") {
    val g = Packed.group(Seq(Packed.block("t", 0, 0, 1, Array(0, 2), Array(1, 1), Array(0, 0))))
    val s = new TermScorer(weight(1.0f), g, g.termIndex("t"))
    var seen = List.empty[Int]
    failAfter(Span(10, Seconds)) {
      Wand.blockWandSingle(s, Float.MinValue, (d, sc) => { seen ::= d; sc - 1e-3f })
    }
    assert(seen.reverse == List(0, 2))
  }
}
