package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.query.Intersect

/** Property tests for the leapfrog intersection kernel (mirror of the
  * reference's intersection proptests, `src/query/intersection.rs` tests):
  * random sorted docId lists ⇒ leapfrog visits exactly the set intersection,
  * in ascending order, with per-list indices pointing at the matched doc.
  * The lists are terms of one packed group, each between filler terms, so
  * every range starts mid-array.
  */
class LeapfrogSpec extends AnyFunSuite {

  /** `lists` packed as terms of one group, in blocks of 4 between filler
    * terms (an empty list is one empty block); leapfrog over their ranges,
    * `onMatch` getting each list's index relative to the list's own start.
    */
  private def leapfrog(lists: Array[Array[Int]])(onMatch: (Int, Array[Int]) => Unit): Unit = {
    val g = Packed.group(lists.toSeq.zipWithIndex.flatMap { case (docIds, j) =>
      val blocks = if (docIds.isEmpty) Iterator(docIds) else docIds.grouped(4)
      blocks.zipWithIndex.map { case (ds, b) => Packed.block(s"t$j", b, 0, 1, ds, ds.map(_ => 1), ds.map(_ => 10)) }
    })
    val at = lists.indices.map(j => g.termIndex(s"t$j")).toArray
    val from = at.map(g.entryStart)
    Intersect.leapfrog(g.docIds, from, at.map(g.entryEnd)) { (doc, idx) =>
      onMatch(doc, idx.indices.map(j => idx(j) - from(j)).toArray)
    }
  }

  private def randomSortedList(rng: scala.util.Random, maxDoc: Int): Array[Int] =
    (0 until maxDoc).filter(_ => rng.nextDouble() < rng.nextDouble()).toArray

  test("leapfrog == set intersection over 300 random cases (seed 42)") {
    val rng = new scala.util.Random(42)
    for (caseId <- 1 to 300) {
      val n = 1 + rng.nextInt(4)
      val maxDoc = 1 + rng.nextInt(500)
      val lists = Array.fill(n)(randomSortedList(rng, maxDoc))
      val expected = lists.map(_.toSet).reduce(_ intersect _).toSeq.sorted
      val visited = scala.collection.mutable.ArrayBuffer.empty[Int]
      leapfrog(lists) { (doc, idx) =>
        // every index must point at the matched doc in its own list
        for (j <- lists.indices) assert(lists(j)(idx(j)) == doc, s"case $caseId idx $j")
        visited += doc
      }
      assert(visited.toSeq == expected, s"case $caseId: n=$n maxDoc=$maxDoc")
    }
  }

  test("leapfrog handles empty lists and disjoint lists") {
    var hits = 0
    leapfrog(Array(Array(1, 2), Array.emptyIntArray))((_, _) => hits += 1)
    leapfrog(Array(Array(1, 3, 5), Array(2, 4, 6)))((_, _) => hits += 1)
    assert(hits == 0)
  }

  test("single-list leapfrog visits every doc") {
    val docs = Array(0, 5, 9, 100)
    val visited = scala.collection.mutable.ArrayBuffer.empty[Int]
    leapfrog(Array(docs))((d, _) => visited += d)
    assert(visited.toSeq == docs.toSeq)
  }
}
