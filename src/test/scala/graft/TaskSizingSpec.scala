package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.query.SegmentCollect

/** The resident query's sizing rule, with no Spark job: `taskCount` stays
  * in [1, slots] and never falls as the work grows.
  */
class TaskSizingSpec extends AnyFunSuite {
  private val per = SegmentCollect.MinTaskPostings

  test("taskCount: in [1, slots] and monotone in the work") {
    val works = (Seq(0L, 1L, per - 1, per, per + 1, 2 * per, 7 * per + 3, Long.MaxValue / 2) ++
      (0 until 200).map(i => i * per / 16)).sorted
    for (slots <- Seq(1, 2, 3, 4, 8, 32, 1024)) {
      val ns = works.map(SegmentCollect.taskCount(_, slots))
      assert(ns.forall(n => n >= 1 && n <= slots), s"slots $slots: $ns")
      assert(ns.zip(ns.tail).forall { case (a, b) => a <= b }, s"slots $slots: not monotone")
    }
    assert(SegmentCollect.taskCount(0L, 4) == 1)
    assert(SegmentCollect.taskCount(per, 4) == 1)
    assert(SegmentCollect.taskCount(per + 1, 4) == 2)
    assert(SegmentCollect.taskCount(3 * per + 1, 4) == 4)
    assert(SegmentCollect.taskCount(100 * per, 4) == 4)
  }
}
