package graft

import graft.query.SegmentCollect.{BlockRow, Group}

/** Kernel inputs packed as the resident copy holds them: blocks packed into
  * one [[Group]] between filler terms, so every term's entries start and
  * end mid-array, and a kernel that reads outside a term's range reads a
  * filler's entries.
  */
object Packed {
  /** A block of `term` without positions; its lastDoc is its last docId. */
  def block(term: String, blockId: Int, maxNormId: Int, maxTf: Int,
            docIds: Array[Int], tfs: Array[Int], normIds: Array[Int]): BlockRow =
    BlockRow(0, term, blockId, docIds.lastOption.getOrElse(-1), maxNormId, maxTf,
      docIds, tfs, normIds, Array.emptyIntArray, Array.emptyIntArray)

  /** `rows` packed after a leading filler term, each of their terms
    * followed by a filler term of its own (`t + "!"` sorts right after
    * `t`).
    */
  def group(rows: Seq[BlockRow]): Group = {
    val fillers = ("!" +: rows.map(_.term).distinct.map(_ + "!")).map(t =>
      block(t, 0, 0, 9, Array(2, 3, 11, 40), Array(9, 9, 9, 9), Array(7, 7, 7, 7)))
    Group.pack(0, positions = false, (rows ++ fillers).toArray)
  }
}
