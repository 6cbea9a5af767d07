package graft.query

import graft.score.Bm25

/** Block-max WAND top-k executor — the headline custom operator
  * (reference `src/query/boolean_query/block_wand.rs`, implementing the
  * Block-Max WAND algorithm of Ding & Suel, "Faster Top-k Document Retrieval
  * Using Block-Max Indexes", the paper the reference itself cites).
  *
  * Catalyst cannot express threshold-ratcheted block skipping, so this runs
  * as a kernel on the shared [[SegmentCollect]] stage: once per (segment,
  * docId chunk) group, the reference's per-segment collector
  * (`searcher.rs:220`), in as many tasks as the query's work calls for —
  * the thing that scales with executors. Per-chunk top-k fruits are merged
  * in each task and then on the driver (`top_collector.rs:102-122`).
  *
  * A task gets its group from [[SegmentCollect.collect]] (the Searcher's
  * resident copy, or a scan pruned on the `term` predicate when there is
  * none), and each [[TermScorer]] walks its term's blocks where they sit
  * in the packed [[SegmentCollect.Group]], as the reference's scorer reads
  * a segment's blocks in place (`term_scorer.rs:9-135`); whole 128-doc
  * blocks are skipped when their stored (maxNormId, maxTf) upper bound
  * cannot beat the running threshold — strict `>` semantics
  * (`block_wand.rs:206`).
  */
object Wand {

  final val TERMINATED: Int = Int.MaxValue

  /** Decode the stored block-max tf byte (`skip.rs:29-35`): 255 -> u32::MAX. */
  @inline private def decodeMaxTf(code: Int): Long =
    if (code == 255) 0xffffffffL else code.toLong

  /** In-memory term scorer over one term's blocks in a packed group, read
    * in place: blocks `[termStart(term), termStart(term + 1))`, their
    * entries one contiguous docId-ascending range of the group's arrays.
    * Mirrors `TermScorer` + `SkipReader`: a deep cursor (block b, entry e)
    * for doc()/advance()/seek() and a shallow block cursor for
    * seek_block()/block_max_score() (`skip.rs:244-283`).
    */
  final class TermScorer(val weight: Bm25.Weight, g: SegmentCollect.Group, term: Int) {
    val maxScore: Float = weight.maxScore // term_scorer.rs:91, bm25.rs:179-181
    private val docStart = g.docStart
    private val docIds = g.docIds
    private val lastDocs = g.lastDocs
    private val end = g.termStart(term + 1) // one past the term's last block
    private var b = g.termStart(term) // deep cursor: block
    private var e = docStart(b) // deep cursor: entry
    private var shallow = b // shallow cursor for block-max queries

    @inline def doc: Int = if (b >= end) TERMINATED else docIds(e)

    def advance(): Int = {
      if (b >= end) return TERMINATED
      e += 1
      if (e >= docStart(b + 1)) b += 1
      if (b > shallow) shallow = b
      doc
    }

    def seek(target: Int): Int = {
      while (b < end && lastDocs(b) < target) { b += 1; e = docStart(b) }
      if (b >= end) { if (shallow < b) shallow = b; return TERMINATED }
      while (docIds(e) < target) e += 1 // lastDoc >= target guarantees termination
      if (b > shallow) shallow = b
      docIds(e)
    }

    /** Shallow block seek: position the skip cursor on the first block whose
      * lastDoc >= target without touching the deep cursor.
      */
    def seekBlock(target: Int): Unit = {
      while (shallow < end && lastDocs(shallow) < target) shallow += 1
    }

    def lastDocInBlock: Int =
      if (shallow >= end) TERMINATED else lastDocs(shallow)

    def blockMaxScore: Float =
      if (shallow >= end) 0.0f
      else weight.score(g.maxNormIds(shallow), decodeMaxTf(g.maxTfs(shallow)))

    @inline def score: Float = weight.score(g.normIds(e), g.tfs(e).toLong)
  }

  /** Top-k accumulator with the reference's threshold semantics:
    * threshold = kth best score once full (Float.MinValue before); a hit
    * displaces the worst kept one only if it is better in (score desc,
    * segId asc, docId asc) order — the tie order of `top_collector.rs:45-61`.
    * The kernels feed one segment's docs in ascending docId through
    * [[insert]] (so a score tie never displaces, and WAND only offers
    * strictly greater scores); the generic collector offers hits of any
    * segment in any order through [[offer]].
    */
  final class TopK(k: Int, segId: Int = 0) {
    require(k >= 1, s"top-k limit must be at least 1, got $k")
    // head = the worst kept hit: lowest score, then the largest address
    private val heap = scala.collection.mutable.PriorityQueue.empty[Hit](
      Ordering.by((h: Hit) => (-h.score, h.segId, h.docId)))
    def threshold: Float = if (heap.size < k) Float.MinValue else heap.head.score
    /** callback(doc, score) -> new threshold (`block_wand.rs:148-212`). */
    def insert(doc: Int, score: Float): Float = { offer(Hit(segId, doc, score)); threshold }
    def offer(h: Hit): Unit =
      if (heap.size < k) heap.enqueue(h)
      else {
        val w = heap.head
        val better = h.score > w.score || (h.score == w.score &&
          (h.segId < w.segId || (h.segId == w.segId && h.docId < w.docId)))
        if (better) { heap.dequeue(); heap.enqueue(h) }
      }
    def hits: Array[Hit] = heap.toArray
  }

  /** `find_pivot_doc` (`block_wand.rs:16-43`): scorers sorted by doc; pivot =
    * doc of the first prefix whose cumulative term max_score exceeds (>)
    * the threshold.
    */
  private def findPivot(scorers: collection.IndexedSeq[TermScorer],
                        threshold: Float): Option[(Int, Int, Int)] = {
    var maxScore = 0.0f
    var beforePivotLen = 0
    var pivotDoc = TERMINATED
    var found = false
    // NOTE: the chosen pivot scorer may itself be TERMINATED (doc ==
    // Int.MaxValue) — e.g. after advanceOneScorer exhausted it without
    // removal. The reference breaks unconditionally and maps a TERMINATED
    // pivot to None (`block_wand.rs:23-34`); looping on `pivotDoc ==
    // TERMINATED` instead would spin forever on that scorer.
    while (beforePivotLen < scorers.length && !found) {
      maxScore += scorers(beforePivotLen).maxScore
      if (maxScore > threshold) { pivotDoc = scorers(beforePivotLen).doc; found = true }
      else beforePivotLen += 1
    }
    if (pivotDoc == TERMINATED) return None
    var pivotLen = beforePivotLen + 1
    while (pivotLen < scorers.length && scorers(pivotLen).doc == pivotDoc) pivotLen += 1
    Some((beforePivotLen, pivotLen, pivotDoc))
  }

  private def restoreOrdering(s: scala.collection.mutable.ArrayBuffer[TermScorer], ord: Int): Unit = {
    val doc = s(ord).doc
    var i = ord + 1
    while (i < s.length && s(i).doc < doc) { val t = s(i); s(i) = s(i - 1); s(i - 1) = t; i += 1 }
  }

  /** `block_max_was_too_low_advance_one_scorer` (`block_wand.rs:49-80`). */
  private def advanceOneScorer(s: scala.collection.mutable.ArrayBuffer[TermScorer],
                               pivotLen: Int): Unit = {
    var scorerToSeek = pivotLen - 1
    var globalMax = s(scorerToSeek).maxScore
    var docToSeekAfter = s(scorerToSeek).lastDocInBlock
    var ord = pivotLen - 2
    while (ord >= 0) {
      if (s(ord).lastDocInBlock <= docToSeekAfter) docToSeekAfter = s(ord).lastDocInBlock
      if (s(ord).maxScore > globalMax) { globalMax = s(ord).maxScore; scorerToSeek = ord }
      ord -= 1
    }
    if (docToSeekAfter != TERMINATED) docToSeekAfter += 1
    var j = pivotLen
    while (j < s.length) {
      if (s(j).doc <= docToSeekAfter) docToSeekAfter = s(j).doc
      j += 1
    }
    s(scorerToSeek).seek(docToSeekAfter)
    restoreOrdering(s, scorerToSeek)
  }

  /** `align_scorers` (`block_wand.rs:101-124`). */
  private def alignScorers(s: scala.collection.mutable.ArrayBuffer[TermScorer],
                           pivotDoc: Int, beforePivotLen: Int): Boolean = {
    var i = beforePivotLen - 1
    while (i >= 0) {
      val newDoc = s(i).seek(pivotDoc)
      if (newDoc != pivotDoc) {
        if (newDoc == TERMINATED) {
          s(i) = s(s.length - 1); s.remove(s.length - 1) // swap_remove
          if (i < s.length) restoreOrdering(s, i)
        } else restoreOrdering(s, i)
        return false
      }
      i -= 1
    }
    true
  }

  /** `advance_all_scorers_on_pivot` (`block_wand.rs:129-146`). */
  private def advanceAllOnPivot(s: scala.collection.mutable.ArrayBuffer[TermScorer],
                                pivotLen: Int): Unit = {
    var i = 0
    while (i < pivotLen) { s(i).advance(); i += 1 }
    i = 0
    while (i < s.length) {
      if (s(i).doc == TERMINATED) { s(i) = s(s.length - 1); s.remove(s.length - 1) }
      else i += 1
    }
    s.sortInPlaceBy(_.doc)
    ()
  }

  /** The multi-scorer BMW loop (`block_wand.rs:148-212`). */
  def blockWand(scorersIn: Seq[TermScorer], threshold0: Float,
                callback: (Int, Float) => Float): Unit = {
    val s = scala.collection.mutable.ArrayBuffer.from(scorersIn.sortBy(_.doc))
    var threshold = threshold0
    var continue = true
    while (continue) {
      findPivot(s, threshold) match {
        case None => continue = false
        case Some((beforePivotLen, pivotLen, pivotDoc)) =>
          var blockMaxUpper = 0.0f
          var i = 0
          while (i < pivotLen) {
            s(i).seekBlock(pivotDoc)
            blockMaxUpper += s(i).blockMaxScore
            i += 1
          }
          if (blockMaxUpper <= threshold) {
            advanceOneScorer(s, pivotLen)
          } else if (alignScorers(s, pivotDoc, beforePivotLen)) {
            var score = 0.0f
            var j = 0
            while (j < pivotLen) { score += s(j).score; j += 1 }
            if (score > threshold) threshold = callback(pivotDoc, score)
            advanceAllOnPivot(s, pivotLen)
          }
      }
    }
  }

  /** Single-scorer specialization (`block_wand.rs:222-261`). */
  def blockWandSingle(scorer: TermScorer, threshold0: Float,
                      callback: (Int, Float) => Float): Unit = {
    var threshold = threshold0
    var doc = scorer.doc
    while (true) {
      while (scorer.blockMaxScore < threshold) {
        val last = scorer.lastDocInBlock
        if (last == TERMINATED) return
        doc = last + 1
        scorer.seekBlock(doc)
      }
      doc = scorer.seek(doc)
      if (doc == TERMINATED) return
      var inner = true
      while (inner) {
        val score = scorer.score
        if (score > threshold) threshold = callback(doc, score)
        if (doc == scorer.lastDocInBlock) inner = false
        else {
          doc = scorer.advance()
          if (doc == TERMINATED) return
        }
      }
      doc += 1
      scorer.seekBlock(doc)
    }
  }

  /** The weighted top-k disjunction — the one entry point over the block-max
    * WAND kernels (the reference's `boolean_weight.rs:56-76` -> `block_wand.rs`
    * dispatch). Each term's clause boost folds into its Bm25 weight
    * (`bm25.rs:80-87 boost_by`), which is how the reference makes
    * `Should(Boost(Term))` trees (MoreLikeThis's shape) WAND-eligible: a
    * boosted TermScorer is still a TermScorer, its max_score just scales with
    * the boost, so every pruning bound stays sound. Unboosted callers pass
    * boost 1.0, which is exact (`weight * 1.0f == weight`).
    *
    * One kernel on the [[SegmentCollect]] stage: per (segment, chunk) group
    * the BMW loop (`blockWandSingle` for one present term), driver merge
    * with (score desc, segId asc, docId asc) (`top_collector.rs:102-122`).
    * Returns (hits, count): with `withCount` the count is the union's hit
    * count, computed in the same kernel from the unpruned block lists (the
    * count collector must see every match, `multi_collector.rs:166`), so
    * TOP_10_COUNT is one pass; otherwise it is -1. Terms must be distinct:
    * duplicate Should clauses of one term sum that term's score twice
    * (`SumCombiner`), which one weight per term cannot express.
    *
    * The kernel reads the alive postings, so tombstoned docs never score
    * nor count; block-max bounds stay the parent blocks', which remain
    * upper bounds over the live entries, and a sliced block keeps its
    * parent's pair, still a valid bound for the BMW skips.
    */
  def topK(searcher: Searcher, termBoosts: Seq[(String, Float)], k: Int,
           withCount: Boolean = false): (Array[Hit], Long) = {
    val terms = termBoosts.map(_._1)
    require(terms.distinct.length == terms.length,
      s"duplicate terms in a WAND disjunction: ${terms.diff(terms.distinct).distinct.mkString(", ")}")
    require(k >= 1, s"top-k limit must be at least 1, got $k")
    val weights = searcher.weightsForBoosted(termBoosts)
    val present = terms.filter(weights.contains).sorted
    if (present.isEmpty) return (Array.empty, if (withCount) 0L else -1L)
    val (hits, cnt) = SegmentCollect.collect(searcher, present, positions = false, k) { (g, at) =>
      // the present terms, in `present`'s sorted order
      val mine = present.indices.filter(at(_) >= 0)
      val cnt =
        if (withCount) unionCount(g.docIds, mine.map(j => g.entryStart(at(j))).toArray,
          mine.map(j => g.entryEnd(at(j))).toArray)
        else 0L
      val scorers = mine.map(j => new TermScorer(weights(present(j)), g, at(j)))
      val topk = new TopK(k, g.segId)
      if (scorers.length == 1) blockWandSingle(scorers.head, topk.threshold, topk.insert)
      else blockWand(scorers, topk.threshold, topk.insert)
      (topk.hits, cnt)
    }
    (hits, if (withCount) cnt else -1L)
  }

  /** Count of distinct docIds across the sorted ranges `[from(i),
    * until(i))` of `docIds` (union cardinality).
    */
  def unionCount(docIds: Array[Int], from: Array[Int], until: Array[Int]): Long = {
    val n = from.length
    val idx = from.clone()
    var cnt = 0L
    var done = false
    while (!done) {
      var min = Int.MaxValue
      var i = 0
      while (i < n) {
        if (idx(i) < until(i) && docIds(idx(i)) < min) min = docIds(idx(i))
        i += 1
      }
      if (min == Int.MaxValue) done = true
      else {
        cnt += 1
        i = 0
        while (i < n) {
          if (idx(i) < until(i) && docIds(idx(i)) == min) idx(i) += 1
          i += 1
        }
      }
    }
    cnt
  }
}
