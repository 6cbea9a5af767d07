package graft.query

import graft.score.Bm25

/** Per-segment leapfrog intersection executor — the reference's cost-ordered
  * `Intersection` scorer (`src/query/intersection.rs:15-120`: docsets sorted
  * by cost, smallest drives, others gallop to the candidate) and its
  * positions-aware phrase variant (`phrase_scorer.rs:46-420`), run as
  * kernels on the same [[SegmentCollect]] stage as the WAND executor: the
  * query terms' posting blocks per (segment, docId chunk) group — from the
  * Searcher's resident copy, or on the scan path through ONE narrow
  * shuffle — a local in-memory leapfrog per group task, per-group
  * (top-k, count) fruits, driver merge (`top_collector.rs:102-122`).
  *
  * This is the fast collector path for pure conjunctions (`+a +b`) and
  * phrases; `Searcher.compile`'s Dataset pipeline remains the composable
  * path (arbitrary bool trees, doc-set materialization), and shuffles
  * every exploded posting where this executor shuffles whole blocks.
  */
object Intersect {

  /** One term's postings within one segment (or chunk), blocks concatenated
    * in docId order; positions in CSR form, one flat array plus per-doc
    * offsets (empty when positions were not requested).
    */
  final class TermPostings(val docIds: Array[Int], val tfs: Array[Int],
                           val normIds: Array[Int],
                           val posFlat: Array[Int], val posOffsets: Array[Int])
    extends Serializable

  object TermPostings {
    val empty = new TermPostings(Array.emptyIntArray, Array.emptyIntArray,
      Array.emptyIntArray, Array.emptyIntArray, Array.emptyIntArray)

    /** Concatenate one term's blocks, given in blockId order; positions
      * only when `positions` (the blocks may carry them unasked).
      */
    def of(blocks: Array[SegmentCollect.BlockRow], positions: Boolean): TermPostings = {
      def cat(f: SegmentCollect.BlockRow => Array[Int]) = Array.concat(blocks.map(f): _*)
      if (!positions) return new TermPostings(cat(_.docIds), cat(_.tfs), cat(_.normIds),
        Array.emptyIntArray, Array.emptyIntArray)
      val lens = cat(_.posLens)
      val offsets = new Array[Int](lens.length + 1)
      var i = 0
      while (i < lens.length) { offsets(i + 1) = offsets(i) + lens(i); i += 1 }
      new TermPostings(cat(_.docIds), cat(_.tfs), cat(_.normIds), cat(_.posFlat), offsets)
    }
  }

  /** Leapfrog over per-term sorted docId arrays (rarest first = index 0);
    * invokes `onMatch(docId, idxPerTerm)` for every doc present in all lists.
    * Pointers only move forward; seeks gallop via ranged binary search —
    * the `intersection.rs:66-101` loop without the block machinery (blocks
    * are already concatenated here; Parquet row-group pruning replaced the
    * skip lists on the way in).
    */
  def leapfrog(lists: Array[TermPostings])(onMatch: (Int, Array[Int]) => Unit): Unit = {
    val n = lists.length
    if (n == 0 || lists.exists(_.docIds.length == 0)) return
    val idx = new Array[Int](n)
    val lead = lists(0).docIds
    var i0 = 0
    while (i0 < lead.length) {
      val d = lead(i0)
      var ok = true
      var j = 1
      while (ok && j < n) {
        val arr = lists(j).docIds
        var p = java.util.Arrays.binarySearch(arr, idx(j), arr.length, d)
        if (p >= 0) idx(j) = p
        else {
          p = -p - 1
          idx(j) = p
          if (p >= arr.length) return // some list exhausted: no more matches
          ok = false
        }
        j += 1
      }
      if (ok) { idx(0) = i0; onMatch(d, idx) }
      i0 += 1
    }
  }

  /** Arm the rare-driven block pruning when the rarest term's postings fit a
    * broadcast and the other terms dwarf it (shuffle saving is meaningful).
    */
  private final val RARE_BROADCAST_MAX_DF: Long = 1L << 16

  /** Run `kernel(segId, lists)` on the [[SegmentCollect]] stage, `lists`
    * holding each term of `ordered` (rarest first) for one (segment, chunk)
    * group, and merge the fruits into the top `k` and the count: over the
    * Searcher's resident copy when it has one, else on the scan path.
    *
    * On the scan path, when the rarest term is small and the others are
    * not, the rarest list rides a BROADCAST and only blocks of the other
    * terms whose [firstDoc, lastDoc] span contains one of its docIds are
    * shuffled — the distributed analog of the cost-ordered leapfrog
    * (`intersection.rs:26,81`: smallest docset drives, the rest seek to its
    * candidates): a block the driving list can never visit is dropped
    * map-side before the shuffle. The intersection is a subset of the rare
    * term's docs, so pruning loses no matches; the leapfrog's forward-only
    * galloping stays correct over the gapped lists because it only ever
    * probes for the driver's docIds. The rare list rides WHOLE into every
    * chunk task of its segment; the leapfrog drives on it and only probes
    * the chunk's other-term slices, so each doc is found exactly once (in
    * its own chunk). Segments where no other-term block survived hold no
    * intersection docs. The resident path has no shuffle to shrink, so it
    * runs no broadcast.
    */
  private def run(searcher: Searcher, ordered: Seq[String], dfs: Map[String, Long],
                  positions: Boolean, chunkDocs: Int, k: Int)
                 (kernel: (Int, Array[TermPostings]) => SegmentCollect.Fruit): SegmentCollect.Fruit = {
    def lists(byTerm: Map[String, Array[SegmentCollect.BlockRow]], terms: Seq[String]) =
      terms.map(t => byTerm.get(t).fold(TermPostings.empty)(TermPostings.of(_, positions))).toArray
    SegmentCollect.collectResident(searcher, ordered, k) {
      (segId, byTerm) => kernel(segId, lists(byTerm, ordered)) }.getOrElse {
      val rare = ordered.head
      val useBc = ordered.length > 1 && dfs(rare) <= RARE_BROADCAST_MAX_DF &&
        ordered.tail.map(dfs).sum > 4 * dfs(rare)
      if (!useBc)
        SegmentCollect.collect(SegmentCollect.scan(searcher, ordered, positions), chunkDocs, k) {
          (segId, byTerm) => kernel(segId, lists(byTerm, ordered)) }
      else {
        val rareB = searcher.spark.sparkContext.broadcast(
          SegmentCollect.bySegment(SegmentCollect.scan(searcher, Seq(rare), positions)
            .collect().iterator).map { case (s, byTerm) => s -> TermPostings.of(byTerm(rare), positions) }.toMap)
        val rest = ordered.tail
        val pruned = SegmentCollect.scan(searcher, rest, positions).filter { r =>
          rareB.value.get(r.segId) match {
            case None => false // rare term absent in segment: empty intersection
            case Some(tp) =>
              val docs = tp.docIds
              val p = java.util.Arrays.binarySearch(docs, r.docIds(0))
              val ins = if (p >= 0) p else -p - 1
              ins < docs.length && docs(ins) <= r.lastDoc
          }
        }
        SegmentCollect.collect(pruned, chunkDocs, k) { (segId, byTerm) =>
          kernel(segId, rareB.value(segId) +: lists(byTerm, rest)) }
      }
    }
  }

  /** Scored conjunction of terms: top-k + total count in one pass.
    * Score = sum of per-clause BM25 term scores in clause order
    * (`SumCombiner`, `score_combiner.rs:39`), f32.
    */
  def topKMust(searcher: Searcher, clauseTerms: Seq[String], k: Int,
               chunkDocs: Int = Wand.DefaultChunkDocs): (Array[Hit], Long) = {
    val distinct = clauseTerms.distinct
    val dfs = searcher.docFreqs(distinct) // one metadata job for dfs AND weights
    val weights = searcher.weightsFromDfs(dfs)
    if (distinct.exists(t => !weights.contains(t))) return (Array.empty, 0L)
    val ordered = distinct.sortBy(t => (dfs(t), t))
    // clause c reads tf/weight of its term, via the ordered index
    val ordIdx = ordered.zipWithIndex.toMap
    val clauseIdx = clauseTerms.map(ordIdx).toArray
    val wB = searcher.spark.sparkContext.broadcast(ordered.map(weights).toArray)

    run(searcher, ordered, dfs, positions = false, chunkDocs, k) { (segId, lists) =>
      val ws = wB.value
      val topk = new Wand.TopK(k, segId)
      var cnt = 0L
      leapfrog(lists) { (doc, idx) =>
        val normId = lists(0).normIds(idx(0))
        var score = 0.0f
        var c = 0
        while (c < clauseIdx.length) {
          val ti = clauseIdx(c)
          score += ws(ti).score(normId, lists(ti).tfs(idx(ti)).toLong)
          c += 1
        }
        cnt += 1
        topk.insert(doc, score)
        ()
      }
      (topk.hits, cnt)
    }
  }

  /** Phrase top-k + count in one pass: leapfrog intersection, then the
    * positions check; phrase occurrence count is the tf fed to the summed-idf
    * multi-term weight (`bm25.rs:115-123`, `phrase_scorer.rs:82-143`).
    */
  def topKPhrase(searcher: Searcher, p: PhraseQ, k: Int,
                 chunkDocs: Int = Wand.DefaultChunkDocs): (Array[Hit], Long) = {
    require(searcher.indexMeta.forall(_.withPositions),
      s"phrase query needs positions, but the index at ${searcher.indexDir} was built with withPositions=false")
    val terms = p.terms.map(_._2)
    val distinct = terms.distinct
    val dfs = searcher.docFreqs(distinct)
    if (distinct.exists(t => !dfs.contains(t))) return (Array.empty, 0L)
    val weight = Bm25.forTerms(terms.map(dfs), searcher.totalNumDocs, searcher.avgFieldnorm)
    val ordered = distinct.sortBy(t => (dfs(t), t))
    val ordIdx = ordered.zipWithIndex.toMap
    val slotIdx = p.terms.map { case (_, t) => ordIdx(t) }.toArray
    val offsets = p.terms.map(_._1).toArray
    val slop = p.slop
    val weightB = searcher.spark.sparkContext.broadcast(weight)

    run(searcher, ordered, dfs, positions = true, chunkDocs, k) { (segId, lists) =>
      val w = weightB.value
      val topk = new Wand.TopK(k, segId)
      var cnt = 0L
      val flats = new Array[Array[Int]](slotIdx.length)
      val starts = new Array[Int](slotIdx.length)
      val ends = new Array[Int](slotIdx.length)
      leapfrog(lists) { (doc, idx) =>
        var s = 0
        while (s < slotIdx.length) {
          val tp = lists(slotIdx(s)); val i = idx(slotIdx(s))
          flats(s) = tp.posFlat
          starts(s) = tp.posOffsets(i); ends(s) = tp.posOffsets(i + 1)
          s += 1
        }
        val c = PhraseMatcher.phraseCountCsr(offsets, flats, starts, ends, slop)
        if (c > 0) {
          cnt += 1
          topk.insert(doc, w.score(lists(0).normIds(idx(0)), c.toLong))
          ()
        }
      }
      (topk.hits, cnt)
    }
  }
}
