package graft.query

import graft.score.Bm25

/** Per-segment leapfrog intersection executor — the reference's cost-ordered
  * `Intersection` scorer (`src/query/intersection.rs:15-120`: docsets sorted
  * by cost, smallest drives, others gallop to the candidate) and its
  * positions-aware phrase variant (`phrase_scorer.rs:46-420`), run as
  * kernels on the same [[SegmentCollect]] stage as the WAND executor: the
  * query terms' posting blocks per (segment, docId chunk) group, through
  * [[SegmentCollect.collect]]; a local in-memory leapfrog per group task,
  * per-group (top-k, count) fruits, driver merge
  * (`top_collector.rs:102-122`). One kernel per query shape, on every path.
  *
  * This is the fast collector path for pure conjunctions (`+a +b`) and
  * phrases; `Searcher.compile`'s Dataset pipeline remains the composable
  * path (arbitrary bool trees, doc-set materialization), and shuffles
  * every exploded posting where this executor moves whole blocks.
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

  /** Run `kernel(segId, lists)` through [[SegmentCollect.collect]], `lists`
    * holding each term of `ordered` (rarest first) for one (segment, chunk)
    * group, and merge the fruits into the top `k` and the count. Every
    * block of every term is gathered: a filter that broadcasts the rarest
    * term's docIds to drop the other terms' blocks it never visits costs
    * one more Spark job than it saves in gather bytes, measured on a
    * 20k-doc and a 600k-doc index.
    */
  private def run(searcher: Searcher, ordered: Seq[String], positions: Boolean, k: Int)
                 (kernel: (Int, Array[TermPostings]) => SegmentCollect.Fruit): SegmentCollect.Fruit =
    SegmentCollect.collect(searcher, ordered, positions, k) { (segId, byTerm) =>
      kernel(segId, ordered.map(t => byTerm.get(t).fold(TermPostings.empty)(TermPostings.of(_, positions))).toArray)
    }

  /** Scored conjunction of terms: top-k + total count in one pass.
    * Score = sum of per-clause BM25 term scores in clause order
    * (`SumCombiner`, `score_combiner.rs:39`), f32.
    */
  def topKMust(searcher: Searcher, clauseTerms: Seq[String], k: Int): (Array[Hit], Long) = {
    val distinct = clauseTerms.distinct
    val dfs = searcher.docFreqs(distinct) // one metadata job for dfs AND weights
    val weights = searcher.weightsFromDfs(dfs)
    if (distinct.exists(t => !weights.contains(t))) return (Array.empty, 0L)
    val ordered = distinct.sortBy(t => (dfs(t), t))
    // clause c reads tf/weight of its term, via the ordered index
    val ordIdx = ordered.zipWithIndex.toMap
    val clauseIdx = clauseTerms.map(ordIdx).toArray
    val wB = searcher.spark.sparkContext.broadcast(ordered.map(weights).toArray)

    run(searcher, ordered, positions = false, k) { (segId, lists) =>
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
  def topKPhrase(searcher: Searcher, p: PhraseQ, k: Int): (Array[Hit], Long) = {
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

    run(searcher, ordered, positions = true, k) { (segId, lists) =>
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
