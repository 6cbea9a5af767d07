package graft.query

import graft.score.Bm25

/** Per-segment leapfrog intersection executor — the reference's cost-ordered
  * `Intersection` scorer (`src/query/intersection.rs:15-120`: docsets sorted
  * by cost, smallest drives, others gallop to the candidate) and its
  * positions-aware phrase variant (`phrase_scorer.rs:46-420`), run as
  * kernels on the same [[SegmentCollect]] stage as the WAND executor: one
  * (segment, docId chunk) packed group per kernel call, through
  * [[SegmentCollect.collect]]; a local leapfrog over the query terms'
  * entry ranges, read in place in the group's flat arrays, with phrase
  * positions read from its CSR arrays; per-group (top-k, count) fruits,
  * driver merge (`top_collector.rs:102-122`). One kernel per query shape,
  * on every path.
  *
  * This is the fast collector path for pure conjunctions (`+a +b`) and
  * phrases; `Searcher.compile`'s Dataset pipeline remains the composable
  * path (arbitrary bool trees, doc-set materialization), and shuffles
  * every exploded posting where this executor moves whole blocks.
  */
object Intersect {

  /** Leapfrog over sorted docId ranges of one array, `[from(j),
    * until(j))` per term (rarest first = index 0); invokes
    * `onMatch(docId, idxPerTerm)` for every doc present in all ranges, each
    * index absolute in `docIds`. Pointers only move forward; seeks gallop
    * via ranged binary search — the `intersection.rs:66-101` loop without
    * the block machinery (a term's blocks are one contiguous range of a
    * packed group; Parquet row-group pruning replaced the skip lists on
    * the way in).
    */
  def leapfrog(docIds: Array[Int], from: Array[Int], until: Array[Int])
              (onMatch: (Int, Array[Int]) => Unit): Unit = {
    val n = from.length
    if (n == 0 || from.indices.exists(j => from(j) >= until(j))) return
    val idx = from.clone()
    var i0 = from(0)
    while (i0 < until(0)) {
      val d = docIds(i0)
      var ok = true
      var j = 1
      while (ok && j < n) {
        var p = java.util.Arrays.binarySearch(docIds, idx(j), until(j), d)
        if (p >= 0) idx(j) = p
        else {
          p = -p - 1
          idx(j) = p
          if (p >= until(j)) return // some range exhausted: no more matches
          ok = false
        }
        j += 1
      }
      if (ok) { idx(0) = i0; onMatch(d, idx) }
      i0 += 1
    }
  }

  /** Run `kernel(group, from, until)` through [[SegmentCollect.collect]],
    * `[from(j), until(j))` holding term `ordered(j)`'s (rarest first)
    * entries in one (segment, chunk) group, and merge the fruits into the
    * top `k` and the count; a group missing a term matches nothing. Every
    * block of every term is gathered: a filter that broadcasts the rarest
    * term's docIds to drop the other terms' blocks it never visits costs
    * one more Spark job than it saves in gather bytes, measured on a
    * 20k-doc and a 600k-doc index.
    */
  private def run(searcher: Searcher, ordered: Seq[String], positions: Boolean, k: Int)
                 (kernel: (SegmentCollect.Group, Array[Int], Array[Int]) => SegmentCollect.Fruit)
      : SegmentCollect.Fruit =
    SegmentCollect.collect(searcher, ordered, positions, k) { (g, at) =>
      if (at.exists(_ < 0)) (Array.empty, 0L)
      else kernel(g, at.map(g.entryStart), at.map(g.entryEnd))
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

    run(searcher, ordered, positions = false, k) { (g, from, until) =>
      val ws = wB.value
      val topk = new Wand.TopK(k, g.segId)
      var cnt = 0L
      leapfrog(g.docIds, from, until) { (doc, idx) =>
        val normId = g.normIds(idx(0))
        var score = 0.0f
        var c = 0
        while (c < clauseIdx.length) {
          val ti = clauseIdx(c)
          score += ws(ti).score(normId, g.tfs(idx(ti)).toLong)
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

    run(searcher, ordered, positions = true, k) { (g, from, until) =>
      val w = weightB.value
      val topk = new Wand.TopK(k, g.segId)
      var cnt = 0L
      // every slot's positions are the group's one CSR array
      val flats = Array.fill(slotIdx.length)(g.posFlat)
      val starts = new Array[Int](slotIdx.length)
      val ends = new Array[Int](slotIdx.length)
      leapfrog(g.docIds, from, until) { (doc, idx) =>
        var s = 0
        while (s < slotIdx.length) {
          val e = idx(slotIdx(s))
          starts(s) = g.posStart(e); ends(s) = g.posStart(e + 1)
          s += 1
        }
        val c = PhraseMatcher.phraseCountCsr(offsets, flats, starts, ends, slop)
        if (c > 0) {
          cnt += 1
          topk.insert(doc, w.score(g.normIds(idx(0)), c.toLong))
          ()
        }
      }
      (topk.hits, cnt)
    }
  }
}
