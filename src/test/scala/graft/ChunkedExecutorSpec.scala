package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{Intersect, PhraseQ, SegmentCollect, Searcher, Wand}

/** DocId-range chunking of the shared collect stage (`SegmentCollect`) that
  * the multi-term executors (Wand.topK, Intersect.topKMust,
  * Intersect.topKPhrase) run on: per-task block residency is bounded by the
  * chunk width instead of the segment size, so the answer must be IDENTICAL at
  * any chunk width — including widths far below the 128-entry block length,
  * which force block slicing at chunk boundaries, and width 1 (every doc its
  * own chunk) — and on both sources of groups: the Searcher's resident copy
  * and the scan path's gather, each cut at the Searcher's chunk width. This
  * is the residency hardening the round-3 audit asked for: a forced
  * multi-chunk query returns bit-identical (hits, count) fruit to the
  * single-chunk run.
  */
class ChunkedExecutorSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val dir = {
    val d = java.nio.file.Files.createTempDirectory("graft-chunk").toString
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    val docs = (0 until 600).map { i =>
      val words = (0 until 12).map(_ => vocab(rng.nextInt(vocab.length))) ++
        (if (i % 97 == 0) Seq("rareterm") else Nil)
      ("r", f"p$i%04d", "c", "en", words.mkString(" "))
    }.toDF("repo", "path", "commit", "lang", "content")
    IndexBuilder.build(spark, docs, d,
      IndexConfig(numSegments = 2, withPositions = true))
    d
  }

  private val widths = Seq(SegmentCollect.DefaultChunkDocs, 64, 1)

  /** One Searcher per (path, chunk width): the resident copy or the forced
    * scan path, cut at the width.
    */
  private lazy val searchers: Map[(String, Int), Searcher] =
    (for (path <- Seq("resident", "scan"); w <- widths) yield {
      val s = new Searcher(spark, dir)
      s.forceScan = path == "scan"
      s.chunkDocs = w
      (path, w) -> s
    }).toMap

  private def norm(hits: Array[graft.query.Hit]): Seq[(Int, Int, Float)] =
    hits.toSeq.map(h => (h.segId, h.docId, h.score))

  /** `run` on every (path, width) Searcher == on the unchunked resident
    * copy; that answer.
    */
  private def chunked(run: Searcher => (Array[graft.query.Hit], Long)): (Array[graft.query.Hit], Long) = {
    val (h0, c0) = run(searchers(("resident", SegmentCollect.DefaultChunkDocs)))
    for (((path, w), sr) <- searchers) {
      val (h, c) = run(sr)
      assert(norm(h) == norm(h0), s"$path path, width $w hits")
      assert(c == c0, s"$path path, width $w count")
    }
    (h0, c0)
  }

  test("WAND multi-term: chunked == unchunked at widths 64 and 1") {
    val terms = Seq("alpha", "beta", "gamma").map(_ -> 1.0f)
    val (h0, c0) = chunked(Wand.topK(_, terms, 10, withCount = true))
    assert(c0 > 0 && h0.length == 10)
    // without the count: the same hits, and count -1 (not counted)
    val (h, c) = chunked(Wand.topK(_, terms, 10))
    assert(c == -1L && norm(h) == norm(h0))
  }

  test("conjunction top-k: chunked == unchunked, shuffle path") {
    // similar dfs: every block of both terms is gathered per (segId, chunk)
    val (_, c0) = chunked(Intersect.topKMust(_, Seq("alpha", "beta"), 10))
    assert(c0 > 0)
  }

  test("conjunction top-k: chunked == unchunked, rare-broadcast path") {
    // rareterm df ~7 vs alpha df ~600: the leapfrog's rare driver gallops
    // over alpha blocks cut at every width
    val (_, c0) = chunked(Intersect.topKMust(_, Seq("alpha", "rareterm"), 10))
    assert(c0 > 0)
  }

  test("resident copy: one partition per (segId, chunk) at widths 64 and 1") {
    for (w <- widths) {
      val sr = searchers(("resident", w))
      sr.topDocs(graft.query.TermQ("alpha"), 10) // builds the copy
      val rows = sr.indexMeta.get.segments.map(s => s.segId -> s.rows).toMap
      val want = rows.toSeq.flatMap { case (s, n) => (0L to (n - 1) / w).map(c => (s, c.toInt)) }.sorted
      // the copies over this index differ in their partition count
      val copy = spark.sparkContext.getPersistentRDDs.values.toSeq
        .filter(r => r.name == s"resident postings $dir content" && r.getNumPartitions == want.length)
      assert(copy.length == 1, s"width $w: ${copy.length} copies")
      // per partition: its groups as (segId, the chunks of its docIds, blocks
      // in blockId order with exact lastDocs and at most w entries)
      val groups = copy.head.asInstanceOf[SegmentCollect.Groups].mapPartitionsWithIndex { (p, it) =>
        it.map { g =>
          val (segId, byTerm) = (g.segId, g.rows.toSeq.groupBy(_.term))
          val chunks = byTerm.values.flatten.flatMap(_.docIds).map(_ / w).toSet
          val sound = byTerm.values.forall { bs =>
            bs.map(_.blockId).toSeq == bs.map(_.blockId).sorted.toSeq &&
              bs.forall(b => b.lastDoc == b.docIds.last && b.docIds.length <= w)
          }
          (p, segId, chunks, sound)
        }
      }.collect()
      assert(groups.forall(_._3.size == 1), s"width $w: a group spans chunks")
      assert(groups.forall(_._4), s"width $w: a group's blocks are out of order or unsliced")
      assert(groups.map(g => (g._2, g._3.head)).sorted.toSeq == want, s"width $w: groups")
      assert(groups.map(_._1).distinct.length == groups.length, s"width $w: a partition holds two groups")
    }
  }

  test("per-task residency is BOUNDED by the chunk width") {
    // direct assertion on the sliced gather rows: within every
    // (segId, chunk) group, each term holds at most `width` posting
    // entries and every docId lies inside the chunk's range — the
    // residency invariant that holds no matter how large a segment grows.
    // A sliced block gets its own lastDoc and keeps the parent's
    // block-max pair; positions off and on take the same slicer
    val width = 64
    for (positions <- Seq(false, true)) {
      val scanned = SegmentCollect.scan(searchers(("scan", width)), Seq("alpha", "beta", "gamma"), positions)
        .collect()
      val parents = scanned.map(r => (r.segId, r.term, r.blockId) -> r).toMap
      val rows = scanned.flatMap(SegmentCollect.slice(_, width))
        .map(r => (r, SegmentCollect.chunkOf(r, width)))
      assert(rows.nonEmpty)
      rows.foreach { case (r, chunk) =>
        val where = s"${r.term} block ${r.blockId} in (${r.segId},$chunk)"
        val parent = parents((r.segId, r.term, r.blockId))
        assert(r.docIds.length <= width, s"$where: ${r.docIds.length} entries > width")
        assert(r.docIds.min >= chunk.toLong * width && r.docIds.max < (chunk + 1).toLong * width,
          s"$where: docId [${r.docIds.min},${r.docIds.max}] outside range")
        assert(r.lastDoc == r.docIds.last, s"$where: lastDoc ${r.lastDoc} != last docId")
        assert(r.maxNormId == parent.maxNormId && r.maxTf == parent.maxTf,
          s"$where: block-max pair differs from the parent block's")
        // an exact slice of the parent's arrays, CSR positions included
        val from = parent.docIds.indexOf(r.docIds(0))
        val until = from + r.docIds.length
        assert(r.docIds.toSeq == parent.docIds.slice(from, until).toSeq &&
          r.tfs.toSeq == parent.tfs.slice(from, until).toSeq &&
          r.normIds.toSeq == parent.normIds.slice(from, until).toSeq,
          s"$where: not the parent's [$from, $until) slice")
        val pos = parent.posLens.take(from).sum
        assert(r.posLens.toSeq == parent.posLens.slice(from, until).toSeq &&
          r.posFlat.toSeq == parent.posFlat.slice(pos, pos + r.posLens.sum).toSeq,
          s"$where: CSR slice mismatch")
        assert(r.posLens.isEmpty != positions, s"$where: positions = $positions")
      }
      // most blocks straddle a 64-doc boundary: the slicer must have run
      assert(rows.length > parents.size, "expected sliced blocks")
      val perTask = rows.groupBy { case (r, chunk) => (r.segId, chunk) }
        .map { case (_, rs) => rs.map(_._1.docIds.length).sum }
      // 3 query terms x width docs is the hard cap per task
      assert(perTask.max <= 3 * width)
      assert(perTask.size > 5, "expected several chunks per segment")
    }
  }

  test("phrase top-k: chunked == unchunked (CSR position slices)") {
    val (_, c0) = chunked(Intersect.topKPhrase(_, PhraseQ.of("alpha", "beta"), 10))
    assert(c0 > 0)
  }
}
