package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{Intersect, PhraseQ, SegmentCollect, Wand}

/** DocId-range chunking of the shared collect stage (`SegmentCollect`) that
  * the multi-term executors (Wand.topK, Intersect.topKMust,
  * Intersect.topKPhrase) run on: per-task block residency is bounded by the
  * chunk width instead of the segment size, so the answer must be IDENTICAL at
  * any chunk width — including widths far below the 128-entry block length,
  * which force map-side block slicing at chunk boundaries, and width 1
  * (every doc its own chunk). This is the residency hardening the round-3
  * audit asked for: a forced multi-chunk query returns bit-identical
  * (hits, count) fruit to the single-chunk run.
  */
class ChunkedExecutorSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val sr = {
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
    // the scan path: chunking, the τ prefilter and the rare-term broadcast
    // live there (the resident copy is always cut at the default width)
    val s = new graft.query.Searcher(spark, d)
    s.forceScan = true
    s
  }

  private def norm(hits: Array[graft.query.Hit]): Seq[(Int, Int, Float)] =
    hits.toSeq.map(h => (h.segId, h.docId, h.score))

  test("WAND multi-term: chunked == unchunked at widths 64 and 1") {
    val terms = Seq("alpha", "beta", "gamma").map(_ -> 1.0f)
    val (h0, c0) = Wand.topK(sr, terms, 10, withCount = true, chunkDocs = Int.MaxValue)
    for (w <- Seq(64, 1)) {
      val (h, c) = Wand.topK(sr, terms, 10, withCount = true, chunkDocs = w)
      assert(norm(h) == norm(h0), s"width $w hits")
      assert(c == c0, s"width $w count")
    }
    assert(c0 > 0 && h0.length == 10)
  }

  test("conjunction top-k: chunked == unchunked, shuffle path") {
    // similar dfs => the rare-broadcast prune stays OFF: exercises the
    // plain (segId, chunk)-grouped shuffle path
    val (h0, c0) = Intersect.topKMust(sr, Seq("alpha", "beta"), 10)
    for (w <- Seq(64, 1)) {
      val (h, c) = Intersect.topKMust(sr, Seq("alpha", "beta"), 10, chunkDocs = w)
      assert(norm(h) == norm(h0), s"width $w hits")
      assert(c == c0, s"width $w count")
    }
    assert(c0 > 0)
  }

  test("conjunction top-k: chunked == unchunked, rare-broadcast path") {
    // rareterm df ~7 vs alpha df ~600 => the rare list rides the broadcast
    // WHOLE into every chunk task and drives the leapfrog there
    val (h0, c0) = Intersect.topKMust(sr, Seq("alpha", "rareterm"), 10)
    for (w <- Seq(64, 1)) {
      val (h, c) = Intersect.topKMust(sr, Seq("alpha", "rareterm"), 10, chunkDocs = w)
      assert(norm(h) == norm(h0), s"width $w hits")
      assert(c == c0, s"width $w count")
    }
    assert(c0 > 0)
  }

  test("WAND multi-term with the τ prefilter armed: chunked == unchunked at widths 64 and 1") {
    // probeCutoff = 0 arms the single-term threshold probe, so blocks are
    // dropped map-side BEFORE slicing; withCount = false keeps it armed
    val terms = Seq("alpha", "beta", "gamma").map(_ -> 1.0f)
    val (h0, _) = Wand.topK(sr, terms, 10, probeCutoff = 0L, chunkDocs = Int.MaxValue)
    for (w <- Seq(64, 1)) {
      val (h, c) = Wand.topK(sr, terms, 10, probeCutoff = 0L, chunkDocs = w)
      assert(norm(h) == norm(h0), s"width $w hits")
      assert(c == -1L, s"width $w count")
    }
    assert(h0.length == 10)
    assert(norm(h0) == norm(Wand.topK(sr, terms, 10, withCount = true)._1), "probe changed hits")
  }

  test("per-task residency is BOUNDED by the chunk width") {
    // direct assertion on the sliced shuffle rows: within every
    // (segId, chunk) group, each term holds at most `width` posting
    // entries and every docId lies inside the chunk's range — the
    // residency invariant that holds no matter how large a segment grows.
    // A sliced block gets its own lastDoc and keeps the parent's
    // block-max pair; positions off and on take the same slicer
    val width = 64
    for (positions <- Seq(false, true)) {
      val scanned = SegmentCollect.scan(sr, Seq("alpha", "beta", "gamma"), positions)
      val parents = scanned.collect().map(r => (r.segId, r.term, r.blockId) -> r).toMap
      val rows = SegmentCollect.slice(scanned, width).collect()
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
    val p = PhraseQ.of("alpha", "beta")
    val (h0, c0) = Intersect.topKPhrase(sr, p, 10)
    for (w <- Seq(64, 1)) {
      val (h, c) = Intersect.topKPhrase(sr, p, 10, chunkDocs = w)
      assert(norm(h) == norm(h0), s"width $w hits")
      assert(c == c0, s"width $w count")
    }
    assert(c0 > 0)
  }
}
