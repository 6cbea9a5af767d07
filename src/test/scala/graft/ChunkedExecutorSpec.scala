package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{IndexBuilder, IndexConfig}
import graft.query.{Intersect, PhraseQ, Wand}

/** DocId-range chunking of the multi-term executors (Wand.topK /
  * Intersect.mapSegments): per-task block residency is bounded by the chunk
  * width instead of the segment size, so the answer must be IDENTICAL at
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
    new graft.query.Searcher(spark, d)
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

  test("per-task residency is BOUNDED by the chunk width") {
    import spark.implicits._
    // direct assertion on the chunked shuffle rows: within every
    // (segId, chunk) group, each term holds at most `width` posting
    // entries and every docId lies inside the chunk's range — the
    // residency invariant that holds no matter how large a segment grows
    val width = 64
    val rows = Intersect.chunkRows(
      Intersect.collectSegments(sr, Seq("alpha", "beta", "gamma"),
        needPositions = true), width)
      .map { case (segId, chunk, term, _, ds, _, _, pf, pl) =>
        (segId, chunk, term, ds.length, ds.min, ds.max, pf.length, pl.sum) }
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { case (segId, chunk, term, n, lo, hi, pfLen, plSum) =>
      assert(n <= width, s"$term in ($segId,$chunk): $n entries > width")
      assert(lo >= chunk.toLong * width && hi < (chunk + 1).toLong * width,
        s"$term in ($segId,$chunk): docId [$lo,$hi] outside range")
      assert(pfLen == plSum, s"$term in ($segId,$chunk): CSR slice mismatch")
    }
    val perTask = rows.groupBy(r => (r._1, r._2))
      .map { case (_, rs) => rs.map(_._4).sum }
    // 3 query terms x width docs is the hard cap per task
    assert(perTask.max <= 3 * width)
    assert(perTask.size > 5, "expected several chunks per segment")
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
