package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.CorpusGen
import graft.index.{Deletes, IndexBuilder, IndexConfig, Manifest}
import graft.query.{BoolQ, Hit, Intersect, Occur, PhraseQ, Query, SegmentCollect, Searcher, TermQ, TermSetQ, Wand}
import graft.streaming.StreamIngest

/** Delete tombstones + streaming (micro-batch) ingestion. */
class DeleteStreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  test("delete_term tombstones are filtered from every query path") {
    import spark.implicits._
    val dir = tmpDir("del")
    val corpus = CorpusGen.corpus(spark, 300)
    IndexBuilder.build(spark, corpus.toDF(), dir,
      IndexConfig(numSegments = 2, withPositions = true))

    val before = new Searcher(spark, dir)
    def addrs(sr: Searcher, q: Query): Set[(Int, Int)] =
      sr.compile(q).select($"segId", $"docId").as[(Int, Int)].collect().toSet
    val victims = addrs(before, TermQ("error"))
    val victimDocs = victims.size.toLong
    assert(victimDocs > 0, "corpus must contain the delete term")
    val allBefore = before.count(TermQ("val"))

    // one query per specialized collector route on a clean index: the pure
    // disjunction (WAND), the conjunction and the phrase (leapfrog)
    val routed: Seq[(String, Query)] = Seq(
      "disjunction" -> BoolQ(Seq(Occur.Should -> TermQ("error"), Occur.Should -> TermQ("val"))),
      "conjunction" -> BoolQ(Seq(Occur.Must -> TermQ("val"), Occur.Must -> TermQ("def"))),
      "phrase" -> PhraseQ.of("über", "fast"))
    val matchedBefore = routed.map { case (name, q) =>
      val m = addrs(before, q)
      assert((m & victims).nonEmpty, s"$name must match a doc the delete will hit")
      assert(before.topDocsWithCount(q, 10)._2 == m.size, s"$name clean-index count")
      name -> m
    }.toMap

    val deleted = Deletes.deleteByQuery(spark, dir, TermQ("error"), "content")
    assert(deleted == victimDocs)

    // re-pin (reader reload on commit)
    val after = new Searcher(spark, dir)
    assert(after.count(TermQ("error")) == 0)
    // docs with 'val' but not 'error' survive
    val expectSurvivors = before
      .compile(TermQ("val")).as("a")
      .join(before.compile(TermQ("error")).as("b"),
        $"a.segId" === $"b.segId" && $"a.docId" === $"b.docId", "left_anti")
      .count()
    assert(after.count(TermQ("val")) == expectSurvivors)
    assert(allBefore >= expectSurvivors)

    // every collector, on every route, drops the tombstoned addresses and
    // counts what the compile route counts (k above the corpus size lists
    // every match)
    val k = 300
    for ((name, q) <- routed) {
      val live = after.compile(q).count()
      assert(live == (matchedBefore(name) -- victims).size, s"$name compile count")
      val top = after.topDocs(q, k)
      val (topC, cnt) = after.topDocsWithCount(q, k)
      for ((hits, collector) <- Seq(top -> "topDocs", topC -> "topDocsWithCount"))
        assert(!hits.exists(h => victims((h.segId, h.docId))),
          s"$name: $collector returned a tombstoned doc")
      assert(top.length == live && topC.length == live, s"$name hit count")
      assert(cnt == live, s"$name topDocsWithCount count")
      assert(after.count(q) == live, s"$name count")
    }

    // delete is idempotent: re-deleting matches nothing (already dead),
    // and a delete that matches nothing leaves the tombstone state, and with
    // it the Searcher generation, untouched
    val stamp = Deletes.stamp(dir)
    val generation = new Searcher(spark, dir).generation
    assert(Deletes.deleteByQuery(spark, dir, TermQ("error"), "content") == 0)
    assert(Deletes.deleteByQuery(spark, dir, TermQ("zzabsent"), "content") == 0)
    assert(Deletes.stamp(dir) == stamp && new Searcher(spark, dir).generation == generation)
    assert(!new java.io.File(dir).list().exists(_.startsWith("_deletes")), "a staging directory was left behind")
  }

  test("GraftIndex.delete matches in the index's own primary field") {
    val dir = tmpDir("delfield")
    val cfg = IndexConfig(numSegments = 2, field = "body")
    val idx = Graft.build(spark, CorpusGen.corpus(spark, 200).toDF(), dir, cfg)
    val before = idx.searcher
    val matched = before.count(TermQ("error"))
    assert(matched > 0 && before.count(TermQ("val")) > 0, "the corpus must contain the terms")
    // the default field holds nothing on this index
    assert(new Searcher(spark, dir).count(TermQ("error")) == 0)
    assert(idx.delete(TermQ("error")) == matched)
    val after = idx.searcher
    assert(after.count(TermQ("error")) == 0)
    assert(after.count(TermQ("val")) == before.compile(BoolQ(Seq(
      Occur.Must -> TermQ("val"), Occur.MustNot -> TermQ("error")))).count())
    assert(idx.delete(TermQ("error")) == 0)
  }

  test("alive view: a wholly dead block and a dead lastDoc, every executor == the compile route") {
    import spark.implicits._
    val dir = tmpDir("delview")
    val rng = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    // each doc carries its own id token, so a delete can name exact docs
    val docs = (0 until 600).map { i =>
      val words = (0 until 12).map(_ => vocab(rng.nextInt(vocab.length))) ++
        (if (i % 13 == 0) Seq("rareterm") else Nil) :+ f"id$i%04d"
      ("r", f"p$i%04d", "c", "en", words.mkString(" "))
    }.toDF("repo", "path", "commit", "lang", "content")
    IndexBuilder.build(spark, docs, dir, IndexConfig(numSegments = 2, withPositions = true))
    val clean = new Searcher(spark, dir)
    // (segId, blockId, lastDoc, blockLen, docIds) of alpha's blocks
    def blocks(sr: Searcher): Array[(Int, Int, Int, Int, Array[Int])] =
      sr.postings.where($"field" === "content" && $"term" === "alpha")
        .select($"segId", $"blockId", $"lastDoc", $"blockLen", $"docIds")
        .as[(Int, Int, Int, Int, Array[Int])].collect().sortBy(b => (b._1, b._2))
    val full = blocks(clean).filter(_._4 == 128)
    assert(full.length >= 2, "alpha needs two full blocks")
    // tombstones: every doc of one block, and the lastDoc of another
    val (dead, cut) = (full(1), full(0))
    val victims = dead._5.map(d => (dead._1, d)).toSet + ((cut._1, cut._3))
    val ids = clean.docmap.select($"segId", $"docId", $"path").as[(Int, Int, String)]
      .collect().collect { case (s, d, p) if victims((s, d)) => "id" + p.drop(1) }
    assert(Deletes.deleteByQuery(spark, dir, TermSetQ(ids.toSet), "content") == victims.size)
    val sr = new Searcher(spark, dir)

    // the view: the dead block drops, the cut block loses its lastDoc
    val live = blocks(sr)
    assert(!live.exists(b => (b._1, b._2) == (dead._1, dead._2)), "wholly dead block kept")
    val after = live.find(b => (b._1, b._2) == (cut._1, cut._2)).get
    assert(after._5.toSeq == cut._5.init.toSeq && after._3 == cut._5.init.last &&
      after._4 == 127, "cut block not recomputed")
    // a single term's count is its live postings, not its doc_freq
    val alphaPostings = blocks(clean).map(_._4).sum
    assert(sr.docFreqs(Seq("alpha"))("alpha") == alphaPostings)
    assert(sr.count(TermQ("alpha")) == alphaPostings - victims.size)
    assert(sr.topDocsWithCount(TermQ("alpha"), 5)._2 == alphaPostings - victims.size)

    // a WAND scan on the tombstoned index still prunes on (field, term)
    // and does not read positions
    val scan = SegmentCollect.scan(sr, Seq("alpha", "beta"), positions = false)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.head
    assert(scan.metadata("PushedFilters").contains("EqualTo(field,content)") &&
      scan.metadata("PushedFilters").contains("In(term, [alpha,beta])"), scan.metadata("PushedFilters"))
    assert(!scan.requiredSchema.fieldNames.contains("positions"))

    val k = 50
    def key(hs: Array[Hit]): Seq[(Int, Int, Float)] = hs.toSeq.map(h => (h.segId, h.docId, h.score))
    val widths = Seq(SegmentCollect.DefaultChunkDocs, 64, 1)
    // the collectors on a resident copy and on the forced scan path, each
    // cut at every chunk width
    val paths = for (path <- Seq("resident", "scan"); w <- widths) yield {
      val s = new Searcher(spark, dir)
      s.forceScan = path == "scan"
      s.chunkDocs = w
      s"$path path at chunk width $w" -> s
    }
    def check(name: String, q: Query)(run: Searcher => (Array[Hit], Long)): Unit = {
      val want = key(CompileRoute.topK(sr, q, k))
      val wantCount = sr.compile(q).count()
      assert(clean.topDocs(q, k).exists(h => victims((h.segId, h.docId))),
        s"$name: the clean top-k must hold a tombstoned doc")
      assert(key(sr.topDocs(q, k)) == want, s"$name topDocs")
      val (hits, cnt) = sr.topDocsWithCount(q, k)
      assert(key(hits) == want && cnt == wantCount, s"$name topDocsWithCount")
      assert(sr.count(q) == wantCount, s"$name count")
      for ((where, s) <- paths) {
        val (h, c) = run(s)
        assert(key(h) == want && c == wantCount, s"$name on the $where")
      }
    }
    // two terms: an f32 sum of two scores is the same in either order, so
    // WAND's scorer-order sum equals the compile route's clause-order sum
    val terms = Seq("alpha", "gamma")
    val disj = BoolQ(terms.map(t => Occur.Should -> TermQ(t)))
    check("disjunction", disj)(Wand.topK(_, terms.map(_ -> 1.0f), k, withCount = true))
    // the hits alone, without the count
    for ((where, s) <- paths)
      assert(key(Wand.topK(s, terms.map(_ -> 1.0f), k)._1) == key(CompileRoute.topK(sr, disj, k)),
        s"WAND without the count on the $where")
    // similar dfs, and a rare driver: rareterm (df ~47 vs ~560)
    for (ts <- Seq(Seq("alpha", "beta"), Seq("alpha", "rareterm")))
      check(ts.mkString("+"), BoolQ(ts.map(t => Occur.Must -> TermQ(t))))(Intersect.topKMust(_, ts, k))
    val phrase = PhraseQ.of("alpha", "beta")
    check("phrase", phrase)(Intersect.topKPhrase(_, phrase, k))
  }

  test("merge compacts deletes: dead docs physically dropped, results unchanged") {
    import spark.implicits._
    val dir = tmpDir("delmerge")
    val cfg = IndexConfig(numSegments = 3)
    val corpus = CorpusGen.corpus(spark, 400)
    IndexBuilder.build(spark, corpus.toDF(), dir, cfg)
    Deletes.deleteByQuery(spark, dir, TermQ("error"), "content")

    val before = new Searcher(spark, dir)
    val expectVal = before.count(TermQ("val"))
    val valOrDef = BoolQ(Seq(Occur.Should -> TermQ("val"), Occur.Should -> TermQ("def")))
    val expectTop = before.topDocs(valOrDef, 10).map(h => h.score)

    val srcSegs = graft.index.Manifest.read(dir).segments.map(_.segId)
    graft.index.Merger.merge(spark, dir, cfg, srcSegs, newSegId = 100)

    val after = new Searcher(spark, dir)
    assert(after.liveSegIds == Seq(100))
    assert(after.count(TermQ("error")) == 0)
    assert(after.count(TermQ("val")) == expectVal)
    // dead docs are physically gone, not just masked: manifest rows ==
    // docmap rows == alive count, and postings contain no trace of 'error'
    val m = graft.index.Manifest.read(dir)
    assert(m.segments.head.rows == after.docmap.count())
    assert(after.postings.where($"term" === "error").count() == 0)
    // stats were recomputed from survivors
    assert(m.segments.head.tokens ==
      after.docmap.agg(org.apache.spark.sql.functions.sum($"tokenCount"))
        .as[Long].head())
    // scores shift (global stats changed), but the engine stays consistent:
    // WAND path == exact path on the compacted index
    val wand = Wand.topK(after, Seq("val" -> 1.0f, "def" -> 1.0f), 10)._1
    val exact = CompileRoute.topK(after, valOrDef, 10)
    assert(wand.map(h => (h.segId, h.docId, h.score)).toSeq ==
      exact.map(h => (h.segId, h.docId, h.score)).toSeq)
    assert(expectTop.nonEmpty)
  }

  test("micro-batch append commits are isolated, resumable and searchable") {
    val dir = tmpDir("stream")
    val cfg = IndexConfig(numSegments = 2)
    val c1 = CorpusGen.corpus(spark, 120, seed = 1L)
    val c2 = CorpusGen.corpus(spark, 120, seed = 2L)

    StreamIngest.commitBatch(spark, c1.toDF(), dir, cfg, 0L)
    val m1 = Manifest.read(dir)
    val sr1 = new Searcher(spark, dir)
    val hits1 = sr1.count(TermQ("val"))

    StreamIngest.commitBatch(spark, c2.toDF(), dir, cfg, 1L)
    val m2 = Manifest.read(dir)
    // second commit appends NEW segments; first batch untouched
    assert(m2.segments.size == m1.segments.size * 2)
    assert(m2.segments.map(_.segId).distinct.size == m2.segments.size)
    assert(m1.segments.toSet.subsetOf(m2.segments.toSet))
    assert(m2.segments.forall(_.sha256ok))

    // a reader pinned on m1 still sees only batch-1 segments
    assert(sr1.liveSegIds == m1.segments.map(_.segId))

    // a re-pinned reader sees both commits; counts add up
    val sr2 = new Searcher(spark, dir)
    val only2 = tmpDir("stream2")
    IndexBuilder.build(spark, c2.toDF(), only2, cfg)
    val hits2 = new Searcher(spark, only2).count(TermQ("val"))
    assert(sr2.count(TermQ("val")) == hits1 + hits2)
  }
}
