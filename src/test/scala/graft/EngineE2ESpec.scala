package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.bench.CorpusGen
import graft.index.{IndexBuilder, IndexConfig, Manifest}
import graft.query._

/** End-to-end engine vs brute-force oracle: every query path must be rank-
  * AND f32-score-identical to NaiveScorer (FIXTURES.md §5), across multiple
  * segments, multiple build batches, and multi-block posting lists
  * (blockSize 16 forces blocking on a 400-doc corpus).
  */
class EngineE2ESpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  val nDocs = 400
  lazy val indexDir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
  lazy val cfg = IndexConfig(numSegments = 4, blockSize = 16, buildBatches = 2)
  lazy val corpus = CorpusGen.corpus(spark, nDocs, seed = 42L, avgLines = 10)

  lazy val meta: Manifest.IndexMeta =
    IndexBuilder.build(spark, corpus.toDF(), indexDir, cfg)

  lazy val searcher: Searcher = { meta; new Searcher(spark, indexDir) }

  lazy val naive: NaiveScorer.Corpus = {
    meta
    val src = corpus.toDF().select($"repo", $"path", $"commit", $"content")
    val rows = searcher.docmap.select($"segId", $"docId", $"repo", $"path", $"commit")
      .join(src, Seq("repo", "path", "commit"))
      .select($"segId", $"docId", $"content")
      .as[(Int, Int, String)].collect().toSeq
    NaiveScorer.fromContent(rows)
  }

  // dynamically pick vocabulary: a hot keyword, a mid, and a tail term
  lazy val dfByTerm: Map[String, Long] = {
    val all = naive.docs.flatMap(_.tf.keys).distinct
    all.map(t => t -> naive.df(t)).toMap
  }
  lazy val hotTerm: String = dfByTerm.maxBy(_._2)._1
  lazy val hot2: String = (dfByTerm - hotTerm).maxBy(_._2)._1
  lazy val midTerm: String =
    dfByTerm.filter(_._2 >= 20).minBy(t => (t._2, t._1))._1
  lazy val tailTerm: String =
    dfByTerm.filter(kv => kv._2 >= 2 && kv._2 <= 10).minBy(t => (t._2, t._1))._1

  def assertSame(engine: Seq[Hit], oracle: Seq[Hit], ctx: String): Unit = {
    assert(engine.map(h => (h.segId, h.docId)) == oracle.map(h => (h.segId, h.docId)),
      s"$ctx rank mismatch:\n engine=$engine\n oracle=$oracle")
    engine.zip(oracle).foreach { case (e, o) =>
      assert(e.score == o.score, s"$ctx f32 score mismatch at (${e.segId},${e.docId}): ${e.score} vs ${o.score}")
    }
  }

  test("build: manifest totals, sha256 invariant, multi-batch lineage") {
    assert(meta.totalRows == nDocs)
    assert(meta.segments.nonEmpty && meta.segments.forall(_.sha256ok))
    assert(meta.segments.map(_.batch).distinct.sorted == Seq(0, 1))
    assert(searcher.docmap.count() == nDocs)
    // posting lists actually span multiple blocks at blockSize=16
    val maxBlocks = searcher.termdict.agg(max($"numBlocks")).as[Int].head()
    assert(maxBlocks > 1, s"expected multi-block terms, got max $maxBlocks")
  }

  test("global stats match oracle") {
    assert(searcher.totalNumDocs == naive.totalDocs)
    assert(searcher.totalNumTokens == naive.totalTokens)
    assert(searcher.avgFieldnorm == naive.avgFieldnorm)
    for (t <- Seq(hotTerm, midTerm, tailTerm))
      assert(searcher.docFreqs(Seq(t))(t) == naive.df(t), s"df($t)")
  }

  test("single term: exact path == naive, rank- and score-identical") {
    for (t <- Seq(hotTerm, midTerm, tailTerm)) {
      assertSame(searcher.topDocs(TermQ(t), 10).toSeq, naive.topDocs(TermQ(t), 10), s"term=$t")
    }
  }

  test("single term: WAND path == naive") {
    for (t <- Seq(hotTerm, midTerm, tailTerm)) {
      assertSame(Wand.topK(searcher, Seq(t -> 1.0f), 10)._1.toSeq, naive.topDocs(TermQ(t), 10),
        s"wand term=$t")
    }
  }

  test("two-term disjunction: exact and WAND == naive") {
    val q = BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ(midTerm)))
    val oracle = naive.topDocs(q, 10)
    // topDocs routes this shape through WAND, so the exact path is compile
    assertSame(CompileRoute.topK(searcher, q, 10).toSeq, oracle, "disj exact")
    assertSame(Wand.topK(searcher, Seq(hotTerm, midTerm).map(_ -> 1.0f), 10)._1.toSeq,
      oracle, "disj wand")
    assertSame(searcher.topDocs(q, 10).toSeq, oracle, "disj topDocs")
  }

  test("three-term disjunction WAND == naive (clause order = sorted terms)") {
    val ts = Seq(hotTerm, hot2, midTerm).sorted
    val q = BoolQ(ts.map(t => Occur.Should -> TermQ(t)))
    // The WAND path sums sub-scores in scorer doc-order like the reference
    // (`block_wand.rs:196-200`), while the exact path and the oracle fix
    // clause order; for 3+ terms the f32 sums can differ in the last ulp, so
    // ranks must match exactly and scores within 1e-6 relative (the
    // reference's own assert_nearly_equals bound).
    val oracle = naive.topDocs(q, 10)
    val wand = Wand.topK(searcher, ts.map(_ -> 1.0f), 10)._1.toSeq
    def assertNear(got: Seq[Hit], want: Seq[Hit], ctx: String): Unit = {
      assert(got.map(h => (h.segId, h.docId)) == want.map(h => (h.segId, h.docId)), ctx)
      got.zip(want).foreach { case (e, o) =>
        assert(math.abs(e.score - o.score) <= 1e-6f * math.max(math.abs(e.score), math.abs(o.score)),
          ctx)
      }
    }
    assertNear(wand, oracle, "disj3 wand")
    // the unpruned compile route sums in clause order like the oracle
    assertSame(CompileRoute.topK(searcher, q, 10).toSeq, oracle, "disj3 compile")
    assertNear(wand, CompileRoute.topK(searcher, q, 10).toSeq, "disj3 wand == compile")
    // topDocs routes this WAND-eligible shape through the SAME pruned
    // executor (the reference's TopDocs also block_wands a pure term union,
    // `boolean_weight.rs:56-76`): bit-identical to the direct WAND call
    assert(searcher.topDocs(q, 10).toSeq == wand, "disj3 topDocs == wand")
  }

  test("WAND on the scan path == naive") {
    // the scan path's gather feeds the same kernel as the resident copy;
    // results must still be rank-identical with f32 scores within the
    // reference's own nearly-equals bound (scorer-order sums)
    val scanSearcher = new Searcher(spark, indexDir)
    scanSearcher.forceScan = true
    val ts2 = Seq(hotTerm, midTerm).sorted
    assertSame(Wand.topK(scanSearcher, ts2.map(_ -> 1.0f), 10)._1.toSeq,
      naive.topDocs(BoolQ(ts2.map(t => Occur.Should -> TermQ(t))), 10), "scan disj2")
    val ts3 = Seq(hotTerm, hot2, midTerm).sorted
    val oracle = naive.topDocs(BoolQ(ts3.map(t => Occur.Should -> TermQ(t))), 10)
    val wand = Wand.topK(scanSearcher, ts3.map(_ -> 1.0f), 10)._1.toSeq
    assert(wand.map(h => (h.segId, h.docId)) == oracle.map(h => (h.segId, h.docId)))
    wand.zip(oracle).foreach { case (e, o) =>
      assert(math.abs(e.score - o.score) <= 1e-6f * math.max(math.abs(e.score), math.abs(o.score)))
    }
  }

  test("WAND top-k rejects duplicate terms; duplicate Should clauses still sum twice") {
    // one weight per term cannot express SumCombiner's double count, so the
    // executor fails loudly instead of merging the clauses
    intercept[IllegalArgumentException](
      Wand.topK(searcher, Seq(hotTerm -> 1.0f, midTerm -> 1.0f, hotTerm -> 2.0f), 10))
    intercept[IllegalArgumentException](
      Wand.topK(searcher, Seq(midTerm -> 1.0f, midTerm -> 1.0f), 10, withCount = true))
    // the collectors never hand that shape to WAND: it takes the compile route
    val q = BoolQ(Seq(Occur.Should -> TermQ(midTerm), Occur.Should -> TermQ(midTerm)))
    assertSame(searcher.topDocs(q, 10).toSeq, naive.topDocs(q, 10), "duplicate should")
    assert(searcher.topDocsWithCount(q, 10)._2 == naive.count(q))
  }

  test("k = 0 is rejected on every route") {
    // the reference's `TopDocs::with_limit` rejects a limit of 0; every
    // route fails the same way, before any Spark job
    val d = naive.docs.find(_.tokens.length >= 2).get
    val routes: Seq[(String, Query)] = Seq(
      "phrase" -> PhraseQ.of(d.tokens(0), d.tokens(1)),
      "conjunction" -> BoolQ(Seq(Occur.Must -> TermQ(hotTerm), Occur.Must -> TermQ(midTerm))),
      "disjunction" -> BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ(midTerm))),
      "term" -> TermQ(hotTerm),
      "generic" -> BoolQ(Seq(Occur.Must -> TermQ(hotTerm), Occur.MustNot -> TermQ(tailTerm))))
    for ((name, q) <- routes) {
      intercept[IllegalArgumentException](searcher.topDocs(q, 0))
      intercept[IllegalArgumentException](searcher.topDocsWithCount(q, 0))
      assert(searcher.topDocsWithCount(q, 1)._2 == searcher.count(q), name)
    }
    intercept[IllegalArgumentException](Wand.topK(searcher, Seq(hotTerm -> 1.0f), 0))
    intercept[IllegalArgumentException](new Wand.TopK(0))
  }

  test("conjunction (Must+Must) == naive") {
    val q = BoolQ(Seq(Occur.Must -> TermQ(hotTerm), Occur.Must -> TermQ(midTerm)))
    assertSame(searcher.topDocs(q, 10).toSeq, naive.topDocs(q, 10), "conj")
    assert(searcher.count(q) == naive.count(q))
  }

  test("must + should + mustnot == naive") {
    val q = BoolQ(Seq(
      Occur.Must -> TermQ(hotTerm),
      Occur.Should -> TermQ(midTerm),
      Occur.MustNot -> TermQ(tailTerm)))
    assertSame(searcher.topDocs(q, 10).toSeq, naive.topDocs(q, 10), "reqopt+excl")
    assert(searcher.count(q) == naive.count(q))
  }

  test("minShouldMatch disjunction == naive") {
    val q = BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ(hot2),
      Occur.Should -> TermQ(midTerm)), minShouldMatch = 2)
    assertSame(searcher.topDocs(q, 10).toSeq, naive.topDocs(q, 10), "minshould")
    assert(searcher.count(q) == naive.count(q))
  }

  test("phrase == naive (positions, phrase_count as tf)") {
    // pick an actually-occurring bigram from the corpus
    val d = naive.docs.find(_.tokens.length >= 2).get
    val phrase = PhraseQ.of(d.tokens(0), d.tokens(1))
    val oracle = naive.topDocs(phrase, 10)
    assert(oracle.nonEmpty)
    assertSame(searcher.topDocs(phrase, 10).toSeq, oracle, "phrase")
    assert(searcher.count(phrase) == naive.count(phrase))
  }

  test("phrase with slop == naive (budgeted displacement, leapfrog fast path)") {
    // a (w0, w2) pair at distance 2 exists in any 400-doc corpus line
    val d = naive.docs.find(_.tokens.length >= 3).get
    val q = PhraseQ(Seq(0 -> d.tokens(0), 1 -> d.tokens(2)), slop = 1)
    val oracle = naive.topDocs(q, 10)
    assert(oracle.nonEmpty)
    assertSame(searcher.topDocs(q, 10).toSeq, oracle, "phrase-slop")
    assert(searcher.count(q) == naive.count(q))
  }

  test("boost / const / dismax == naive") {
    val b = BoostQ(TermQ(hotTerm), 2.5f)
    assertSame(searcher.topDocs(b, 10).toSeq, naive.topDocs(b, 10), "boost")
    val c = ConstScoreQ(TermQ(hotTerm), 0.5f)
    assertSame(searcher.topDocs(c, 10).toSeq, naive.topDocs(c, 10), "const")
    val dm = DisMaxQ(Seq(TermQ(hotTerm), TermQ(midTerm)), 0.3f)
    assertSame(searcher.topDocs(dm, 10).toSeq, naive.topDocs(dm, 10), "dismax")
  }

  test("termset / regex / fuzzy == naive") {
    val ts = TermSetQ(Set(hotTerm, tailTerm))
    assertSame(searcher.topDocs(ts, 20).toSeq, naive.topDocs(ts, 20), "termset")
    assert(searcher.count(ts) == naive.count(ts))
    val re = RegexQ("pars.*")
    assert(searcher.count(re) == naive.count(re))
    val fz = FuzzyQ(hotTerm, 1)
    assert(searcher.count(fz) == naive.count(fz))
  }

  test("regex phrase == brute force over token stream") {
    val d = naive.docs.find(_.tokens.length >= 2).get
    val r1 = "^" + d.tokens(0).take(2) + "[a-z0-9]*$"
    val r2 = "^" + d.tokens(1).take(2) + "[a-z0-9]*$"
    val q = RegexPhraseQ(Seq(0 -> r1, 1 -> r2))
    val expected = naive.docs.count { doc =>
      doc.tokens.sliding(2).exists(p => p.length == 2 && p(0).matches(r1) && p(1).matches(r2))
    }
    assert(expected > 0, "fixture bigram should match its own prefixes")
    assert(searcher.count(q) == expected)
  }

  test("all / empty / parser") {
    assert(searcher.count(AllQ) == nDocs)
    assert(searcher.count(EmptyQ) == 0)
    assert(QueryParser.parse(s"$hotTerm $midTerm") ==
      BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ(midTerm))))
    assert(QueryParser.parse(s"+$hotTerm -$midTerm") ==
      BoolQ(Seq(Occur.Must -> TermQ(hotTerm), Occur.MustNot -> TermQ(midTerm))))
    assert(QueryParser.parse("\"a b\"") == PhraseQ(Seq((0, "a"), (1, "b"))))
    assert(QueryParser.parse("\"a b\"~2") == PhraseQ(Seq((0, "a"), (1, "b")), slop = 2))
    assert(QueryParser.parse("+x -\"a b\"~1") == BoolQ(Seq(
      Occur.Must -> TermQ("x"),
      Occur.MustNot -> PhraseQ(Seq((0, "a"), (1, "b")), slop = 1))))
  }

  test("resume: second build reuses checkpoints and yields the identical manifest") {
    val meta2 = IndexBuilder.build(spark, corpus.toDF(), indexDir, cfg)
    assert(meta2.segments.map(s => (s.segId, s.batch, s.rows, s.tokens, s.terms)).sorted ==
      meta.segments.map(s => (s.segId, s.batch, s.rows, s.tokens, s.terms)).sorted)
  }

  test("index content is invariant to input partitioning (parallelism-independence)") {
    // the scaling benchmark's same-job-same-input claim: segment and docId
    // assignment are pure functions of the row key, so ANY repartitioning of
    // the input (local[4], local[32], 1000 executors) builds the identical
    // index tables
    meta // ensure reference index built
    val dir2 = java.nio.file.Files.createTempDirectory("graft-inv").toString
    IndexBuilder.build(spark, corpus.toDF().repartition(7), dir2, cfg)
    val s2 = new Searcher(spark, dir2)
    def docmapKey(s: Searcher) =
      s.docmap.select($"segId", $"docId", $"sha256", $"normId")
        .as[(Int, Int, String, Int)].collect().sorted.toSeq
    def postingsKey(s: Searcher) =
      s.postings.select($"segId", $"term", $"blockId", $"lastDoc", $"blockLen",
          $"maxNormId", $"maxTf")
        .as[(Int, String, Int, Int, Int, Int, Int)].collect().sorted.toSeq
    assert(docmapKey(s2) == docmapKey(searcher))
    assert(postingsKey(s2) == postingsKey(searcher))
  }

  test("resume after crash in the window between table write and checkpoint") {
    // simulate a driver death AFTER batch 1's tables landed but BEFORE its
    // checkpoint was committed: the checkpoint is the only commit point, so
    // the rebuild must redo the batch (overwrite the orphaned tables) and
    // land on the identical manifest — the failpoint the reference covers
    // with its IO fault-injection tests (tests/failpoints/mod.rs)
    meta // ensure built
    val ck = graft.index.Manifest.checkpointPath(indexDir, 1, cfg.configHash)
    java.nio.file.Files.delete(ck)
    val meta3 = IndexBuilder.build(spark, corpus.toDF(), indexDir, cfg)
    assert(meta3.segments.map(s => (s.segId, s.batch, s.rows, s.tokens, s.terms)).sorted ==
      meta.segments.map(s => (s.segId, s.batch, s.rows, s.tokens, s.terms)).sorted)
    assert(java.nio.file.Files.exists(ck))
  }
}
