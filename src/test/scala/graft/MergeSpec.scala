package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.CorpusGen
import graft.index._
import graft.query._

/** Merge correctness: merging all segments must leave every query's results
  * identical (global BM25 stats are unchanged; docId remap is order-
  * preserving stacking), mirroring the reference merger proptests
  * (`merger.rs:1261-1276`).
  */
class MergeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  val nDocs = 300
  lazy val indexDir = java.nio.file.Files.createTempDirectory("graft-merge").toString
  lazy val cfg = IndexConfig(numSegments = 4, blockSize = 16, buildBatches = 1)
  lazy val corpus = CorpusGen.corpus(spark, nDocs, seed = 7L, avgLines = 8)

  lazy val preMeta = IndexBuilder.build(spark, corpus.toDF(), indexDir, cfg)
  lazy val pre = { preMeta; new Searcher(spark, indexDir) }

  // capture pre-merge results and the address mapping BEFORE merging
  lazy val offsets: Map[Int, Long] = {
    var acc = 0L
    preMeta.segments.sortBy(_.segId).map { s =>
      val o = s.segId -> acc; acc += s.rows; o
    }.toMap
  }
  lazy val hotTerm: String = {
    import spark.implicits._
    pre.termdict.groupBy($"term").sum("docFreq")
      .orderBy(org.apache.spark.sql.functions.desc("sum(docFreq)"))
      .select($"term").as[String].head()
  }
  lazy val preTop: Map[String, Seq[Hit]] = {
    val qs = Map(
      "term" -> TermQ(hotTerm),
      "disj" -> BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ("parser"))))
    qs.map { case (n, q) => n -> pre.topDocs(q, 10).toSeq }
  }
  lazy val preWand: Seq[Hit] = Wand.topK(pre, Seq(hotTerm -> 1.0f), 10)._1.toSeq

  lazy val postMeta: Manifest.IndexMeta = {
    preTop; preWand // force pre-merge capture
    Merger.merge(spark, indexDir, cfg, preMeta.segments.map(_.segId), newSegId = 100)
  }
  lazy val post = { postMeta; new Searcher(spark, indexDir) }

  def remap(h: Hit): (Int, Int) = (100, (offsets(h.segId) + h.docId).toInt)

  test("merge: one segment remains, totals preserved") {
    assert(postMeta.segments.map(_.segId) == Seq(100))
    assert(postMeta.totalRows == nDocs)
    assert(postMeta.totalTokens == preMeta.totalTokens)
    assert(post.totalNumDocs == nDocs)
    assert(post.totalNumTokens == pre.totalNumTokens)
  }

  test("merge: exact query results identical under docId stacking remap") {
    for ((name, hits) <- preTop) {
      val q = if (name == "term") TermQ(hotTerm)
        else BoolQ(Seq(Occur.Should -> TermQ(hotTerm), Occur.Should -> TermQ("parser")))
      val merged = post.topDocs(q, 10).toSeq
      assert(merged.map(h => (h.segId, h.docId)) == hits.map(remap), s"$name ranks")
      merged.zip(hits).foreach { case (m, p) =>
        assert(m.score == p.score, s"$name f32 score drift after merge") }
    }
  }

  test("merge: WAND results identical") {
    val merged = Wand.topK(post, Seq(hotTerm -> 1.0f), 10)._1.toSeq
    assert(merged.map(h => (h.segId, h.docId)) == preWand.map(remap))
    merged.zip(preWand).foreach { case (m, p) => assert(m.score == p.score) }
  }

  test("merge: re-blocked posting lists are dense 128-aligned (blockSize) runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bad = post.postings
      .groupBy($"term").agg(
        sum(size($"docIds")).as("df"),
        count(lit(1)).as("nblocks"),
        max(size($"docIds")).as("maxlen"))
      .where(!($"nblocks" === ceil($"df" / cfg.blockSize.toDouble)) || $"maxlen" > cfg.blockSize)
      .count()
    assert(bad == 0L)
  }

  test("gc: merged-away batch dirs are deleted, post-merge queries unaffected") {
    postMeta // ensure merge happened (all pre-merge batches now dead)
    val deleted = Manifest.gc(indexDir)
    assert(deleted.nonEmpty, "expected the pre-merge batch=0 dirs to be collected")
    assert(deleted.forall(_.contains("batch=0")))
    // a fresh reader over the GC'd index still answers identically
    val fresh = new Searcher(spark, indexDir)
    val merged = fresh.topDocs(TermQ(hotTerm), 10).toSeq
    assert(merged.map(h => (h.segId, h.docId)) == preTop("term").map(remap))
  }

  test("compaction merge (with deletes) == index rebuilt over surviving docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dirA = java.nio.file.Files.createTempDirectory("graft-merge-del").toString
    val c = CorpusGen.corpus(spark, nDocs, seed = 11L, avgLines = 8).toDF().cache()
    val metaA = IndexBuilder.build(spark, c, dirA, cfg)
    val srA0 = new Searcher(spark, dirA)
    // a mid-frequency victim term (not everything, not nothing)
    val delTerm = srA0.termdict.groupBy($"term").agg(sum($"docFreq").as("df"))
      .where($"df" > 5 && $"df" < nDocs / 2)
      .orderBy(desc("df"), asc("term")).select($"term").as[String].head()
    assert(index.Deletes.deleteByQuery(spark, dirA, TermQ(delTerm), cfg.field) > 0)
    Merger.merge(spark, dirA, cfg, metaA.segments.map(_.segId), newSegId = 100)
    val srA = new Searcher(spark, dirA)
    assert(srA.count(TermQ(delTerm)) == 0, "deleted docs must be compacted away")

    // ground truth: a fresh index over only the surviving documents
    val hasTerm = udf((content: String) =>
      graft.analysis.Analysis.defaultTerms(content).exists(_._1 == delTerm))
    val dirB = java.nio.file.Files.createTempDirectory("graft-merge-del-ref").toString
    IndexBuilder.build(spark, c.where(!hasTerm($"content")), dirB, cfg)
    val srB = new Searcher(spark, dirB)

    assert(srA.totalNumDocs == srB.totalNumDocs)
    assert(srA.totalNumTokens == srB.totalNumTokens)

    // (path, f32 score) multisets must be identical — same stats, same tf,
    // same norms, only the address space differs between the two indexes
    def scoredByPath(sr: Searcher, q: Query): Seq[(String, Float)] =
      sr.compile(q)
        .join(sr.docmap.select($"segId", $"docId", $"path"), Seq("segId", "docId"))
        .select($"path", $"score").as[(String, Float)].collect().toSeq.sorted
    val probe = srB.termdict.groupBy($"term").agg(sum($"docFreq").as("df"))
      .orderBy(desc("df"), asc("term")).select($"term").as[String].head()
    assert(scoredByPath(srA, TermQ(probe)) == scoredByPath(srB, TermQ(probe)))
    assert(scoredByPath(srA, BoolQ(Seq(
      Occur.Must -> TermQ(probe), Occur.Must -> TermQ("parser")))) ==
      scoredByPath(srB, BoolQ(Seq(
        Occur.Must -> TermQ(probe), Occur.Must -> TermQ("parser")))))

    // merged postings stay dense blockSize-aligned runs after compaction
    val bad = srA.postings
      .groupBy($"term").agg(sum(size($"docIds")).as("df"),
        count(lit(1)).as("nblocks"), max(size($"docIds")).as("maxlen"))
      .where(!($"nblocks" === ceil($"df" / cfg.blockSize.toDouble)) || $"maxlen" > cfg.blockSize)
      .count()
    assert(bad == 0L)
  }

  test("compaction remap is range-partitioned: forcing tiny (4-doc) rank " +
      "buckets yields the identical compacted index") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dirA = java.nio.file.Files.createTempDirectory("graft-merge-bkt").toString
    val c = CorpusGen.corpus(spark, nDocs, seed = 31L, avgLines = 8).toDF().cache()
    val metaA = IndexBuilder.build(spark, c, dirA, cfg)
    val sr0 = new Searcher(spark, dirA)
    val delTerm = sr0.termdict.groupBy($"term").agg(sum($"docFreq").as("df"))
      .where($"df" > 5 && $"df" < nDocs / 2)
      .orderBy(desc("df"), asc("term")).select($"term").as[String].head()
    assert(index.Deletes.deleteByQuery(spark, dirA, TermQ(delTerm), cfg.field) > 0)
    val saved = Merger.remapBucketBits
    try {
      Merger.remapBucketBits = 2 // 4-doc buckets: every segment ranks in MANY window tasks
      Merger.merge(spark, dirA, cfg, metaA.segments.map(_.segId), newSegId = 100)
    } finally Merger.remapBucketBits = saved
    val srA = new Searcher(spark, dirA)
    assert(srA.count(TermQ(delTerm)) == 0)
    // ground truth: rebuild over survivors; scored results must be identical
    val hasTerm = udf((content: String) =>
      graft.analysis.Analysis.defaultTerms(content).exists(_._1 == delTerm))
    val dirB = java.nio.file.Files.createTempDirectory("graft-merge-bkt-ref").toString
    IndexBuilder.build(spark, c.where(!hasTerm($"content")), dirB, cfg)
    val srB = new Searcher(spark, dirB)
    def scoredByPath(sr: Searcher, q: Query): Seq[(String, Float)] =
      sr.compile(q)
        .join(sr.docmap.select($"segId", $"docId", $"path"), Seq("segId", "docId"))
        .select($"path", $"score").as[(String, Float)].collect().toSeq.sorted
    val probe = srB.termdict.groupBy($"term").agg(sum($"docFreq").as("df"))
      .orderBy(desc("df"), asc("term")).select($"term").as[String].head()
    assert(scoredByPath(srA, TermQ(probe)) == scoredByPath(srB, TermQ(probe)))
    assert(scoredByPath(srA, PhraseQ.of(probe, probe)) ==
      scoredByPath(srB, PhraseQ.of(probe, probe)))
    // docIds stay dense [0, n) in the compacted segment
    val n = srA.totalNumDocs
    val ids = srA.docmap.select($"docId").as[Int].collect().sorted
    assert(ids.toSeq == (0 until n.toInt))
  }

  test("merge carries ALL fields: extra-field queries and stats survive merge + compaction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mfCfg = cfg.copy(extraFields = Seq(
      FieldDef.STRING("lang"), FieldDef("repo", "default", "freq")))
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-mf").toString
    val c = CorpusGen.corpus(spark, nDocs, seed = 23L, avgLines = 8).toDF().cache()
    val meta0 = IndexBuilder.build(spark, c, dir, mfCfg)
    val sr0 = new Searcher(spark, dir)

    def byPath(sr: Searcher, q: Query): Seq[String] =
      sr.compile(q)
        .join(sr.docmap.select($"segId", $"docId", $"path"), Seq("segId", "docId"))
        .select($"path").as[String].collect().toSeq.sorted
    val langV = c.select($"lang").as[String].head()
    val repoTok = c.select($"repo").as[String].head().split('/')(0)
    val qs: Seq[Query] = Seq(
      FieldQ("lang", TermQ(langV)),
      BoolQ(Seq(Occur.Must -> FieldQ("repo", TermQ(repoTok)),
        Occur.Must -> TermQ("parser"))))
    val before = qs.map(q => byPath(sr0, q))
    assert(before.head.nonEmpty, "extra-field query must match something pre-merge")
    val statsBefore = sr0.statsDf.groupBy($"field")
      .agg(sum($"totalNumTokens"), sum($"numDocs"))
      .as[(String, Long, Long)].collect().toSet

    Merger.merge(spark, dir, mfCfg, meta0.segments.map(_.segId), newSegId = 100)
    val sr1 = new Searcher(spark, dir)
    qs.zip(before).foreach { case (q, b) => assert(byPath(sr1, q) == b, s"$q after merge") }
    val statsAfter = sr1.statsDf.groupBy($"field")
      .agg(sum($"totalNumTokens"), sum($"numDocs"))
      .as[(String, Long, Long)].collect().toSet
    assert(statsAfter == statsBefore, "per-field stats must be preserved exactly")
    assert(statsAfter.map(_._1) == Set("content", "lang", "repo"))

    // compaction path: delete some docs, merge again, compare to ground truth
    val delTerm = "parser"
    assert(index.Deletes.deleteByQuery(spark, dir, TermQ(delTerm), mfCfg.field) > 0)
    Merger.merge(spark, dir, mfCfg, Seq(100), newSegId = 200)
    val sr2 = new Searcher(spark, dir)
    val hasTerm = udf((content: String) =>
      graft.analysis.Analysis.defaultTerms(content).exists(_._1 == delTerm))
    val dirRef = java.nio.file.Files.createTempDirectory("graft-merge-mf-ref").toString
    IndexBuilder.build(spark, c.where(!hasTerm($"content")), dirRef, mfCfg)
    val srRef = new Searcher(spark, dirRef)
    qs.foreach { q => assert(byPath(sr2, q) == byPath(srRef, q), s"$q after compaction") }
    val s2 = sr2.statsDf.select($"field", $"totalNumTokens", $"numDocs")
      .as[(String, Long, Long)].collect().toSet
    val sRef = srRef.statsDf.groupBy($"field")
      .agg(sum($"totalNumTokens"), sum($"numDocs"))
      .as[(String, Long, Long)].collect().toSet
    assert(s2 == sRef, "compacted per-field stats must equal the rebuilt index's")
  }

  test("log merge policy: levels and min_num_segments (log_merge_policy.rs:94-130)") {
    val policy = Merger.LogMergePolicy(minNumSegments = 3, minLayerSize = 10)
    def seg(id: Int, rows: Long) = SegmentMeta(id, 0, rows, 0, 0, 0, sha256ok = true)
    // three similar-size small segments -> one candidate level
    val c1 = policy.computeMergeCandidates(Seq(seg(1, 20), seg(2, 25), seg(3, 22)))
    assert(c1 == Seq(Seq(1, 2, 3)) || c1 == Seq(Seq(2, 3, 1)) || c1.flatten.toSet == Set(1, 2, 3))
    // a big segment on its own level does not join the small ones
    val c2 = policy.computeMergeCandidates(Seq(seg(1, 100000), seg(2, 25), seg(3, 22), seg(4, 30)))
    assert(c2.flatten.toSet == Set(2, 3, 4))
    // below min_num_segments -> no candidates
    assert(policy.computeMergeCandidates(Seq(seg(1, 20), seg(2, 25))).isEmpty)
    // over max_docs excluded
    val p2 = policy.copy(maxDocsBeforeMerge = 50)
    assert(p2.computeMergeCandidates(Seq(seg(1, 60), seg(2, 60), seg(3, 60))).isEmpty)
  }
}
