package graft

import org.apache.spark.JobGroupTrace
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Deletes, IndexBuilder, IndexConfig}
import graft.query.{BoolQ, Hit, Occur, PhraseQ, Query, SegmentCollect, Searcher, TermQ, TermSetQ}

/** Query tasks sized by work on uneven segments: sixteen segments, from
  * four appends of four segments whose sizes differ about 10:1, with
  * tombstones pinned in every append. On every collector route, the
  * resident copy and the forced scan path give the compile route's hits,
  * raw f32 score bits and counts, in one task for these small queries, and
  * the stage that runs the kernels never has more tasks than the task
  * slots. Driven through [[SegmentCollect.collect]] with an explicit task
  * count, a query in several tasks gives its one-task answer on both
  * sources, and the copy's query stage runs that many tasks.
  */
class UnevenSegmentsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Docs per segment in each append, smallest to largest. */
  private val perSegment = Seq(24, 80, 160, 240)

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-uneven").toString
    val rng = new scala.util.Random(41)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    var next = 0
    for (size <- perSegment) {
      val docs = (next until next + 4 * size).map { i =>
        val words = (0 until 10).map(_ => vocab(rng.nextInt(vocab.length))) ++
          (if (i % 11 == 0) Seq("rareterm") else Nil) :+ f"id$i%05d"
        ("r", f"p$i%05d", "c", "en", words.mkString(" "))
      }.toDF("repo", "path", "commit", "lang", "content")
      IndexBuilder.append(spark, docs, d, IndexConfig(numSegments = 4, withPositions = true))
      next += 4 * size
    }
    // tombstones in every append: every 19th doc
    val victims = (0 until next by 19).map(i => f"id$i%05d").toSet
    assert(Deletes.deleteByQuery(spark, d, TermSetQ(victims), "content") == victims.size)
    d
  }

  private def key(hs: Array[Hit]): Seq[(Int, Int, Int)] =
    hs.toSeq.map(h => (h.segId, h.docId, java.lang.Float.floatToRawIntBits(h.score)))

  private val k = 40
  /** Each route's query and its distinct terms. */
  private val routes: Seq[(String, Query, Seq[String])] = Seq(
    ("single term", TermQ("alpha"), Seq("alpha")),
    ("WAND multi-term", BoolQ(Seq("alpha", "gamma").map(t => Occur.Should -> TermQ(t))), Seq("alpha", "gamma")),
    ("conjunction", BoolQ(Seq("alpha", "beta").map(t => Occur.Must -> TermQ(t))), Seq("alpha", "beta")),
    ("rare-term conjunction", BoolQ(Seq("delta", "rareterm").map(t => Occur.Must -> TermQ(t))),
      Seq("delta", "rareterm")),
    ("phrase", PhraseQ.of("alpha", "beta"), Seq("alpha", "beta")),
    ("sloppy phrase", PhraseQ(Seq(0 -> "alpha", 1 -> "beta"), slop = 2), Seq("alpha", "beta")))

  test("sixteen segments about 10:1 in size, tombstones in each append") {
    val sr = new Searcher(spark, dir)
    val meta = sr.indexMeta.get
    assert(meta.segments.length == 16)
    val sizes = sr.docmap.groupBy($"segId").count().as[(Int, Long)].collect().map(_._2)
    assert(sizes.length == 16 && sizes.max >= 7 * sizes.min, s"segment sizes ${sizes.sorted.toSeq}")
    val dead = sr.deletesDf.get.select($"segId").distinct().count()
    assert(dead >= 8, s"tombstones in $dead segments")
  }

  test("every collector route, resident and forced scan: == compile route, at most the slots") {
    val slots = spark.sparkContext.defaultParallelism
    val reference = new Searcher(spark, dir)
    for (path <- Seq("resident", "scan")) {
      val sr = new Searcher(spark, dir)
      sr.forceScan = path == "scan"
      // the copy, the tombstones and the field statistics load outside the traces
      sr.topDocs(TermQ("epsilon"), 1)
      for ((name, q, terms) <- routes) {
        val where = s"$name on the $path path"
        val wantHits = key(CompileRoute.topK(reference, q, k))
        val wantCount = reference.compile(q).count()
        assert(wantCount > 0, s"$name matches nothing")
        sr.docFreqs(terms) // the route's df lookups, outside the trace
        // one distinct term on the scan path runs its kernels in the scan's
        // own tasks, one per file split, with no gather to size
        val gathered = path == "resident" || terms.length > 1
        def traced[A](what: String)(f: => A): A = {
          var out: Option[A] = None
          val t = JobGroupTrace(spark.sparkContext, s"uneven-$path-$what") { out = Some(f) }
          if (gathered) assert(t.lastStageTasks <= slots, s"$where: $what ran ${t.lastStageTasks} tasks on $slots slots")
          // these terms hold far fewer postings than one task's share
          if (path == "resident") assert(t.tasks == 1, s"$where: $what ran ${t.tasks} tasks")
          out.get
        }
        assert(key(traced("topDocs")(sr.topDocs(q, k))) == wantHits, s"$where: topDocs")
        val (hits, cnt) = traced("topDocsWithCount")(sr.topDocsWithCount(q, k))
        assert(key(hits) == wantHits && cnt == wantCount, s"$where: topDocsWithCount")
        assert(traced("count")(sr.count(q)) == wantCount, s"$where: count")
      }
    }
  }

  test("several tasks: the copy coalesced, the scan gather reduced, one task's answer") {
    val slots = spark.sparkContext.defaultParallelism
    val reference = new Searcher(spark, dir)
    // each doc holding a term, scored by its summed tf over the terms: ties
    // are frequent, so the per-task merge must keep the global order
    val byTf: SegmentCollect.Kernel = { (g, at) =>
      val tf = scala.collection.mutable.Map.empty[Int, Int]
      for (i <- at if i >= 0; e <- g.entryStart(i) until g.entryEnd(i))
        tf(g.docIds(e)) = tf.getOrElse(g.docIds(e), 0) + g.tfs(e)
      (tf.iterator.map { case (d, f) => Hit(g.segId, d, f.toFloat) }.toArray, tf.size.toLong)
    }
    val asked = Seq(Seq("rareterm"), Seq("alpha", "gamma"), Seq("delta", "rareterm", "epsilon"))
    for (path <- Seq("resident", "scan"); terms <- asked) {
      val sr = new Searcher(spark, dir)
      sr.forceScan = path == "scan"
      sr.topDocs(TermQ("epsilon"), 1) // the copy and the tombstones load outside the traces
      // the copy's partitions: one per (segId, chunk) group
      val groups = sr.indexMeta.get.segments.map(s => (math.max(0L, s.rows - 1) / sr.chunkDocs + 1).toInt).sum
      val want = reference.compile(BoolQ(terms.map(t => Occur.Should -> TermQ(t)))).count()
      val (one, oneCount) = SegmentCollect.collect(sr, terms, positions = false, k, Some(1))(byTf)
      assert(oneCount == want && one.length == math.min(k.toLong, want), s"$path $terms: one task")
      for (n <- Seq(2, slots, 64)) {
        val where = s"$path $terms in $n tasks"
        var out: Option[SegmentCollect.Fruit] = None
        val t = JobGroupTrace(spark.sparkContext, s"uneven-tasks-$path-${terms.mkString}-$n") {
          out = Some(SegmentCollect.collect(sr, terms, positions = false, k, Some(n))(byTf))
        }
        val (hits, cnt) = out.get
        assert(key(hits) == key(one) && cnt == oneCount, where)
        if (path == "resident")
          assert(t.stages == 1 && t.tasks == math.min(n, groups), s"$where: ${t.stages} stages, ${t.tasks} tasks")
        else if (terms.length > 1)
          assert(t.lastStageTasks <= n, s"$where: ${t.lastStageTasks} tasks")
      }
    }
  }
}
