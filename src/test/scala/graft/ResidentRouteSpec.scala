package graft

import org.apache.spark.JobGroupTrace
import org.apache.spark.sql.functions.{spark_partition_id, sum}
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig}
import graft.query.{BoolQ, Hit, Occur, PhraseQ, Query, SegmentCollect, Searcher, TermQ, TermSetQ}

/** The resident route: a Searcher's cached copy of its field's alive
  * postings answers every top-k collector with one map-side job. On a
  * two-batch, four-segment index with positions and tombstones pinned (every
  * doc of one block, and the lastDoc of another), each collector route
  * gives bit-identical hits and counts on the resident copy, on the forced
  * scan path, and on the compile route; a resident query runs one job of
  * one stage in one task (its terms' postings are far below one task's
  * share) that reads no Parquet and moves no shuffle bytes; and on the
  * scan path a query of one distinct term moves no shuffle bytes, while a
  * multi-term WAND is one gather job. The resident Searcher's df lookups
  * read its driver-side term dictionary: a query over terms it has not
  * seen yet is still one job, a lookup runs none, and every df equals the
  * termdict table's, tombstoned docs counted; a dictionary over its gate
  * on the driver heap leaves df lookups on the termdict table and the
  * collectors on the copy. A group packed from several scan partitions
  * is bit-identical to one packed whole, and with every group merged from
  * such pieces the routes still match the compile route, positions on and
  * off.
  */
class ResidentRouteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val dir: String = tombstoned(withPositions = true)

  /** The test index, with or without positions. */
  private def tombstoned(withPositions: Boolean): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-resident").toString
    val rng = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon")
    // each doc carries its own id token, so a delete can name exact docs
    val docs = (0 until 1200).map { i =>
      val words = (0 until 12).map(_ => vocab(rng.nextInt(vocab.length))) ++
        (if (i % 13 == 0) Seq("rareterm") else Nil) :+ f"id$i%04d"
      ("r", f"p$i%04d", "c", "en", words.mkString(" "))
    }.toDF("repo", "path", "commit", "lang", "content")
    IndexBuilder.build(spark, docs, d,
      IndexConfig(numSegments = 4, buildBatches = 2, withPositions = withPositions,
        extraFields = Seq(FieldDef.STRING("path"))))
    // tombstones: every doc of one full alpha block, and the lastDoc of another
    val clean = new Searcher(spark, d)
    val full = clean.postings.where($"field" === "content" && $"term" === "alpha" && $"blockLen" === 128)
      .select($"segId", $"blockId", $"lastDoc", $"docIds").as[(Int, Int, Int, Array[Int])]
      .collect().sortBy(b => (b._1, b._2))
    assert(full.length >= 2, "alpha needs two full blocks")
    val victims = full(1)._4.map(d => (full(1)._1, d)).toSet + ((full(0)._1, full(0)._3))
    val ids = clean.docmap.select($"segId", $"docId", $"path").as[(Int, Int, String)]
      .collect().collect { case (s, doc, p) if victims((s, doc)) => "id" + p.drop(1) }
    assert(Deletes.deleteByQuery(spark, d, TermSetQ(ids.toSet), "content") == victims.size)
    d
  }

  private lazy val resident = new Searcher(spark, dir)
  private lazy val scan = { val s = new Searcher(spark, dir); s.forceScan = true; s }

  private def key(hs: Array[Hit]): Seq[(Int, Int, Int)] =
    hs.toSeq.map(h => (h.segId, h.docId, java.lang.Float.floatToRawIntBits(h.score)))

  private val k = 50
  private val disj = BoolQ(Seq("alpha", "gamma").map(t => Occur.Should -> TermQ(t)))
  private val routes: Seq[(String, Query)] = Seq(
    "single term" -> TermQ("alpha"),
    "WAND multi-term" -> disj,
    "conjunction" -> BoolQ(Seq("alpha", "beta").map(t => Occur.Must -> TermQ(t))),
    "rare-term conjunction" -> BoolQ(Seq("alpha", "rareterm").map(t => Occur.Must -> TermQ(t))),
    "phrase" -> PhraseQ.of("alpha", "beta"),
    "sloppy phrase" -> PhraseQ(Seq(0 -> "alpha", 1 -> "beta"), slop = 2))

  /** What one query ran: jobs, stages, tasks, RDD names and shuffle bytes. */
  private final case class Shape(jobs: Int, stages: Int, tasks: Int, rdds: Set[String], shuffle: Long) {
    /** The resident route's shape: one job of one stage in one task over
      * the copy `copy`, no Parquet read and no shuffle.
      */
    def isResident(copy: String): Boolean =
      jobs == 1 && stages == 1 && tasks == 1 && rdds(copy) && !rdds("FileScanRDD") && shuffle == 0
  }

  /** Run `f` in its own job group; what it ran. */
  private def shapeOf(name: String)(f: => Any): Shape = {
    val t = JobGroupTrace(spark.sparkContext, s"resident-$name")(f)
    Shape(t.jobs.size, t.stages, t.tasks, t.rdds, t.shuffleBytes)
  }

  private def warm(sr: Searcher): Unit =
    sr.docFreqs(Seq("alpha", "beta", "gamma", "delta", "rareterm"))

  test("every collector route: resident == forced scan == compile route, bit for bit") {
    for ((name, q) <- routes) {
      val want = key(CompileRoute.topK(resident, q, k))
      val wantCount = resident.compile(q).count()
      assert(wantCount > 0, s"$name matches nothing")
      for ((sr, path) <- Seq(resident -> "resident", scan -> "scan")) {
        assert(key(sr.topDocs(q, k)) == want, s"$name topDocs on the $path path")
        val (hits, cnt) = sr.topDocsWithCount(q, k)
        assert(key(hits) == want && cnt == wantCount, s"$name topDocsWithCount on the $path path")
        assert(sr.count(q) == wantCount, s"$name count on the $path path")
      }
    }
    // three terms: WAND sums in scorer order, so the compile route may differ
    // in the last bit, but the two WAND paths may not
    val disj3 = BoolQ(Seq("alpha", "beta", "gamma").map(t => Occur.Should -> TermQ(t)))
    assert(key(resident.topDocs(disj3, k)) == key(scan.topDocs(disj3, k)), "3-term WAND")
    assert(resident.topDocsWithCount(disj3, k)._2 == scan.topDocsWithCount(disj3, k)._2)
    // the copy skipped the whole dead block and the dead lastDoc
    val dead = resident.deletesDf.get.select($"segId", $"docId").as[(Int, Int)].collect().toSet
    assert(!resident.topDocs(TermQ("alpha"), 1200).exists(h => dead((h.segId, h.docId))))
  }

  /** Term `t`'s blocks in `g`, read through the ranges the kernels read:
    * its block range, each block's entry range and, with positions, each
    * entry's CSR range.
    */
  private def blocksOf(g: SegmentCollect.Group, t: String): Seq[SegmentCollect.BlockRow] = {
    val i = g.termIndex(t)
    if (i < 0) Seq.empty
    else (g.termStart(i) until g.termStart(i + 1)).map { b =>
      val es = g.docStart(b) until g.docStart(b + 1)
      val (pf, pl) =
        if (!g.hasPositions) (Array.emptyIntArray, Array.emptyIntArray)
        else (es.flatMap(e => g.posFlat.slice(g.posStart(e), g.posStart(e + 1))).toArray,
          es.map(e => g.posStart(e + 1) - g.posStart(e)).toArray)
      SegmentCollect.BlockRow(g.segId, t, g.blockIds(b), g.lastDocs(b), g.maxNormIds(b), g.maxTfs(b),
        es.map(g.docIds).toArray, es.map(g.tfs).toArray, es.map(g.normIds).toArray, pf, pl)
    }
  }

  test("packed groups: pieces from several scan partitions merge bit-identically") {
    // a group packed whole == the same group merged from interleaved pieces,
    // and a term's blocks come back as scanned, bit for bit
    def flat(r: SegmentCollect.BlockRow) = (r.segId, r.term, r.blockId, r.lastDoc, r.maxNormId, r.maxTf,
      r.docIds.toSeq, r.tfs.toSeq, r.normIds.toSeq, r.posFlat.toSeq, r.posLens.toSeq)
    val terms = Seq("alpha", "beta", "rareterm", "id0001")
    for (positions <- Seq(true, false)) {
      val rows = SegmentCollect.scan(scan, terms, positions).collect().filter(_.segId == 0)
      val whole = SegmentCollect.Group.pack(0, positions, rows)
      val pieces = (0 until 3).map(i => SegmentCollect.Group.pack(0, positions,
        rows.zipWithIndex.collect { case (r, j) if j % 3 == i => r }))
      val merged = SegmentCollect.Group.merge(pieces)
      assert(merged.rows.map(flat).toSeq == whole.rows.map(flat).toSeq, s"positions $positions: merge")
      for (t <- terms :+ "zzabsent") {
        val want = rows.filter(_.term == t).sortBy(_.blockId).map(flat).toSeq
        assert(blocksOf(merged, t).map(flat) == want, s"positions $positions: $t's blocks")
      }
    }
  }

  test("groups from several scan partitions, positions on and off: resident == forced scan == compile route") {
    for (positions <- Seq(true, false)) {
      // small row groups read in small splits: every segment's blocks come
      // from two or more scan partitions, so each group of the copy and of
      // the scan path's gather is merged from packed pieces
      val d = {
        sys.props("graft.postings.rowgroup.bytes") = "4096"
        try tombstoned(positions) finally sys.props -= "graft.postings.rowgroup.bytes"
      }
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      try {
        val res = new Searcher(spark, d)
        val sc = { val s = new Searcher(spark, d); s.forceScan = true; s }
        val parts = res.postings.where($"field" === "content")
          .select($"segId", spark_partition_id().as("p")).distinct()
          .groupBy($"segId").count().as[(Int, Long)].collect()
        assert(parts.length == 4 && parts.forall(_._2 >= 2), s"scan partitions per segment: ${parts.toSeq}")
        for ((name, q) <- routes if positions || !q.isInstanceOf[PhraseQ]) {
          val want = key(CompileRoute.topK(res, q, k))
          val wantCount = res.compile(q).count()
          assert(wantCount > 0, s"$name matches nothing")
          for ((sr, path) <- Seq(res -> "resident", sc -> "scan")) {
            val where = s"$name on the $path path, positions $positions"
            assert(key(sr.topDocs(q, k)) == want, s"$where: topDocs")
            val (hits, cnt) = sr.topDocsWithCount(q, k)
            assert(key(hits) == want && cnt == wantCount, s"$where: topDocsWithCount")
            assert(sr.count(q) == wantCount, s"$where: count")
          }
        }
        assert(spark.sparkContext.getRDDStorageInfo.exists(_.name == s"resident postings $d content"),
          s"positions $positions: no resident copy")
      } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("a resident query is one job of one stage: no Parquet read, no shuffle") {
    warm(resident)
    resident.topDocs(TermQ("alpha"), k) // builds the copy
    val name = s"resident postings $dir content"
    val copy = spark.sparkContext.getRDDStorageInfo.filter(_.name == name)
    assert(copy.length == 1, "one resident copy")
    // one partition per (segId, chunk): four segments, one chunk each
    assert(copy.head.numPartitions == 4 && copy.head.numCachedPartitions == 4 && copy.head.memSize > 0)
    val asked: Seq[(String, () => Any)] = routes.flatMap { case (name, q) => Seq(
      s"$name topDocs" -> (() => resident.topDocs(q, k)),
      s"$name topDocsWithCount" -> (() => resident.topDocsWithCount(q, k)),
      s"$name count" -> (() => resident.count(q)))
    }
    for ((what, run) <- asked) {
      // a single term's count with deletes pinned counts the copy's entries;
      // every query's terms hold far fewer postings than one task's share
      val shape = shapeOf(what)(run())
      assert(shape.isResident(name), s"$what: $shape")
    }
    // the forced scan path reads Parquet and shuffles
    warm(scan)
    val viaScan = shapeOf("scan")(scan.topDocs(disj, k))
    assert(viaScan.rdds("FileScanRDD") && viaScan.shuffle > 0, s"scan path: $viaScan")
  }

  test("scan path: one-term queries shuffle nothing, a 2-term WAND is one job") {
    // one distinct term needs no gather, the tombstoned count and a
    // one-term phrase included
    val phrase = PhraseQ.of("alpha", "alpha")
    val oneTerm: Seq[(String, () => Any)] = Seq(
      "single term topDocs" -> (() => scan.topDocs(TermQ("alpha"), k)),
      "single term topDocsWithCount" -> (() => scan.topDocsWithCount(TermQ("alpha"), k)),
      "single term count" -> (() => scan.count(TermQ("alpha"))),
      "one-term phrase topDocs" -> (() => scan.topDocs(phrase, k)))
    warm(scan)
    oneTerm.foreach(_._2()) // the first query reads the tombstones
    for ((what, run) <- oneTerm) {
      val shape = shapeOf(s"scan $what")(run())
      assert(shape.jobs == 1 && shape.rdds("FileScanRDD") && shape.shuffle == 0, s"$what: $shape")
    }
    val wantCount = resident.compile(phrase).count()
    assert(wantCount > 0, "the one-term phrase matches nothing")
    assert(key(scan.topDocs(phrase, k)) == key(CompileRoute.topK(resident, phrase, k)))
    assert(scan.count(phrase) == wantCount && resident.count(phrase) == wantCount)
    // several terms: one gather job of two stages, with no threshold probe
    val wand = shapeOf("scan WAND")(scan.topDocs(disj, k))
    assert(wand.jobs == 1 && wand.stages == 2 && wand.shuffle > 0, s"2-term WAND: $wand")
  }

  test("an unwarmed resident Searcher: unseen terms cost no df job, an absent term no job") {
    val absent = TermQ("zzabsent")
    for ((name, q) <- routes) {
      // a fresh Searcher per route, opened on a term no route uses: the
      // copy, the dictionary, the tombstones and the field statistics load
      val cold = new Searcher(spark, dir)
      cold.topDocs(TermQ("epsilon"), 1)
      val asked: Seq[(String, () => Any)] = Seq(
        s"$name topDocs" -> (() => cold.topDocs(q, k)),
        s"$name topDocsWithCount" -> (() => cold.topDocsWithCount(q, k)),
        s"$name count" -> (() => cold.count(q)))
      for ((what, run) <- asked) {
        val shape = shapeOf(s"cold $what")(run())
        assert(shape.isResident(s"resident postings $dir content"), s"cold $what: $shape")
      }
      if (name == "single term") {
        val none: Seq[(String, () => Any)] = Seq(
          "absent count" -> (() => assert(cold.count(absent) == 0L)),
          "absent topDocs" -> (() => assert(cold.topDocs(absent, k).isEmpty)),
          "absent conjunction" -> (() => assert(cold.count(BoolQ(Seq(
            Occur.Must -> TermQ("alpha"), Occur.Must -> absent))) == 0L)),
          "absent docFreqs" -> (() => assert(cold.docFreqs(Seq("zzabsent", "zzother")).isEmpty)),
          "unseen docFreqs" -> (() => cold.docFreqs(Seq("delta", "rareterm", "id0001"))))
        for ((what, run) <- none) {
          val shape = shapeOf(s"cold $what")(run())
          assert(shape.jobs == 0, s"cold $what: $shape")
        }
      }
    }
  }

  test("df parity: driver dictionary == termdict table, tombstones, absent and duplicate terms") {
    // a fresh dictionary Searcher and a fresh table Searcher
    val dict = new Searcher(spark, dir)
    dict.docFreqs(Seq("alpha")) // loads the dictionary
    val table = new Searcher(spark, dir)
    table.forceScan = true
    val all = table.allTerms.as[String].collect().toSeq.sorted
    assert(all.length > 1200, s"${all.length} terms")
    val asked = all ++ Seq("zzabsent", "", "ALPHA") ++ all.take(5) ++ Seq("alpha", "alpha")
    val fromTable = table.docFreqs(asked)
    val lookups = shapeOf("dictionary docFreqs")(assert(dict.docFreqs(asked) == fromTable))
    assert(lookups.jobs == 0, s"dictionary lookups: $lookups")
    val want = table.termdict.where($"field" === "content").groupBy($"term").agg(sum($"docFreq"))
      .as[(String, Long)].collect().toMap
    assert(dict.docFreqs(asked) == want)
    for (t <- asked.take(50) ++ asked.takeRight(10))
      assert(dict.docFreq("content", t) == table.docFreq("content", t), t)
    // tombstoned docs still count, as in the table
    val liveAlpha = dict.compile(TermQ("alpha")).count()
    assert(dict.docFreq("content", "alpha") > liveAlpha)
    def bits(ws: Map[String, graft.score.Bm25.Weight]) = ws.map { case (t, w) =>
      t -> (java.lang.Float.floatToRawIntBits(w.weight), w.cache.toSeq.map(java.lang.Float.floatToRawIntBits),
        java.lang.Float.floatToRawIntBits(w.avgFieldnorm)) }
    assert(bits(dict.weightsFromProvider(dict, asked)) == bits(table.weightsFromProvider(table, asked)))
    // another field reads the termdict table on both
    val paths = (0 until 1200 by 7).map(i => f"p$i%04d") ++ Seq("zz", "p0007")
    val dictPaths = dict.docFreqs(paths, "path")
    assert(dictPaths == table.docFreqs(paths, "path"))
    assert(dictPaths.size == 172 && dictPaths.values.forall(_ == 1L), dictPaths)
  }

  test("a dictionary over its driver gate: the copy stays, df lookups read the termdict table") {
    val dict = new Searcher(spark, dir)
    val over = new Searcher(spark, dir)
    over.driverMemory = 1L // no dictionary fits in a one-byte driver heap
    val asked = Seq("alpha", "beta", "rareterm", "zzabsent", "alpha", "id0001")
    val first = shapeOf("over the gate docFreqs")(assert(over.docFreqs(asked) == dict.docFreqs(asked)))
    assert(first.jobs >= 1, "a df lookup over the gate reads the termdict table")
    val again = shapeOf("over the gate repeat")(over.docFreqs(asked))
    assert(again.jobs == 0, s"a repeat lookup: $again")
    for (t <- asked) assert(over.docFreq("content", t) == dict.docFreq("content", t), t)
    // the collectors still read the resident copy, with the same answers
    for ((name, q) <- routes) {
      val (hits, cnt) = over.topDocsWithCount(q, k)
      val (want, wantCount) = dict.topDocsWithCount(q, k)
      assert(key(hits) == key(want) && cnt == wantCount, s"$name over the dictionary gate")
    }
    // the resolved dfs size the query's tasks as the dictionary's would
    over.docFreqs(Seq("epsilon"))
    val query = shapeOf("over the gate query")(over.topDocs(TermQ("epsilon"), k))
    assert(query.isResident(s"resident postings $dir content"), s"over the gate: $query")
  }

  test("a Searcher without a manifest takes the scan path: same answers") {
    // a copy of the index minus its manifest; no segment was merged away,
    // so the unpinned Searcher sees the same segments and tombstones
    val src = java.nio.file.Paths.get(dir)
    val bare = java.nio.file.Files.createTempDirectory("graft-bare")
    java.nio.file.Files.walk(src).forEach { p =>
      val rel = src.relativize(p)
      if (rel.toString.nonEmpty && !rel.startsWith("_meta"))
        java.nio.file.Files.copy(p, bare.resolve(rel.toString))
    }
    val sr = new Searcher(spark, bare.toString)
    assert(sr.indexMeta.isEmpty)
    for ((name, q) <- routes) {
      val (hits, cnt) = sr.topDocsWithCount(q, k)
      val (want, wantCount) = resident.topDocsWithCount(q, k)
      assert(key(hits) == key(want) && cnt == wantCount, s"$name without a manifest")
    }
  }
}
