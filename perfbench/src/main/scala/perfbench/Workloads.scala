package perfbench

import java.io.File
import scala.collection.mutable
import graft.analysis.Analysis
import graft.index.{Manifest, Merger}
import graft.query.{BoolQ, PhraseQ, Query, QueryParser, Searcher, TermQ}

/** The two workloads. Both are a closed loop of one client on one
  * `local[nproc]` session: each operation starts when the previous one has
  * answered.
  */
object Workloads {

  /** Documents in the `search` index and in the `churn` base index. */
  val IndexDocs = 500L
  /** Documents appended by each `churn` cycle. */
  val BatchDocs = 500L
  /** The merge policy of `churn`'s compaction: it merges every segment
    * the appends added into the rest.
    */
  val Compaction: Merger.LogMergePolicy = Merger.LogMergePolicy(minNumSegments = 4)
  /** The timed queries of a `churn` cycle, by stratum. */
  val SliceShape: Seq[(String, Int)] =
    Seq("term_hot" -> 2, "term_tail" -> 2, "disj" -> 4, "conj" -> 4, "phrase" -> 4)

  private def deadline(seconds: Int): Long = System.nanoTime() + seconds * 1000000000L

  /** Log order for replay: strata interleaved in proportion to their sizes,
    * so any prefix of the replay holds the log's mix of query shapes.
    */
  def interleave(log: Seq[QueryLog.Query]): Seq[QueryLog.Query] =
    log.groupBy(_.stratum).values.flatMap { qs =>
      qs.zipWithIndex.map { case (q, i) => ((i + 0.5) / qs.size, q) }
    }.toSeq.sortBy { case (pos, q) => (pos, q.qid) }.map(_._2)

  /** The terms a query looks up in the term dictionary. */
  def terms(q: Query): Seq[String] = q match {
    case TermQ(t) => Seq(t)
    case BoolQ(cs, _) => cs.flatMap(c => terms(c._2))
    case PhraseQ(ts, _) => ts.map(_._2)
    case _ => Seq.empty
  }

  /** `search`: the seeded log replayed against a warm, clean index. The
    * index never changes, so expected answers are computed once, for the
    * whole log, during the warm-up.
    */
  def search(r: Run): Unit = {
    val docs = r.rows(0, IndexDocs)
    val (idx, sr, builds, _) = r.setup(docs)
    // the warm index: every term of the log has its df cached
    sr.docFreqs(r.log.flatMap(q => terms(QueryParser.parse(q.text))))
    val order = interleave(r.log)
    val got = mutable.ArrayBuffer.empty[(QueryLog.Query, Answer, Long)]
    // warm-up, untimed: the client replays the whole log once, checked
    // like the measured queries, while the checker computes the expected
    // answers of the log on its own threads. The measured interval then
    // starts with the JIT warm and every entry's query plans built once.
    r.note("warm-up")
    val expected = new java.util.concurrent.FutureTask(() => r.expected(sr, r.log))
    new Thread(expected, "perfbench-checker").start()
    order.foreach(q => r.query(sr, q, "warmup").foreach(a => got += ((q, a, r.attempted))))
    val want = expected.get()
    r.note("measuring")
    val gc0 = Layers.gcMs()
    val end = deadline(r.opts.seconds)
    var i = 0
    while (System.nanoTime() < end) {
      val q = order(i % order.size)
      r.query(sr, q).foreach(a => got += ((q, a, r.attempted)))
      i += 1
    }
    val gcMs = Layers.gcMs() - gc0
    r.note(s"measured $i queries; checking")
    got.foreach { case (q, a, op) => r.check(op, q, a, want(q.qid), "search") }

    val q = r.samples.filter(_.kind == "query").map(_.ms)
    r.e2e ++= Seq(
      Metric("search_p50_ms", Stats.median(q), "ms"),
      Metric("search_p75_ms", Stats.percentile(q, 75), "ms"),
      Metric("ops_per_s", q.size / (q.sum / 1e3), "1/s"),
      Metric("index_bytes_per_input_byte",
        r.tableBytes(idx.dir).values.sum.toDouble / r.inputBytes(docs), "ratio"))
    r.extra ++= Seq(
      Metric("search_qps", q.size / (q.sum / 1e3), "1/s"),
      Metric("build_docs_per_s", docs.size / Stats.median(builds), "1/s"))
    r.env("queries") = q.size
    r.recordIndex(idx.dir, docs.size)
    if (r.opts.trace) Layers.record(r, idx, Some(sr), Seq("build"), gcMs, Seq.empty)
  }

  /** `churn`: after a warm-up on a spare index, cycles of append, delete,
    * reopen and a 16-query slice of the log, so queries take the tombstone
    * route. The first cycle always runs;
    * another starts when the time left holds one more cycle as long as the
    * last, and every started cycle completes. The traced run also compacts
    * once after the measured interval.
    */
  def churn(r: Run): Unit = {
    val base = r.rows(0, IndexDocs)
    val (idx, _, _, spare) = r.setup(base, keepSpare = true)
    val dir = idx.dir
    val byStratum = r.log.groupBy(_.stratum).map { case (s, qs) => s -> qs.sortBy(_.qid) }
    def pick(s: String, i: Int) = byStratum(s)(i % byStratum(s).size)
    val rng = new java.util.Random(r.opts.seed * 31 + 7)
    /** A tail identifier that occurs in `doc`. */
    def tailTerm(doc: graft.index.SourceFile, rng: java.util.Random): Option[String] = {
      val ts = Analysis.defaultTerms(doc.content).map(_._1).distinct.filter(_.matches("[a-z]+impl\\d+"))
      if (ts.isEmpty) None else Some(ts(rng.nextInt(ts.size)))
    }

    // warm-up on the spare set-up index, untimed: a delete, a reopen and
    // two queries of each shape, so the measured cycles start with the
    // tombstone route compiled
    spare.foreach { w =>
      r.note("warm-up on the spare index")
      val wrng = new java.util.Random(r.opts.seed * 31 + 8)
      val victims = (0 until 2).flatMap(_ => tailTerm(base(wrng.nextInt(base.size)), wrng)).distinct
      w.delete(QueryParser.parse(victims.mkString(" ")))
      val sr = w.searcher
      interleave(byStratum.values.flatMap(_.takeRight(2)).toSeq).foreach(r.answer(sr, _))
      r.rmrf(new File(w.dir))
    }
    var added = base.size.toLong
    var deleted = 0L
    var addedBytes = r.inputBytes(base)
    val appendedDocs = mutable.ArrayBuffer.empty[Long]
    val merges = mutable.ArrayBuffer.empty[(Double, Double, Double)]

    /** Checks the live-doc count after op number `op` committed. */
    def checkLive(op: Long, where: String): Set[(Int, Int)] = {
      val dead = r.tombstones(dir)
      val rows = Manifest.read(dir).totalRows
      if (rows - dead.size != added - deleted)
        r.fail(op, s"$where: ${rows - dead.size} live docs, expected ${added - deleted}")
      dead
    }

    val gc0 = Layers.gcMs()
    val end = deadline(r.opts.seconds)
    var c = 0
    var last: Searcher = null
    r.note("measuring")
    // a cycle starts when the time left holds another cycle as long as the
    // last one, and always completes; the first cycle always runs
    var cycleNs = 0L
    while (c == 0 || System.nanoTime() + cycleNs < end) {
      r.note(s"cycle $c")
      val cycleStart = System.nanoTime()
      val batch = r.rows(IndexDocs + c * BatchDocs, IndexDocs + (c + 1) * BatchDocs)
      val input = r.frame(batch)
      r.timed("append", s"cycle $c")(idx.add(input)).foreach { _ =>
        added += batch.size; addedBytes += r.inputBytes(batch); appendedDocs += batch.size
      }
      // one identifier from this batch and one from anywhere in the index
      val old = rng.nextInt(added.toInt).toLong
      val victims = (tailTerm(batch(rng.nextInt(batch.size)), rng) ++
        tailTerm(r.rows(old, old + 1).head, rng)).toSeq.distinct
      r.timed("delete", s"cycle $c ${victims.mkString(" ")}")(
        idx.delete(QueryParser.parse(victims.mkString(" ")))).foreach(deleted += _)

      // the first query answers the reopen; the rest are timed as queries
      // (term_hot takes one more per cycle, for the reopen)
      val slice = pick("term_hot", 3 * c) +: interleave(SliceShape.flatMap { case (s, n) =>
        val from = if (s == "term_hot") 3 * c + 1 else n * c
        (from until from + n).map(pick(s, _))
      })
      val reopened = r.timed("reopen", s"cycle $c", Some(slice.head)) {
        val sr = r.tracer.span("searcher.open")(idx.searcher)
        (sr, r.answer(sr, slice.head))
      }
      reopened.foreach { case (sr, first) =>
        last = sr
        val got = (slice.head, first, r.attempted) +:
          slice.tail.flatMap(q => r.query(sr, q).map(a => (q, a, r.attempted)))
        r.note(s"cycle $c: checking")
        val want = r.expected(sr, slice)
        val dead = checkLive(got.head._3, s"cycle $c")
        got.foreach { case (q, a, op) =>
          r.check(op, q, a, want(q.qid), s"churn cycle $c")
          a.hits.filter(h => dead((h.segId, h.docId))).foreach { h =>
            r.fail(op, s"churn cycle $c q${q.qid} ${q.entry}: returned tombstoned doc (${h.segId},${h.docId})")
          }
        }
      }
      cycleNs = System.nanoTime() - cycleStart
      c += 1
    }
    val gcMs = Layers.gcMs() - gc0
    r.note("measured; reporting")
    val bytesRatio = r.tableBytes(dir).values.sum.toDouble / addedBytes

    def ms(kind: String) = r.samples.filter(_.kind == kind).map(_.ms)
    val q = ms("query")
    val ops = r.samples.filter(s => Set("append", "delete", "reopen", "query")(s.kind))
    r.e2e ++= Seq(
      Metric("search_p50_ms", Stats.median(q), "ms"),
      Metric("search_p75_ms", Stats.percentile(q, 75), "ms"),
      Metric("ops_per_s", ops.size / (ops.map(_.ms).sum / 1e3), "1/s"),
      Metric("index_bytes_per_input_byte", bytesRatio, "ratio"))
    r.extra ++= Seq(
      Metric("search_qps", q.size / (q.sum / 1e3), "1/s"),
      Metric("build_docs_per_s", appendedDocs.sum / (ms("append").sum / 1e3), "1/s"),
      Metric("append_p50_ms", Stats.median(ms("append")), "ms"),
      Metric("delete_p50_ms", Stats.median(ms("delete")), "ms"),
      Metric("reopen_p50_ms", Stats.median(ms("reopen")), "ms"))
    r.env("cycles") = c
    r.env("queries") = q.size
    r.env("tombstones") = r.tombstones(dir).size
    r.recordIndex(dir, added - deleted)
    if (r.opts.trace) {
      // the merge layer, once per traced run: compaction physically drops
      // the tombstoned docs of the segments it merges
      val before = Manifest.read(dir).segments
      r.timed("compact", "after the measured interval")(idx.compact(Compaction)).foreach { after =>
        val fresh = after.segments.filterNot(s => before.exists(_.segId == s.segId))
        val written = fresh.map(_.batch).distinct.map { b =>
          Seq("postings", "docmap", "termdict", "stats")
            .map(t => Layers.parquetBytes(new File(s"$dir/$t/batch=$b"))).sum
        }.sum
        merges += ((written.toDouble, (before.size - after.segments.size + fresh.size).toDouble,
          fresh.size.toDouble))
        checkLive(r.attempted, "compaction")
      }
      Layers.record(r, idx, Option(last), Seq("append"), gcMs, merges.toSeq)
    }
  }
}
