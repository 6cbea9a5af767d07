package perfbench

import java.io.File
import scala.jdk.CollectionConverters._
import graft.GraftIndex
import graft.analysis.Analysis
import graft.query.{QueryParser, Searcher}

/** Per-layer metrics of a traced run, reduced from the tracer's spans and
  * the listener's jobs, stages and tasks, plus a few timed calls made after
  * the measured interval. A metric of a layer the workload does not use
  * reads 0.
  */
object Layers {

  def parquetBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(parquetBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  private def timeMs[A](body: => A): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  /** `merges` holds (bytes written, segments in, segments out) per
    * compaction.
    */
  def record(r: Run, idx: GraftIndex, last: Option[Searcher], buildKinds: Seq[String],
             windowGcMs: Long, merges: Seq[(Double, Double, Double)]): Unit = {
    val t = r.tracer
    val l = t.listener.get

    // tracing overhead: one query per stratum, answered once to warm it,
    // then traced and untraced in alternating order on the last snapshot
    val ratios = last.toSeq.flatMap { sr =>
      r.log.groupBy(_.stratum).values.map(_.minBy(_.qid)).toSeq.sortBy(_.qid)
        .zipWithIndex.flatMap { case (q, i) =>
          r.answer(sr, q)
          val ms = Seq(i % 2 == 0, i % 2 != 0).flatMap { on =>
            t.active = on
            r.query(sr, q, "overhead").map(_ => on -> r.samples.last.ms)
          }.toMap
          if (ms.size == 2 && ms(false) > 0) Some(ms(true) / ms(false)) else None
        }
    }
    t.active = true
    def add(name: String, v: Double, unit: String): Unit = r.layer += Metric(name, v, unit)
    def med(xs: Iterable[Double]): Double = Stats.median(xs)
    def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    // metadata calls on a fresh searcher over the final index
    val t1 = System.nanoTime()
    val sr = idx.searcher
    add("searcher.open_ms", (System.nanoTime() - t1) / 1e6, "ms")
    add("searcher.termdict_cache_ms", timeMs(sr.termdict.count()), "ms")
    val dfQueries = r.log.groupBy(_.stratum).values.flatMap(_.sortBy(_.qid).take(2))
    add("query.df_ms", med(dfQueries.map { q =>
      val terms = Workloads.terms(QueryParser.parse(q.text))
      timeMs(sr.docFreqs(terms))
    }), "ms")
    val sample = r.rows(0, 200).map(_.content)
    var tokens = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) sample.foreach(c => tokens += Analysis.defaultTerms(c).size)
    add("analysis.tokens_per_s", tokens / ((System.nanoTime() - t0) / 1e9), "1/s")

    t.drain()
    val spans = t.spans.toSeq
    val byOp = Trace.jobsByOp(spans, l, t.groupOf)
    val jobSpans = Trace.jobSpans(spans, byOp, spans.map(_.id).maxOption.getOrElse(0))
    val roots = spans.filter(_.parent < 0)
    def rootsOf(kinds: Seq[String]) = roots.filter(s => kinds.contains(s.name))
    def driverSelfMs(root: Span): Double = Stats.selfLength(root.start, root.end,
      byOp(root.op).jobs.map(j => (j.start * 1000000L, j.end * 1000000L))) / 1e6
    val stageSubmit = l.stages.map { case (id, s) => id -> s.submitted }

    // query layers: the parse, the collectors by shape, Spark underneath
    add("query.parse_us", med(spans.filter(_.name == "query.parse").map(_.ns / 1e3)), "us")
    val queries = r.samples.filter(_.kind == "query")
    def shapeP50(pred: QueryLog.Query => Boolean) =
      med(queries.filter(s => s.query.exists(pred)).map(_.ms))
    Seq("term_hot", "term_tail", "disj", "conj", "phrase").foreach { s =>
      add(s"query.$s.p50_ms", shapeP50(_.stratum == s), "ms")
    }
    Seq("top10_count", "count").foreach { c =>
      add(s"query.$c.p50_ms", shapeP50(_.collector.contains(c)), "ms")
    }
    val qRoots = rootsOf(Seq("query"))
    val qJobs = qRoots.map(s => byOp(s.op))
    add("spark.jobs_per_query", mean(qJobs.map(_.jobs.size.toDouble)), "count")
    add("spark.tasks_per_query", mean(qJobs.map(_.tasks.size.toDouble)), "count")
    add("spark.wait_ms_per_query", mean(qJobs.map(_.tasks.map(x =>
      (x.launch - stageSubmit.getOrElse(x.stageId, x.launch)).max(0L).toDouble).sum)), "ms")
    add("driver.self_ms_per_query", med(qRoots.map(driverSelfMs)), "ms")
    add("spark.scan_bytes_per_query", mean(qJobs.map(_.tasks.map(_.inBytes.toDouble).sum)), "bytes")
    // records scanned per top-10 hit returned, over the traced top-k queries
    val topK = queries.filter(s => s.op >= 0 && s.query.exists(_.cmd != graft.bench.QuerySet.Cmd.Count))
    val hitCount = topK.map(_.hits).sum
    val recordsRead = topK.map(s => byOp(s.op).tasks.map(_.inRecords).sum).sum
    add("spark.records_per_hit", if (hitCount > 0) recordsRead.toDouble / hitCount else 0.0, "ratio")
    add("spark.shuffle_bytes_per_query", mean(qJobs.map(_.tasks.map(_.shuffleWrite.toDouble).sum)), "bytes")
    add("spark.executor_cpu_ms_per_query", mean(qJobs.map(_.tasks.map(_.cpuNs / 1e6).sum)), "ms")
    add("spark.task_skew", med(qJobs.flatMap(j => Trace.stageSkews(j.tasks))), "ratio")

    // build layers: job time by the index table each job writes
    val bRoots = rootsOf(buildKinds)
    val bJobs = bRoots.map(s => byOp(s.op))
    Seq("docmap", "postings", "termdict", "stats").foreach { tbl =>
      add(s"build.${tbl}_ms", med(bJobs.map(_.jobs.filter(_.table.contains(tbl))
        .map(j => (j.end - j.start).toDouble).sum)), "ms")
    }
    add("build.other_ms", med(bJobs.map(_.jobs.filter(j => j.table.forall(_ == "deletes"))
      .map(j => (j.end - j.start).toDouble).sum)), "ms")
    add("build.shuffle_bytes", med(bJobs.map(_.tasks.map(_.shuffleWrite.toDouble).sum)), "bytes")
    add("build.spill_bytes", med(bJobs.map(_.tasks.map(_.spill.toDouble).sum)), "bytes")
    add("build.executor_cpu_ms", med(bJobs.map(_.tasks.map(_.cpuNs / 1e6).sum)), "ms")
    add("build.gc_ms", med(bJobs.map(_.tasks.map(_.gcMs.toDouble).sum)), "ms")
    add("build.task_skew", med(bJobs.flatMap(j => Trace.stageSkews(j.tasks))), "ratio")
    add("build.driver_self_ms", med(bRoots.map(driverSelfMs)), "ms")

    // writes beside reads (churn)
    add("deletes.tombstones", r.env.get("tombstones").fold(0.0)(_.toString.toDouble), "count")
    add("deletes.ms", med(r.samples.filter(_.kind == "delete").map(_.ms)), "ms")
    add("merge.bytes_rewritten", med(merges.map(_._1)), "bytes")
    add("merge.segments_in", med(merges.map(_._2)), "count")
    add("merge.segments_out", med(merges.map(_._3)), "count")
    add("merge.compact_p50_s", med(r.samples.filter(_.kind == "compact").map(_.ms / 1e3)), "s")
    Seq("append" -> "index.append_p50_ms", "reopen" -> "searcher.reopen_p50_ms").foreach {
      case (k, n) => add(n, med(r.samples.filter(_.kind == k).map(_.ms)), "ms")
    }

    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    add("jvm.heap_after_gc_mb", heap / 1048576.0, "MB")
    add("jvm.gc_ms", windowGcMs.toDouble, "ms")

    add("trace.overhead_frac", if (ratios.isEmpty) 0.0 else med(ratios) - 1, "ratio")
    add("env.nproc", r.nproc.toDouble, "count")
    add("env.heap_mb", Runtime.getRuntime.maxMemory / 1048576.0, "MB")

    r.spans = spans ++ jobSpans
    r.selfMs = Trace.selfMsByLayer(spans ++ jobSpans)
  }
}
