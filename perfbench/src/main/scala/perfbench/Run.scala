package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Graft, GraftIndex}
import graft.bench.CorpusGen
import graft.bench.QuerySet.Cmd
import graft.index.{IndexConfig, Manifest, SourceFile}
import graft.query.{Hit, QueryParser, Searcher}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

final case class Metric(name: String, value: Double, unit: String)

/** A query's answer: top-10 hits (empty for COUNT) and the hit count (-1
  * for TOP_10).
  */
final case class Answer(hits: Seq[Hit], count: Long) {
  /** Bit-for-bit: addresses, raw f32 score bits and count. */
  def key: (Seq[(Int, Int, Int)], Long) =
    (hits.map(h => (h.segId, h.docId, java.lang.Float.floatToRawIntBits(h.score))), count)
  override def toString: String =
    hits.map(h => s"(${h.segId},${h.docId},${h.score})").mkString("[", " ", "]") + s" count=$count"
}

/** One timed client operation. `op` is the tracer's op id (-1 untraced);
  * `attempt` numbers the ops of the run.
  */
final case class OpSample(kind: String, ms: Double, op: Int,
    query: Option[QueryLog.Query] = None, hits: Int = 0, attempt: Long = 0)

/** State shared by the workloads of one benchmark run: the session, the
  * tracer, the failure list and the inputs generated from the seed.
  */
final class Run(val spark: SparkSession, val opts: Opts) {
  import spark.implicits._

  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(spark.sparkContext, opts.trace)
  val cfg: IndexConfig = IndexConfig(numSegments = 4)
  val SetupReps = 3
  /** The query log, with tail identifiers drawn from the indexed corpus. */
  val log: Seq[QueryLog.Query] = QueryLog.sample(opts.seed,
    QueryLog.identifiers(rows(0, Workloads.IndexDocs).map(_.content)))

  val samples = mutable.ArrayBuffer.empty[OpSample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val e2e = mutable.ArrayBuffer.empty[Metric]
  val layer = mutable.ArrayBuffer.empty[Metric]
  /** Workload-specific end-to-end figures, printed but not gated. */
  val extra = mutable.ArrayBuffer.empty[Metric]
  val env = mutable.LinkedHashMap.empty[String, Any]
  /** Spans of a traced run (benchmark spans and Spark jobs) and the self
    * time per layer reduced from them.
    */
  var spans: Seq[Span] = Seq.empty
  var selfMs: Map[String, Double] = Map.empty

  /** Ops (by attempt number) that threw or answered wrong. */
  val failedOps = mutable.Set.empty[Long]

  /** Records a failing entry against op number `op`. */
  def fail(op: Long, msg: String): Unit = { failures += msg; failedOps += op }

  private val started = System.nanoTime()
  /** Progress on stderr, stamped with seconds since the run started. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.1f s] $msg")

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(); ()
  }

  // ---- inputs ----

  def rows(from: Long, until: Long): Seq[SourceFile] =
    (from until until).map(CorpusGen.row(opts.seed, _))

  def inputBytes(docs: Seq[SourceFile]): Long =
    docs.map(_.content.getBytes("UTF-8").length.toLong).sum

  def frame(docs: Seq[SourceFile]): DataFrame = spark.createDataset(docs).toDF()

  // ---- timed client operations ----

  /** Times `body` as one client operation of `kind`; a throw counts as a
    * failed op and yields None.
    */
  def timed[A](kind: String, label: => String, query: Option[QueryLog.Query] = None)
              (body: => A): Option[A] = {
    attempted += 1
    try {
      val (r, ns, op) = tracer.op(kind)(body)
      samples += OpSample(kind, ns / 1e6, op, query, attempt = attempted)
      note(f"$kind ${ns / 1e6}%.0f ms $label")
      Some(r)
    } catch {
      case e: Exception =>
        fail(attempted, s"$kind $label threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Parse and answer one log entry through the Searcher's collectors. */
  def answer(sr: Searcher, q: QueryLog.Query): Answer = {
    val query = tracer.span("query.parse")(QueryParser.parse(q.text))
    tracer.span("query.collect")(q.cmd match {
      case Cmd.Top10 => Answer(sr.topDocs(query, 10).toSeq, -1L)
      case Cmd.Top10Count =>
        val (hits, count) = sr.topDocsWithCount(query, 10)
        Answer(hits.toSeq, count)
      case Cmd.Count => Answer(Seq.empty, sr.count(query))
    })
  }

  def query(sr: Searcher, q: QueryLog.Query, kind: String = "query"): Option[Answer] = {
    val a = timed(kind, s"q${q.qid} ${q.entry}", Some(q))(answer(sr, q))
    a.foreach(x => samples(samples.size - 1) = samples.last.copy(hits = x.hits.size))
    a
  }

  /** Expected answers through the generic `Searcher.compile` route:
    * top-10 by (score desc, segId, docId) and the full match count of every
    * query. The checker runs outside the measured interval, on `nproc`
    * threads.
    */
  def expected(sr: Searcher, qs: Seq[QueryLog.Query]): Map[Int, Answer] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try {
      val futures = qs.map(q => pool.submit(() => expectedOne(sr, q)))
      qs.zip(futures).map { case (q, f) => q.qid -> f.get() }.toMap
    } finally pool.shutdown()
  }

  private def expectedOne(sr: Searcher, q: QueryLog.Query): Answer = {
    // every match in one job (at most the index's few thousand docs),
    // ordered and counted on the driver
    val matches = sr.compile(QueryParser.parse(q.text)).select("segId", "docId", "score")
      .as[(Int, Int, Float)].collect()
    def top = matches.sortWith { case ((s1, d1, sc1), (s2, d2, sc2)) =>
      if (sc1 != sc2) sc1 > sc2 else if (s1 != s2) s1 < s2 else d1 < d2
    }.take(10).toSeq.map { case (s, d, sc) => Hit(s, d, sc) }
    q.cmd match {
      case Cmd.Top10 => Answer(top, -1L)
      case Cmd.Top10Count => Answer(top, matches.length.toLong)
      case Cmd.Count => Answer(Seq.empty, matches.length.toLong)
    }
  }

  def check(op: Long, q: QueryLog.Query, got: Answer, want: Answer, where: String): Unit =
    if (got.key != want.key)
      fail(op, s"$where q${q.qid} ${q.entry}: got $got, expected $want")

  // ---- index set-up and sizes ----

  /** Builds `docs` into `dir` and opens a warm searcher (statistics and the
    * term dictionary cache loaded). Returns the index, its searcher and the
    * build wall time in seconds.
    */
  def buildIndex(docs: Seq[SourceFile], dir: File): (GraftIndex, Searcher, Double) = {
    rmrf(dir)
    val input = frame(docs)
    val t0 = System.nanoTime()
    val idx = timed("build", dir.getName)(Graft.build(spark, input, dir.toString, cfg))
      .getOrElse(throw new IllegalStateException(s"set-up build of $dir failed"))
    val buildS = (System.nanoTime() - t0) / 1e9
    val sr = idx.searcher
    sr.totalNumDocs
    sr.termdict.count()
    (idx, sr, buildS)
  }

  /** Set-up, repeated [[SetupReps]] times; reports `setup_s` as the median
    * and checks that every build yields identical segments. With
    * `keepSpare`, the first build's index is kept and returned as a spare
    * for warm-up.
    */
  def setup(docs: Seq[SourceFile], keepSpare: Boolean = false)
      : (GraftIndex, Searcher, Seq[Double], Option[GraftIndex]) = {
    val runs = (0 until SetupReps).map { r =>
      note(s"set-up $r: building ${docs.size} docs")
      val t0 = System.nanoTime()
      val (idx, sr, buildS) = buildIndex(docs, new File(opts.work, s"setup-$r"))
      (idx, sr, buildS, (System.nanoTime() - t0) / 1e9)
    }
    val shapes = runs.map { case (idx, _, _, _) =>
      val m = idx.meta
      (m.totalRows, m.segments.map(s => (s.segId, s.rows)).sortBy(_._1))
    }
    val builds = samples.filter(_.kind == "build").takeRight(SetupReps).map(_.attempt)
    shapes.zip(builds).tail.foreach { case (s, op) =>
      if (s != shapes.head) fail(op, s"set-up build: segments $s differ from the first build's ${shapes.head}")
    }
    if (shapes.head._1 != docs.size)
      fail(builds.head, s"set-up build: totalRows ${shapes.head._1} != ${docs.size} docs")
    val spare = if (keepSpare) Some(runs.head._1) else None
    runs.init.drop(spare.size).foreach { case (idx, _, _, _) => rmrf(new File(idx.dir)) }
    e2e += Metric("setup_s", Stats.median(runs.map(_._4)), "s")
    val (idx, sr, _, _) = runs.last
    (idx, sr, runs.map(_._3), spare)
  }

  /** On-disk bytes of each index table over the manifest's live batches. */
  def tableBytes(dir: String): Map[String, Long] = {
    val batches = Manifest.read(dir).segments.map(_.batch).distinct
    Seq("postings", "docmap", "termdict", "stats").map { t =>
      t -> batches.map(b => Layers.parquetBytes(new File(s"$dir/$t/batch=$b"))).sum
    }.toMap + ("deletes" -> Layers.parquetBytes(new File(s"$dir/deletes")))
  }

  /** Tombstoned addresses on live segments. */
  def tombstones(dir: String): Set[(Int, Int)] = {
    val live = Manifest.read(dir).segments.map(_.segId)
    if (!new File(s"$dir/deletes").exists() || live.isEmpty) Set.empty
    else spark.read.parquet(s"$dir/deletes").where($"segId".isin(live: _*))
      .select($"segId", $"docId").as[(Int, Int)].collect().toSet
  }

  def recordIndex(dir: String, docs: Long): Unit = {
    val bytes = tableBytes(dir)
    val meta = Manifest.read(dir)
    val limit = spark.conf.getOption("graft.termdict.cacheBytes").map(_.toLong).getOrElse(256L << 20)
    Seq("postings", "docmap", "termdict", "stats").foreach { t =>
      layer += Metric(s"index.${t}_bytes", bytes(t).toDouble, "bytes")
    }
    layer += Metric("index.live_segments", meta.segments.size.toDouble, "count")
    layer += Metric("index.termdict_cache_frac", bytes("termdict").toDouble / limit, "ratio")
    env("index_docs") = docs
    env("index_rows") = meta.totalRows
    env("index_table_bytes") = bytes
    env("live_segments") = meta.segments.size
    env("termdict_bytes") = bytes("termdict")
    env("termdict_cache_bytes") = limit
  }
}
