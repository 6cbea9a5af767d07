package graft.query

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.score.Bm25

final case class ScoredDoc(segId: Int, docId: Int, score: Float)
final case class Hit(segId: Int, docId: Int, score: Float)

/** A pinned view over one committed index (the reference `Searcher`,
  * `src/core/searcher.rs`): global BM25 statistics are summed across
  * segments (`bm25.rs:25-48`) on the driver. When the field fits the
  * resident gate (see [[postings]]), the top-k collectors run executor
  * kernels over a resident copy of the field's postings, and the Searcher
  * holds its field's term dictionary on the driver when that fits too, so
  * a df lookup is a map read; otherwise df lookups read the cached
  * termdict table and the collectors a pruned scan. [[compile]] is a
  * Catalyst Dataset pipeline over the segment tables.
  *
  * All scoring on the tantivy-parity path is single-precision float in the
  * reference operation order; per-document combination across clauses sums in
  * clause order (deterministic), since float addition is not associative.
  */
class Searcher(val spark: SparkSession, val indexDir: String,
               val field: String = "content",
               val store: graft.index.SegmentStore = null)
    extends graft.score.Bm25StatisticsProvider {
  import spark.implicits._

  /** The storage seam (SURVEY §7): all component reads resolve through a
    * [[graft.index.SegmentStore]]; default = the builder's Parquet layout.
    */
  private val segStore: graft.index.SegmentStore =
    Option(store).getOrElse(new graft.index.ParquetSegmentStore(indexDir))

  /** The pinned snapshot: only segments named by the manifest are visible
    * (merged-away segments' files stay on disk until GC, like the
    * reference's immutable segments + meta.json, `ARCHITECTURE.md:41-53`).
    */
  val indexMeta: Option[graft.index.Manifest.IndexMeta] =
    if (graft.index.Manifest.exists(indexDir))
      Some(graft.index.Manifest.read(indexDir))
    else None

  val liveSegIds: Seq[Int] = indexMeta.map(_.segments.map(_.segId)).getOrElse(Seq.empty)

  /** Searcher generation id (`reader/warming.rs` SearcherGeneration): a
    * stable fingerprint of the pinned snapshot — the live segment set plus
    * the delete tombstone state — used by [[Warmer.garbageCollect]] to
    * discard per-generation warmed state.
    */
  lazy val generation: Long = {
    val delStamp = graft.index.Deletes.stamp(indexDir)
    liveSegIds.sorted.foldLeft(delStamp)((h, s) => h * 1000003L + s)
  }

  private def pin(df: DataFrame): DataFrame =
    if (liveSegIds.nonEmpty) df.where($"segId".isin(liveSegIds: _*)) else df

  /** postings/docmap are not cached as tables: queries predicate on
    * (field, term) / (segId, docId), and leaving them as plain Parquet scans
    * keeps Catalyst pushing those filters into the scan (PushedFilters +
    * row-group min/max pruning on the sort order the builder wrote).
    * termdict (about 0.4x the postings' bytes on the `churn` benchmark
    * index, 361,171 vs 860,995) and stats are cached tables: stats serve
    * the N lookups, termdict the df lookups above the resident gate and the
    * term-dictionary expansions.
    *
    * The collectors' kernels reach the field's postings only through
    * [[SegmentCollect.collect]], which reads the [[resident]] copy instead
    * when it fits: built once per Searcher, on its first collector query,
    * and cached `MEMORY_ONLY` in one partition per (segId, chunk)
    * ([[SegmentCollect.buildResident]]). A query does not run a task per
    * partition: it coalesces them into one task per
    * [[SegmentCollect.MinTaskPostings]] postings of its terms' summed dfs
    * ([[postingsWork]]), at least one and at most the task slots — one
    * task for a small query, the slots for a large one.
    * The copy's gate ([[fits]]): the postings table's on-disk bytes times
    * [[Searcher.ResidentExpansion]] must fit [[Searcher.ResidentShare]] of
    * the storage memory Spark reports. Above it — at the north star's
    * scale a per-Searcher copy of every posting is unaffordable — every
    * query takes the pruned scan path, whose gather reduces into as many
    * tasks by the same rule, and every df lookup of unseen terms a
    * termdict job; below it the driver term dictionary ([[dict]]) answers
    * df lookups when it passes its own gate on the driver heap. The copy
    * lives as long as the Searcher: once
    * the Searcher is unreachable, Spark's `ContextCleaner` unpersists it
    * (and the block manager may evict it earlier under memory pressure; an
    * evicted partition is rebuilt from the build's shuffle output).
    *
    * `allPostings` and `docmap` are the pinned tables as written, tombstoned
    * docs included: by-address reads (`fetch`, `mltSelect`, `Explain`,
    * `Engine.addressOf`) use them. Every query reads [[postings]], the alive
    * view, or the resident copy made from it.
    */
  private[query] lazy val allPostings: DataFrame = pin(segStore.read(spark, "postings"))
  lazy val docmap: DataFrame = pin(segStore.read(spark, "docmap"))

  /** Delete tombstones (`segment.<opstamp>.del` analog): an optional
    * `(segId, docId)` table, read only by [[deadDocs]]. Compaction happens
    * on merge, like the reference.
    */
  lazy val deletesDf: Option[DataFrame] =
    if (segStore.exists(spark, "deletes")) Some(pin(segStore.read(spark, "deletes")))
    else None

  /** Each pinned segment's tombstoned docIds, sorted — the per-segment alive
    * bitset of `src/fastfield/alive_bitset.rs:20`, read once per Searcher
    * and broadcast. None when no pinned segment has a tombstone.
    */
  private lazy val deadDocs: Option[Broadcast[Map[Int, Array[Int]]]] =
    deletesDf.flatMap { d =>
      val dead = d.select($"segId", $"docId").as[(Int, Int)].collect()
        .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).distinct.sorted }
      if (dead.isEmpty) None else Some(spark.sparkContext.broadcast(dead))
    }

  private def aliveUdf(dead: Broadcast[Map[Int, Array[Int]]]) =
    udf((seg: Int, doc: Int) =>
      dead.value.get(seg).forall(ds => java.util.Arrays.binarySearch(ds, doc) < 0))

  /** The alive view of the postings, the one place tombstones are applied:
    * each block row keeps only its live entries of `docIds`/`tfs`/`normIds`/
    * `positions`, `lastDoc` and `blockLen` are recomputed, and blocks left
    * empty drop. `maxNormId`/`maxTf` stay the parent block's, still an upper
    * bound over any subset of it, so every block-max skip and block filter
    * stays sound. Each column is its own expression over the scan, so the
    * (field, term) predicates still push into it and a query that does not
    * select `positions` does not read it. Only rows whose
    * [docIds(0), lastDoc] span holds a dead doc are rewritten. On a clean
    * index this is [[allPostings]] itself.
    */
  lazy val postings: DataFrame = deadDocs.fold(allPostings) { dead =>
    val alive = aliveUdf(dead)
    val touched = udf { (seg: Int, first: Int, last: Int) =>
      dead.value.get(seg).exists { ds =>
        val i = java.util.Arrays.binarySearch(ds, first)
        val at = if (i >= 0) i else -i - 1
        at < ds.length && ds(at) <= last
      }
    }
    // input columns by reference: the outputs reuse their names, and a
    // by-name reference inside a lambda could resolve to an output alias
    val in = allPostings
    val hit = touched(in("segId"), in("docIds")(0), in("lastDoc"))
    def live(c: String): Column =
      when(hit, filter(in(c), (_, i) => alive(in("segId"), element_at(in("docIds"), i + 1))))
        .otherwise(in(c))
    val docIds = live("docIds")
    in.select(in.columns.toSeq.map {
      case c @ ("docIds" | "tfs" | "normIds" | "positions") => live(c).as(c)
      case "lastDoc" => when(hit, array_max(docIds)).otherwise(in("lastDoc")).as("lastDoc")
      case "blockLen" => size(docIds).as("blockLen")
      case c => in(c)
    }: _*).where(size($"docIds") > 0)
  }

  /** Test seam: true before the first collector query or df lookup sends
    * every collector down the scan path and every df lookup to the termdict
    * table, as when the field does not fit the gate.
    */
  private[graft] var forceScan: Boolean = false

  /** Test seam: the docId-range chunk width that cuts both the resident
    * copy (set it before the first collector query) and the scan path's
    * gather ([[SegmentCollect]]).
    */
  private[graft] var chunkDocs: Int = SegmentCollect.DefaultChunkDocs

  /** Test seam: the driver heap the dictionary gate ([[dict]]) weighs. */
  private[graft] var driverMemory: Long = Runtime.getRuntime.maxMemory

  /** The resident copy of this field's alive postings, built on first use
    * when it passes the gate; None means the scan path.
    */
  private[query] lazy val resident: Option[SegmentCollect.Groups] =
    if (fits) Some(SegmentCollect.buildResident(this, positions = indexMeta.exists(_.withPositions)))
    else None

  /** The resident copy's gate (see [[postings]]), decided once per Searcher. */
  private lazy val fits: Boolean = !forceScan && indexMeta.nonEmpty && {
    val need = segStore.bytes(spark, "postings").toDouble * Searcher.ResidentExpansion
    need <= spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum * Searcher.ResidentShare
  }

  /** This field's term dictionary on the driver ([[TermDict.load]]: one job
    * over the pinned termdict Parquet, filtered to the field), loaded on
    * first use when the field passes the resident copy's gate ([[fits]])
    * and the dictionary its own, weighed on the JVM that holds it: the
    * termdict table's bytes times [[Searcher.DictExpansion]], the driver's
    * peak while loading, must fit [[Searcher.DictShare]] of the driver
    * heap, and, as that peak holds the serialized results too,
    * `spark.driver.maxResultSize`. Otherwise, and when the load fails, df
    * lookups read the termdict table.
    */
  private lazy val dict: Option[TermDict] = {
    val need = segStore.bytes(spark, "termdict").toDouble * Searcher.DictExpansion
    val maxResult = spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")
    if (!fits || need > driverMemory * Searcher.DictShare ||
        (maxResult > 0 && need > maxResult)) None
    else scala.util.Try(TermDict.load(pin(segStore.read(spark, "termdict")).where($"field" === field)
      .select($"term", $"docFreq").as[(String, Long)])).toOption
  }

  /** The docmap rows of live docs: what the docmap-driven leaves (AllQ,
    * RangeQ, ExistsQ) match.
    */
  private lazy val liveDocmap: DataFrame =
    deadDocs.fold(docmap)(dead => docmap.where(aliveUdf(dead)($"segId", $"docId")))

  /** termdict is the hot metadata path (per-query df/N lookups), so cache
    * it — but SIZE-AWARE: at 10^12 files the term dictionary is itself
    * TB-scale, and a blanket `.cache()` would force a full materialization
    * on first touch and then scan every cached partition per lookup. Below
    * `graft.termdict.cacheBytes` (default 256 MB) it is cached with a
    * partition count proportional to its bytes (~32 MB per cached
    * partition — the task count IS the cost of a metadata lookup at
    * interactive latency); above the threshold it stays a plain Parquet
    * scan, where the (field, term) predicates of [[docFreqs]] remain
    * PUSHED into the scan and the builder's term-major sort makes the
    * row-group min/max stats on `term` tight ranges (the FST-seek analog).
    * repartition (not coalesce): coalesce propagates upstream and would
    * collapse the first materialization scan itself to few tasks.
    */
  lazy val termdict: DataFrame = {
    val raw = pin(segStore.read(spark, "termdict"))
    val limit = spark.conf.getOption("graft.termdict.cacheBytes")
      .map(_.toLong).getOrElse(256L << 20)
    val bytes = segStore.bytes(spark, "termdict")
    if (bytes <= limit) {
      val parts = math.max(1, (bytes >> 25).toInt) // ~32 MB per partition
      raw.repartition(parts).cache()
    } else raw
  }
  lazy val statsDf: DataFrame =
    pin(segStore.read(spark, "stats")).coalesce(1).cache()

  /** Per-field index-global (totalNumTokens, numDocs), cached: the manifest
    * snapshot is immutable, so a field's totals never change under this
    * Searcher.
    */
  private val fieldStatsCache = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
  def fieldStats(fld: String): (Long, Long) =
    fieldStatsCache.getOrElseUpdate(fld,
      statsDf.where($"field" === fld)
        .agg(coalesce(sum($"totalNumTokens"), lit(0L)), coalesce(sum($"numDocs"), lit(0L)))
        .as[(Long, Long)].head())

  lazy val (totalNumTokens: Long, totalNumDocs: Long) = fieldStats(field)
  lazy val avgFieldnorm: Float = Bm25.averageFieldnorm(totalNumTokens, totalNumDocs)
  def avgFieldnormFor(fld: String): Float = {
    val (t, d) = fieldStats(fld); Bm25.averageFieldnorm(t, d)
  }

  // ---- Bm25StatisticsProvider (`bm25.rs:13-23`): the Searcher IS the
  // default provider — manifest-summed stats + termdict doc freqs. A custom
  // provider swaps these through [[weightsFromProvider]].
  override def totalTokens(fld: String): Long = fieldStats(fld)._1
  override def docCount(fld: String): Long = fieldStats(fld)._2
  override def docFreq(fld: String, term: String): Long =
    docFreqs(Seq(term), fld).getOrElse(term, 0L)

  /** Per-term weights from an arbitrary statistics source (the reference's
    * `Bm25Weight::for_one_term` statistics-provider overload); terms whose
    * provider df is 0 are dropped, like [[weightsFor]].
    */
  def weightsFromProvider(p: graft.score.Bm25StatisticsProvider,
                          terms: Seq[String],
                          fld: String = field): Map[String, Bm25.Weight] =
    terms.distinct.flatMap { t =>
      if (p.docFreq(fld, t) > 0) Some(t -> Bm25.weightForTerm(p, fld, t)) else None
    }.toMap

  /** Resolved dfs of the termdict-table path, by (field, term). */
  private val dfCache = scala.collection.concurrent.TrieMap.empty[(String, String), Long]

  /** Global doc_freq per term, terms of df 0 left out: per-segment df
    * summed (`bm25.rs:45-48`), tombstoned docs counted until merge. Two
    * sources, the same numbers:
    *  - [[field]], when it passes the resident copy's gate and the
    *    dictionary's: the driver dictionary ([[dict]]), loaded once per
    *    Searcher — no Spark job per lookup, as a df lookup in the reference
    *    is an in-process term-dictionary read.
    *  - any other field, or above either gate: one job over the cached
    *    [[termdict]] table (repartitioned to ~32 MB partitions) whose
    *    per-segment rows are summed on the driver. The Searcher pins an
    *    immutable snapshot, so each resolved df, 0 included, is cached and
    *    a repeat lookup runs no job.
    */
  def docFreqs(terms: Seq[String], fld: String = field): Map[String, Long] = {
    if (terms.isEmpty) return Map.empty
    val distinct = terms.distinct
    val df: String => Long = (if (fld == field) dict else None) match {
      case Some(d) => d.docFreq
      case None =>
        val missing = distinct.filterNot(t => dfCache.contains((fld, t)))
        if (missing.nonEmpty) {
          val fetched = termdict
            .where($"field" === fld && $"term".isin(missing: _*))
            .select($"term", $"docFreq")
            .as[(String, Long)].collect()
            .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
          missing.foreach(t => dfCache.put((fld, t), fetched.getOrElse(t, 0L)))
        }
        t => dfCache((fld, t))
    }
    distinct.flatMap { t => val n = df(t); if (n > 0) Some(t -> n) else None }.toMap
  }

  /** The work of a collector query over `terms` in [[field]], the summed
    * dfs that size its tasks, when it is known without a Spark job: from
    * the driver dictionary, or from df lookups this Searcher has resolved
    * (every collector looks its terms' dfs up for their weights first).
    */
  private[query] def postingsWork(terms: Seq[String]): Option[Long] = {
    val distinct = terms.distinct
    dict match {
      case Some(d) => Some(distinct.iterator.map(d.docFreq).sum)
      case None =>
        val known = distinct.flatMap(t => dfCache.get((field, t)))
        if (known.length == distinct.length) Some(known.sum) else None
    }
  }

  def weightsFor(terms: Seq[String], fld: String = field): Map[String, Bm25.Weight] =
    weightsFromDfs(docFreqs(terms, fld), fld)

  /** Build weights from an already-fetched df map (no extra Spark job). */
  def weightsFromDfs(dfs: Map[String, Long], fld: String = field): Map[String, Bm25.Weight] = {
    val (_, nDocs) = fieldStats(fld)
    val avg = avgFieldnormFor(fld)
    dfs.map { case (t, df) => t -> Bm25.forOneTerm(df, nDocs, avg) }
  }

  /** Exploded scored postings for a set of terms, one scan, partition/
    * row-group pruned by the `term` predicate:
    * (segId, docId, term, score: Float).
    */
  def scoredTermDocs(terms: Seq[String], fld: String = field): DataFrame =
    scoredTermDocsWeighted(weightsFor(terms, fld), fld)

  /** [[scoredTermDocs]] over pre-built per-term weights — the seam that lets
    * boosted clauses fold their boost into the weight exactly like
    * `Bm25Weight::boost_by` (`bm25.rs:80-87`) instead of post-multiplying
    * the score (the reference's BoostQuery path IS the folded weight).
    */
  def scoredTermDocsWeighted(weights: Map[String, Bm25.Weight],
                             fld: String = field): DataFrame = {
    val scoreU = udf((term: String, tf: Int, normId: Int) =>
      weights.get(term).map(_.score(normId, tf)).getOrElse(0.0f))
    postings
      .where($"field" === fld && $"term".isin(weights.keys.toSeq.sorted: _*))
      .select($"segId", $"term", explode(arrays_zip($"docIds", $"tfs", $"normIds")).as("p"))
      .select($"segId", $"term", $"p.docIds".as("docId"),
        scoreU($"term", $"p.tfs", $"p.normIds").as("score"))
  }

  /** Boosted per-term weights: base BM25 weight x folded clause boost
    * (`bm25.rs:80-87 boost_by`); terms absent from the index are dropped.
    */
  def weightsForBoosted(termBoosts: Seq[(String, Float)],
                        fld: String = field): Map[String, Bm25.Weight] = {
    val base = weightsFor(termBoosts.map(_._1), fld)
    val boosts = termBoosts.toMap
    base.map { case (t, w) => t -> w.boostBy(boosts(t)) }
  }

  /** Unscored doc set for a term set (TermSetQuery / automaton expansions). */
  def docsForTerms(terms: Seq[String], fld: String = field): Dataset[ScoredDoc] = {
    if (terms.isEmpty) return spark.emptyDataset[ScoredDoc]
    postings.where($"field" === fld && $"term".isin(terms.distinct: _*))
      .select($"segId", explode($"docIds").as("docId"))
      .distinct()
      .select($"segId", $"docId", lit(1.0f).as("score"))
      .as[ScoredDoc]
  }

  /** Unscored doc set for a DataFrame of matching terms (automaton queries
    * whose expansion is computed distributed): a broadcast semi-join of the
    * matched-terms set against the postings scan — no driver-side collect of
    * the term dictionary, so this path survives a 10^12-file term dict
    * (the matched set after an automaton is small; the DICTIONARY need not
    * fit anywhere).
    */
  def docsForTermsDf(matched: DataFrame, fld: String = field): Dataset[ScoredDoc] =
    postings.where($"field" === fld)
      .join(broadcast(matched.select($"term").distinct()), Seq("term"), "left_semi")
      .select($"segId", explode($"docIds").as("docId"))
      .distinct()
      .select($"segId", $"docId", lit(1.0f).as("score"))
      .as[ScoredDoc]

  lazy val allTerms: DataFrame =
    termdict.where($"field" === field).select($"term").distinct()

  def allTermsFor(fld: String): DataFrame =
    if (fld == field) allTerms
    else termdict.where($"field" === fld).select($"term").distinct()

  // ---------- query compilation ----------

  /** Compile a query to its matching (segId, docId, score) set. Every leaf
    * reads the alive views ([[postings]], the live docmap rows), so deleted
    * docs never match.
    */
  def compile(q: Query, fld: String = field): Dataset[ScoredDoc] = q match {
    case EmptyQ => spark.emptyDataset[ScoredDoc]
    case FieldQ(f2, sub) => compile(sub, f2)
    case AllQ =>
      liveDocmap.select($"segId", $"docId", lit(1.0f).as("score")).as[ScoredDoc]
    case TermQ(t) =>
      scoredTermDocs(Seq(t), fld).select($"segId", $"docId", $"score").as[ScoredDoc]
    case TermSetQ(ts) => docsForTerms(ts.toSeq.sorted, fld)
    case TermRangeQ(lo, hi) =>
      // str-range over the term dictionary, distributed (no driver collect)
      var t = allTermsFor(fld)
      lo.foreach { case (v, incl) => t = t.where(if (incl) $"term" >= v else $"term" > v) }
      hi.foreach { case (v, incl) => t = t.where(if (incl) $"term" <= v else $"term" < v) }
      docsForTermsDf(t, fld)
    case IpRangeQ(lo, hi) =>
      // u128-order range over an ip field's term dictionary
      // (`range_query.rs:71-170` via `MonotonicallyMappableToU128`): the
      // canonical RFC 5952 term text is NOT order-preserving, so each
      // dictionary term is re-keyed to its 128-bit value and compared
      // numerically — a distributed termdict filter like regex/fuzzy, then
      // the same semi-join into the postings scan. Bounds parse once on the
      // driver; an unparseable bound is an error, as the reference's
      // boundary computation fails the query (`query_parser.rs:524`).
      def key(b: Option[(String, Boolean)]) = b.map { case (v, i) =>
        val k = graft.analysis.Analysis.ipv6Key(v)
        require(k.isDefined, s"ip range bound is not an ip address: '$v'")
        (k.get, i)
      }
      val (loB, hiB) = (key(lo), key(hi))
      val inRange = udf { t: String =>
        t != null && graft.analysis.Analysis.ipv6Key(t).exists { k =>
          loB.forall { case (b, incl) =>
            val c = k.compareTo(b); if (incl) c >= 0 else c > 0 } &&
          hiB.forall { case (b, incl) =>
            val c = k.compareTo(b); if (incl) c <= 0 else c < 0 }
        }
      }
      docsForTermsDf(allTermsFor(fld).where(inRange($"term")), fld)
    case RegexQ(pattern) =>
      // regex over the term dictionary (`regex_query.rs:57`), evaluated
      // DISTRIBUTED over termdict, then semi-joined into the postings scan —
      // the term dict never passes through the driver. tantivy_fst::Regex
      // matches the WHOLE term (implicitly anchored), so the pattern is
      // wrapped ^(?:...)$ — "apa" must not match the term "japan".
      docsForTermsDf(allTermsFor(fld)
        .where(regexp_like($"term", lit(Searcher.anchored(pattern)))), fld)
    case FuzzyQ(term, d, transpose, prefix) =>
      // banded-DP Levenshtein over the distinct term dictionary — the
      // FST+DFA intersection of the reference (`fuzzy_query.rs:80-131`)
      // evaluated as a distributed filter on termdict; const score 1.0.
      //
      // A SARGABLE pre-band runs BEFORE the DP UDF — the cheap projection
      // of the reference's automaton intersection: every edit changes the
      // code-point length by <= 1, so |len(c) - len(q)| <= d is implied by
      // within() (its own early exit, QueryAst.scala) and the band in the
      // plan short-circuits the O(len^2) DP on the vast majority of
      // dictionary terms. (A first-CHARACTER band would NOT be sound: one
      // front insertion or substitution frees c(0) to be any character.)
      // Spark's length() counts code points — the same unit as within().
      // In prefix mode a candidate may match through its len(q)-truncation
      // (any length) or whole (len >= len(q)-d); the UDF's truncation is
      // UTF-16-based, so the band keeps the conservative floor
      // min(len(q)-d, ceil(len(q)/2)) to stay a superset for supplementary
      // characters. d == 0 degenerates to exact equality / startsWith,
      // which push all the way into the Parquet scan (term min/max pruning
      // on the builder's term-major sort).
      val within = udf { c: String =>
        if (prefix && c.length >= term.length)
          Levenshtein.within(term, c.substring(0, term.length), d, transpose) ||
            Levenshtein.within(term, c, d, transpose)
        else Levenshtein.within(term, c, d, transpose)
      }
      val qcp = term.codePointCount(0, term.length)
      val banded =
        if (d == 0 && prefix) allTermsFor(fld).where($"term".startsWith(term))
        else if (d == 0) allTermsFor(fld).where($"term" === term)
        else if (prefix)
          allTermsFor(fld).where(length($"term") >= math.min(qcp - d, (qcp + 1) / 2))
        else
          allTermsFor(fld).where(length($"term").between(qcp - d, qcp + d))
      docsForTermsDf(banded.where(within($"term")), fld)
    case RangeQ(columnName, lower, upper) =>
      // a multivalued fast field (array-typed docmap column, the columnar
      // crate's multi-value columns) matches when ANY of its values is in
      // range; scalar columns filter directly — both stay codegen'd scans
      val isArr = docmap.schema(columnName).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      def bounds(x: Column): Column = {
        var c = lit(true)
        lower.foreach { case (v, incl) => c = c && (if (incl) x >= v else x > v) }
        upper.foreach { case (v, incl) => c = c && (if (incl) x <= v else x < v) }
        c
      }
      val df =
        if (isArr) liveDocmap.where(exists(col(columnName), bounds))
        else liveDocmap.where(bounds(col(columnName)))
      df.select($"segId", $"docId", lit(1.0f).as("score")).as[ScoredDoc]
    case ExistsQ(columnName) =>
      // exists on a multivalued fast field = the doc has at least one value
      // (`exist_query.rs:36-94` checks value presence across the field's
      // columns)
      val isArr = docmap.schema(columnName).dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
      val pred =
        if (isArr) col(columnName).isNotNull && size(col(columnName)) > 0
        else col(columnName).isNotNull
      liveDocmap.where(pred)
        .select($"segId", $"docId", lit(1.0f).as("score")).as[ScoredDoc]
    case b: BoostQ => weightedLeaf(b) match {
      // boosted TERM leaves fold the boost into the BM25 weight exactly
      // like the reference's `Bm25Weight::boost_by` (`bm25.rs:80-87`) —
      // (w*boost)*tfFactor, NOT (w*tfFactor)*boost, so the f32 bits match
      // the boosted TermScorer (and the WAND path) exactly
      case Some((t, boost)) =>
        scoredTermDocsWeighted(weightsForBoosted(Seq(t -> boost), fld), fld)
          .select($"segId", $"docId", $"score").as[ScoredDoc]
      case None =>
        compile(b.q, fld).map(s => s.copy(score = s.score * b.boost))
    }
    case ConstScoreQ(sub, c) =>
      compile(sub, fld).map(s => s.copy(score = c))
    case DisMaxQ(qs, tie) =>
      // max + tie * (sum of the others), accumulated in clause order
      // (`score_combiner.rs:60-90`)
      val tagged = qs.zipWithIndex.map { case (sub, i) =>
        compile(sub, fld).map(s => (s.segId, s.docId, i, s.score)) }
      val all = tagged.reduceLeft(_ union _)
      all.groupByKey(r => (r._1, r._2)).mapGroups { (key, rows) =>
        val sorted = rows.toArray.sortBy(_._3)
        var mx = Float.MinValue; var sm = 0.0f
        sorted.foreach { r => sm += r._4; if (r._4 > mx) mx = r._4 }
        ScoredDoc(key._1, key._2, mx + tie * (sm - mx))
      }
    case m: MoreLikeThisQ => compile(mltDisjunction(m, fld), fld)
    case p: PhraseQ => compilePhrase(p, fld)
    case rp: RegexPhraseQ =>
      // per-position regex expansion against the term dictionary
      // (`regex_phrase_query.rs:23`): slot i matches any of its expanded
      // terms; a doc matches when the per-slot position UNIONS satisfy the
      // phrase offsets. Expansions are computed distributed; only the
      // (small) matched sets are collected to build the slot map.
      // SCORED like the reference (`regex_phrase_weight.rs` wraps the slot
      // unions in a scoring PhraseScorer): tf = the union phrase count, and
      // the Bm25 weight comes from `Bm25Weight::for_terms` over the raw
      // PATTERN STRINGS as terms (`regex_phrase_query.rs:107-111,144-149`)
      // — their doc_freq is 0 unless a pattern is literally a dictionary
      // term, so idf = idf(0, N) per slot.
      require(indexMeta.forall(_.withPositions),
        s"regex-phrase query needs positions, but the index at $indexDir was built with withPositions=false")
      val slotTerms = rp.terms.map { case (_, pat) => regexExpansions(pat, rp.maxExpansions, fld) }
      val patDfs = docFreqs(rp.terms.map(_._2), fld)
      val rpWeight = Bm25.forTerms(rp.terms.map(t => patDfs.getOrElse(t._2, 0L)),
        fieldStats(fld)._2, avgFieldnormFor(fld))
      slotPhraseDocs(slotTerms, rp.terms.map(_._1).toArray, rp.slop, fld,
        weight = Some(rpWeight))
    case pp: PhrasePrefixQ =>
      // expand the prefix against the term dictionary in ascending term
      // order, capped at maxExpansions (`phrase_prefix_query.rs`), then run
      // ONE per-slot-union phrase pass: the prefix slot's term set is the
      // expansion list, every fixed slot is a singleton — a single pruned
      // postings scan + one shuffle, instead of a maxExpansions-way union
      // of per-expansion join pipelines (Catalyst planning alone dominated
      // that shape).
      // Scoring matches the reference exactly (`phrase_prefix_scorer.rs:
      // 84-93`): with ONE fixed term the SinglePrefix scorer returns const
      // 1.0; with >= 2 fixed terms the MultiPrefix PhraseScorer scores
      // BM25 with tf = the FIXED-terms phrase count (the prefix only gates
      // matching) and weight = `Bm25Weight::for_terms` over the fixed terms
      // (`phrase_prefix_query.rs:77-83,113-115` — phrase_terms() excludes
      // the prefix term).
      require(indexMeta.forall(_.withPositions),
        s"phrase-prefix query needs positions, but the index at $indexDir was built with withPositions=false")
      val expansions = prefixExpansions(pp.prefix._2, pp.maxExpansions, fld)
      if (expansions.isEmpty) spark.emptyDataset[ScoredDoc]
      else if (pp.terms.length <= 1) {
        // 0 fixed terms = the parser's bare `term*` (reference falls back
        // to a const-score range weight); 1 fixed term = the SinglePrefix
        // scorer, whose score is const 1.0 (`phrase_prefix_scorer.rs:84-88`)
        val slots = pp.terms.map(t => Seq(t._2)) :+ expansions
        val offsets = (pp.terms.map(_._1) :+ pp.prefix._1).toArray
        slotPhraseDocs(slots, offsets, slop = 0, fld)
      } else {
        val fixedTerms = pp.terms.map(_._2)
        val dfs = docFreqs(fixedTerms.distinct, fld)
        if (fixedTerms.distinct.exists(t => !dfs.contains(t)))
          spark.emptyDataset[ScoredDoc]
        else {
          val ppWeight = Bm25.forTerms(fixedTerms.map(dfs),
            fieldStats(fld)._2, avgFieldnormFor(fld))
          slotPhraseDocs(pp.terms.map(t => Seq(t._2)), pp.terms.map(_._1).toArray,
            slop = 0, fld, weight = Some(ppWeight),
            prefix = Some((pp.prefix._1, expansions)))
        }
      }
    case b: BoolQ => compileBool(b, fld)
  }

  /** Expand MoreLikeThis into the reference's boosted-term Should
    * disjunction — driver-side term selection (`more_like_this.rs:298-360`):
    * re-analyze the reference doc's stored content, drop noise words
    * (UTF-8-byte word-length bounds + stop list, `is_noise_word` `:277-296`),
    * keep terms with tf >= minTf and global df in [minDf, maxDf] (df == 0
    * always dropped), score each term tf * bm25-idf(df, N) (`bm25.rs:50`,
    * the formula create_score_term calls; ties by ascending term for
    * determinism), cap at maxTerms + 1 (the reference's bounded heap pushes
    * while `len <= limit`, `more_like_this.rs:349-360`, so up to limit+1
    * terms survive — mirrored faithfully), then emit each selected term as
    * a BoostQuery carrying score * boost_factor / best_score
    * (`more_like_this.rs:109-121`, boost_factor default 1.0).
    *
    * Exposed as a QUERY REWRITE (not just a compile case) because the
    * resulting Should-of-BoostQ(TermQ) shape is WAND-eligible
    * (`boolean_weight.rs:56-76` — every clause a TermScorer, boosts folded
    * via `bm25.rs:80-87 boost_by`): the top-k collectors rewrite
    * MoreLikeThisQ through here and ride the pruned block-max executor,
    * instead of shuffling every posting of every selected term.
    */
  def mltDisjunction(m: MoreLikeThisQ, fld: String = field): Query = {
    val selected = mltSelect(m, fld)
    if (selected.isEmpty) EmptyQ
    else {
      val best = selected.map(_._2).max
      BoolQ(selected.map { case (t, s) =>
        Occur.Should -> (BoostQ(TermQ(t), (s * m.boostFactor / best).toFloat): Query) })
    }
  }

  /** The MoreLikeThis term SELECTION alone — (term, tf*idf score) pairs in
    * (score desc, term asc) order, capped at maxQueryTerms + 1. Score kept
    * in DOUBLE so the DuckDB oracle's ordering replays exactly; the
    * emitted boost is the f32 of score/best (reference stores f32).
    */
  def mltSelect(m: MoreLikeThisQ, fld: String = field): Seq[(String, Double)] = {
    import m.{segId, docId, minDocFreq => minDf, minTermFreq => minTf,
      maxQueryTerms => maxTerms, maxDocFreq => maxDf, minWordLen, maxWordLen,
      stopWords}
    val content = docmap
      .where($"segId" === segId && $"docId" === docId)
      .select($"content").as[String].head()
    val tfs: Map[String, Int] = graft.analysis.Analysis.defaultTerms(content)
      .groupBy(_._1).map { case (t, xs) => t -> xs.size }
    def isNoise(t: String): Boolean = {
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
      bytes == 0 || minWordLen.exists(bytes < _) ||
        maxWordLen.exists(bytes > _) || stopWords.contains(t)
    }
    val candidates = tfs.filter { case (t, _) => !isNoise(t) }
    val dfs = docFreqs(candidates.keys.toSeq.sorted, fld)
    val n = fieldStats(fld)._2
    candidates.toSeq
      .filter { case (t, tf) =>
        val df = dfs.getOrElse(t, 0L)
        tf >= minTf && df > 0 && df >= minDf && maxDf.forall(df <= _) }
      .map { case (t, tf) =>
        val df = dfs(t)
        (t, tf * math.log(1.0 + (n - df + 0.5) / (df + 0.5))) }
      .sortBy { case (t, s) => (-s, t) }
      .take(maxTerms + 1)
  }

  /** Shared executor for phrase queries, whose slots are TERM SETS (regex
    * phrase, phrase prefix) or single terms (phrase), scored: BM25 with tf =
    * the slot-phrase count when `weight` is set (`phrase_scorer.rs:551-556`
    * over union postings), otherwise const 1.0.
    */
  private def slotPhraseDocs(slotTerms: Seq[Seq[String]], offsets: Array[Int],
                             slop: Int, fld: String,
                             weight: Option[Bm25.Weight] = None,
                             prefix: Option[(Int, Seq[String])] = None): Dataset[ScoredDoc] =
    slotPhrase(slotTerms, offsets, slop, prefix, fld).map { case (seg, doc, normId, cnt) =>
      ScoredDoc(seg, doc, weight.map(_.score(normId, cnt.toLong)).getOrElse(1.0f)) }

  /** Per-doc slot-union phrase counts, unscored — the building block the
    * F64 oracle twins share with the f32 path: (segId, docId, cnt).
    */
  def slotPhraseCounts(slotTerms: Seq[Seq[String]], offsets: Array[Int],
                       slop: Int, prefix: Option[(Int, Seq[String])] = None,
                       fld: String = field): DataFrame =
    slotPhrase(slotTerms, offsets, slop, prefix, fld)
      .map { case (seg, doc, _, cnt) => (seg, doc, cnt) }.toDF("segId", "docId", "cnt")

  /** The slot-phrase pass: one pruned postings scan over all matched terms,
    * one (segId, docId) shuffle, per-slot position unions merged and fed to
    * the phrase matcher. Yields (segId, docId, normId, cnt) for docs whose
    * slot unions satisfy the phrase. With `prefix` set (phrase-prefix
    * MultiPrefix shape, `phrase_prefix_scorer.rs:159-176`), a doc
    * additionally needs some phrase start `base` whose prefix position
    * `base + prefixOffset` is held by an expansion term — the prefix gates
    * matching but does NOT contribute to cnt, the FIXED-phrase count.
    */
  private def slotPhrase(slotTerms: Seq[Seq[String]], offsets: Array[Int], slop: Int,
                         prefix: Option[(Int, Seq[String])],
                         fld: String): Dataset[(Int, Int, Int, Int)] = {
    if (slotTerms.exists(_.isEmpty) || prefix.exists(_._2.isEmpty))
      return spark.emptyDataset[(Int, Int, Int, Int)]
    val nSlots = offsets.length
    // term -> slots it can fill (a term may match several slots); the
    // prefix expansion set, when present, is slot index nSlots
    val termSlots: Map[String, Seq[Int]] = (slotTerms.zipWithIndex
      .flatMap { case (ts, i) => ts.map(t => (t, i)) } ++
      prefix.toSeq.flatMap { case (_, ts) => ts.map(t => (t, nSlots)) })
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2) }
    val prefixOff = prefix.map(_._1).getOrElse(-1)
    val nBuckets = if (prefix.isDefined) nSlots + 1 else nSlots
    val allMatched = termSlots.keys.toSeq.sorted
    val rows = postings
      .where($"field" === fld && $"term".isin(allMatched: _*))
      .select($"segId", $"term",
        explode(arrays_zip($"docIds", $"normIds", $"positions")).as("p"))
      .select($"segId", $"term", $"p.docIds".as("docId"),
        $"p.normIds".as("normId"), $"p.positions".as("positions"))
      .as[(Int, String, Int, Int, Array[Int])]
    rows.groupByKey(r => (r._1, r._3)).flatMapGroups { (key, it) =>
      // per-slot union of matching terms' positions, merged sorted
      val bySlot = Array.fill(nBuckets)(scala.collection.mutable.ArrayBuffer.empty[Int])
      var normId = 0
      it.foreach { case (_, term, _, nid, pos) =>
        normId = nid
        termSlots.getOrElse(term, Seq.empty).foreach(i => bySlot(i) ++= pos)
      }
      if (bySlot.exists(_.isEmpty)) Iterator.empty
      else {
        val arrays = bySlot.map(_.distinct.sorted.toArray)
        val (count, ok) =
          if (prefix.isDefined)
            PhraseMatcher.prefixGatedCount(offsets, arrays.take(nSlots), prefixOff, arrays(nSlots))
          else {
            val c = PhraseMatcher.phraseCount(offsets, arrays.take(nSlots), slop)
            (c, c > 0)
          }
        if (ok) Iterator.single((key._1, key._2, normId, count)) else Iterator.empty
      }
    }
  }

  /** Prefix expansions from the term dictionary, ascending, capped
    * (`phrase_prefix_query.rs` + `prefix_end`).
    */
  def prefixExpansions(prefix: String, maxExpansions: Int, fld: String = field): Seq[String] =
    allTermsFor(fld).where($"term".startsWith(prefix))
      .orderBy($"term").limit(maxExpansions).as[String].collect().toSeq

  /** Regex expansions from the term dictionary, ascending, capped
    * (`regex_phrase_weight.rs` expansion walk).
    */
  def regexExpansions(pattern: String, maxExpansions: Int, fld: String = field): Seq[String] =
    allTermsFor(fld).where(regexp_like($"term", lit(Searcher.anchored(pattern))))
      .orderBy($"term").limit(maxExpansions).as[String].collect().toSeq

  /** Boolean combination (`boolean_weight.rs:101-257`): doc matches iff all
    * Musts match, no MustNot matches, and — when there is no Must — at least
    * `minShouldMatch` Shoulds match. Score = sum of matching positive clause
    * scores in clause order (`SumCombiner`, `score_combiner.rs:39`), the
    * same f32 additions as the leapfrog executor's.
    * All-TermQ positive clauses collapse into ONE postings scan (isin over
    * the term list — single pruned scan instead of one per clause).
    */
  private def compileBool(b: BoolQ, fld: String = field): Dataset[ScoredDoc] = {
    val positives = b.clauses.filter(_._1 != Occur.MustNot)
    val negatives = b.clauses.collect { case (Occur.MustNot, q) => q }
    if (positives.isEmpty) return spark.emptyDataset[ScoredDoc] // MustNot-only matches nothing (boolean_weight.rs:266-269)
    val numMusts = positives.count(_._1 == Occur.Must)
    val numShoulds = positives.length - numMusts
    // explicit min-should is honored even with Musts present
    // (`boolean_weight.rs:176-204`); with only Shoulds at least one must match
    val minShould = if (numMusts > 0) b.minShouldMatch
                    else math.max(b.minShouldMatch, 1)
    // more required Shoulds than Should clauses matches nothing
    if (minShould > numShoulds) return spark.emptyDataset[ScoredDoc]

    // Term-with-boost leaves collapse into ONE postings scan (boosts fold
    // into the per-term weight, `bm25.rs:80-87`). Duplicate terms carrying
    // DIFFERENT boosts would need two weights for one term — that rare
    // shape keeps the generic per-clause path.
    val leafOpts = positives.map(p => weightedLeaf(p._2))
    val allTermLeaves = leafOpts.forall(_.isDefined) && {
      val ts = leafOpts.flatten
      ts.groupBy(_._1).values.forall(g => g.map(_._2).distinct.length == 1)
    }

    val tagged: Dataset[(Int, Int, Int, Boolean, Float)] =
      if (allTermLeaves) {
        val metas = positives.zipWithIndex.map { case ((occ, q), i) =>
          (weightedLeaf(q).get._1, i, occ == Occur.Must) }
        val byTerm = metas.groupBy(_._1)
        val scored = scoredTermDocsWeighted(weightsForBoosted(leafOpts.flatten.distinct, fld), fld)
        scored.select($"segId", $"docId", $"term", $"score")
          .as[(Int, Int, String, Float)]
          .flatMap { case (seg, doc, term, sc) =>
            byTerm.getOrElse(term, Seq.empty).map { case (_, i, isMust) =>
              (seg, doc, i, isMust, sc) } }
      } else {
        positives.zipWithIndex.map { case ((occ, sub), i) =>
          val isMust = occ == Occur.Must
          compile(sub, fld).map(s => (s.segId, s.docId, i, isMust, s.score))
        }.reduceLeft(_ union _)
      }

    val combined = tagged.groupByKey(r => (r._1, r._2)).flatMapGroups { (key, rows) =>
      val sorted = rows.toArray.sortBy(_._3)
      var mustC = 0; var shouldC = 0; var sc = 0.0f
      sorted.foreach { r => if (r._4) mustC += 1 else shouldC += 1; sc += r._5 }
      val ok = mustC == numMusts && shouldC >= minShould
      if (ok) Iterator.single(ScoredDoc(key._1, key._2, sc)) else Iterator.empty
    }

    if (negatives.isEmpty) combined
    else {
      val neg = negatives.map(q => compile(q, fld)).reduceLeft(_ union _)
        .select($"segId", $"docId").distinct()
      combined.join(neg, Seq("segId", "docId"), "left_anti").as[ScoredDoc]
    }
  }

  /** Phrase matching (`phrase_query.rs`, `phrase_scorer.rs:82-143`): docs
    * containing all terms with positions satisfying the relative offsets
    * (slop 0 = exact adjacency); phrase occurrence count is the tf fed to the
    * multi-term BM25 weight (summed idf, `bm25.rs:115-123`). Runs as the
    * slot-phrase pass with one term per slot.
    */
  private def compilePhrase(p: PhraseQ, fld: String = field): Dataset[ScoredDoc] = {
    // the reference errors when positions were not indexed
    // (`query_parser.rs:986-991`); silently empty matches would be worse
    require(indexMeta.forall(_.withPositions),
      s"phrase query needs positions, but the index at $indexDir was built with withPositions=false")
    val terms = p.terms.map(_._2)
    val dfs = docFreqs(terms.distinct, fld)
    if (terms.distinct.exists(t => !dfs.contains(t))) return spark.emptyDataset[ScoredDoc]
    val weight = Bm25.forTerms(terms.map(dfs), fieldStats(fld)._2, avgFieldnormFor(fld))
    slotPhraseDocs(terms.map(Seq(_)), p.terms.map(_._1).toArray, p.slop, fld, weight = Some(weight))
  }

  // ---------- collectors ----------

  /** Pure all-Must all-TermQ conjunction — the shape the leapfrog executor
    * specializes.
    */
  private def pureMustTerms(q: Query): Option[Seq[String]] = q match {
    case BoolQ(cs, _) if cs.nonEmpty && cs.forall {
        case (o, s) => o == Occur.Must && s.isInstanceOf[TermQ] } =>
      Some(cs.map(_._2.asInstanceOf[TermQ].term))
    case _ => None
  }

  /** A clause that scores like a single TermScorer: a bare TermQ, or a
    * BoostQ chain over one — boosts fold multiplicatively into the weight
    * (`bm25.rs:80-87 boost_by`; eligibility `boolean_weight.rs:56-76`).
    */
  private def weightedLeaf(q: Query, boost: Float = 1.0f): Option[(String, Float)] =
    q match {
      case TermQ(t) => Some((t, boost))
      case BoostQ(sub, b) => weightedLeaf(sub, boost * b)
      case _ => None
    }

  /** Pure weighted multi-term disjunction — the WAND-eligible shape
    * (`boolean_weight.rs:56-76`: every clause a TermScorer reading freqs;
    * a BoostQ(TermQ) clause is still a TermScorer, with the boost folded
    * into its Bm25 weight). This is exactly the shape MoreLikeThis emits.
    */
  private def pureShouldWeighted(q: Query): Option[Seq[(String, Float)]] = q match {
    case TermQ(t) => Some(Seq((t, 1.0f)))
    case b: BoostQ => weightedLeaf(b).map(Seq(_))
    case BoolQ(cs, m) if m <= 1 && cs.nonEmpty && cs.forall(_._1 == Occur.Should) =>
      val leaves = cs.map(c => weightedLeaf(c._2))
      if (leaves.exists(_.isEmpty)) None
      else {
        val ts = leaves.map(_.get)
        // duplicate Should clauses of one term sum that term's score twice
        // (`SumCombiner`) — the WAND executor scores each term once, so only
        // the duplicate-free shape routes here
        if (ts.map(_._1).distinct.length == ts.length) Some(ts) else None
      }
    case _ => None
  }

  /** Collector-level query rewrite: MoreLikeThis expands to its boosted
    * Should-disjunction BEFORE dispatch, so the top-k collectors see the
    * WAND-eligible shape instead of falling back to the generic union.
    */
  private def rewriteForCollect(q: Query): Query = q match {
    case m: MoreLikeThisQ => mltDisjunction(m, field)
    case FieldQ(f, m: MoreLikeThisQ) => FieldQ(f, mltDisjunction(m, f))
    case _ => q
  }

  import Searcher.Route._

  /** Decide, once per query, which executor the collectors run — the
    * reference's one eligibility test before `block_wand`
    * (`boolean_weight.rs:56-76`). Every executor reads the alive
    * [[postings]] view, so tombstones do not change the route.
    */
  private def route(q0: Query): Searcher.Route =
    rewriteForCollect(q0) match {
      case p: PhraseQ => Phrase(p)
      case q =>
        pureMustTerms(q).map[Searcher.Route](MustTerms)
          .orElse(pureShouldWeighted(q).map(ShouldTerms))
          .getOrElse(Generic(q))
    }

  /** A term's hit count without scoring — the term dictionary's doc_freq,
    * no postings read (the reference's specialized term count reads the
    * same TermInfo). doc_freq counts tombstoned docs until merge, so with
    * deletes pinned a kernel on [[SegmentCollect.collect]] counts the
    * term's live entries, unless the driver dictionary ([[dict]]) shows it
    * has none.
    */
  def termHitCount(t: String): Long =
    if (deadDocs.isEmpty || dict.exists(_.docFreq(t) == 0)) docFreqs(Seq(t)).getOrElse(t, 0L)
    else SegmentCollect.collect(this, Seq(t), positions = false, 1) { (g, at) =>
      (Array.empty[Hit], (g.entryEnd(at(0)) - g.entryStart(at(0))).toLong)
    }._2

  /** TopDocs collector (`top_collector.rs:45-61,102-122`): global top-k by
    * (score desc, segId asc, docId asc), offset skipped after the merge.
    * Pure conjunctions and phrases route through the per-segment leapfrog
    * executor (`Intersect`), weighted pure disjunctions (incl. expanded
    * MoreLikeThis) through the block-max WAND executor, everything else
    * through the Dataset pipeline. k must be at least 1, as the reference's
    * `TopDocs::with_limit` requires.
    */
  def topDocs(q: Query, k: Int, offset: Int = 0): Array[Hit] = {
    require(k >= 1, s"top-k limit must be at least 1, got $k")
    val hits = route(q) match {
      case Phrase(p) => Intersect.topKPhrase(this, p, k + offset)._1
      case MustTerms(ts) => Intersect.topKMust(this, ts, k + offset)._1
      case ShouldTerms(tbs) => Wand.topK(this, tbs, k + offset)._1
      case Generic(g) =>
        compile(g)
          .orderBy(desc("score"), asc("segId"), asc("docId"))
          .limit(k + offset)
          .as[ScoredDoc].collect().map(s => Hit(s.segId, s.docId, s.score))
    }
    hits.drop(offset)
  }

  /** Count collector (`count_collector.rs:36-61`). */
  def count(q: Query): Long = {
    route(q) match {
      case Phrase(p) => Intersect.topKPhrase(this, p, 1)._2
      case MustTerms(ts) => Intersect.topKMust(this, ts, 1)._2
      // one term's hit count needs no scoring (boosts change scores, not
      // matches)
      case ShouldTerms(Seq((t, _))) => termHitCount(t)
      case ShouldTerms(tbs) => Wand.topK(this, tbs, 1, withCount = true)._2
      case Generic(g) => compile(g).count()
    }
  }

  /** TopDocs + Count in ONE pass over the matching doc set — the
    * MultiCollector shape (`multi_collector.rs:166`; the reference's
    * TOP_10_COUNT command of the search-benchmark-game harness). A count
    * collector needs every match, so the pruned (WAND) path is off; each
    * partition folds its matches into a bounded k-heap plus a counter
    * (SegmentCollector), and the driver merges fruits
    * (`top_collector.rs:102-122`). k must be at least 1.
    */
  def topDocsWithCount(q: Query, k: Int): (Array[Hit], Long) = {
    require(k >= 1, s"top-k limit must be at least 1, got $k")
    route(q) match {
      case Phrase(p) => Intersect.topKPhrase(this, p, k)
      case MustTerms(ts) => Intersect.topKMust(this, ts, k)
      case ShouldTerms(tbs) => Wand.topK(this, tbs, k, withCount = true)
      case Generic(g) => topDocsWithCountGeneric(g, k)
    }
  }

  private def topDocsWithCountGeneric(q: Query, k: Int): (Array[Hit], Long) = {
    val partials = compile(q).mapPartitions { it =>
      val topk = new Wand.TopK(k)
      var cnt = 0L
      it.foreach { s => cnt += 1; topk.offer(Hit(s.segId, s.docId, s.score)) }
      Iterator.single((topk.hits, cnt))
    }.collect()
    SegmentCollect.merge(partials, k)
  }

  /** Per-segment/per-component space accounting
    * (`space_usage/mod.rs` `Searcher::space_usage` analog).
    */
  def spaceUsage: graft.index.SpaceUsage.IndexUsage =
    graft.index.SpaceUsage.of(spark, indexDir)

  /** Docstore hydration (`store/reader.rs:239 get`): fetch the stored
    * fields of the final top-k hits — a broadcast semi-join of the k
    * addresses against docmap, so only the hit rows' pages are read.
    */
  def fetch(hits: Seq[Hit]): DataFrame = {
    if (hits.isEmpty) return docmap.limit(0)
    val addrs = hits.map(h => (h.segId, h.docId, h.score)).toDF("segId", "docId", "score")
    docmap.join(broadcast(addrs), Seq("segId", "docId"))
      .orderBy(desc("score"), asc("segId"), asc("docId"))
  }
}

object Searcher {
  /** In-memory bytes of the resident copy per on-disk postings byte: a
    * bound over the ratio of its cached `memSize` to the postings table's
    * bytes, measured on CorpusGen indexes of 500 to 8,000 docs in 4
    * segments with the packed groups ([[SegmentCollect.Group]]): 7.1-8.3
    * with positions, 7.8-9.4 without, falling as the index grows (a copy
    * of one `BlockRow` object per block took 17.1-20.4 and 20.5-24.8).
    */
  private final val ResidentExpansion: Double = 10.0
  /** The share of Spark's reported storage memory the copy may take. */
  private final val ResidentShare: Double = 0.25
  /** Driver bytes per on-disk termdict byte at the peak of
    * [[TermDict.load]], a bound over `SizeEstimator` measurements on
    * CorpusGen indexes of 500 to 20,000 docs in 4 and 8 segments: the
    * finished dictionary takes 7.0-13.1, and the peak — one merge's two
    * inputs and output plus a partition's serialized result (1.8-3.5) —
    * 15.3-28.3. Two partitions that each held every term would need about
    * 2.4 times the finished dictionary plus that result, 35.
    */
  private final val DictExpansion: Double = 36.0
  /** The share of the driver heap the term dictionary's load may take. */
  private final val DictShare: Double = 0.1

  /** The executor a collector query runs on, chosen by `route`. */
  private sealed trait Route
  private object Route {
    final case class Phrase(p: PhraseQ) extends Route
    final case class MustTerms(terms: Seq[String]) extends Route
    final case class ShouldTerms(termBoosts: Seq[(String, Float)]) extends Route
    final case class Generic(q: Query) extends Route
  }

  /** tantivy_fst::Regex whole-term semantics: the pattern must match the
    * ENTIRE term (`regex_query.rs:12-21` — built on an fst automaton, which
    * is implicitly anchored). Java regex needs explicit anchors — \A/\z,
    * not ^/$, because `$` also matches before a trailing line terminator
    * (a raw-tokenizer term "abc\n" must NOT match pattern "abc"); the
    * non-capturing group keeps alternations intact.
    */
  def anchored(pattern: String): String = s"\\A(?:$pattern)\\z"
}

/** Positional phrase matching, replicating the reference's
  * `phrase_scorer.rs` exactly: slop 0 is a positions intersection at exact
  * relative offsets; slop > 0 shifts each term's positions by
  * `max_offset - term_offset` (`phrase_scorer.rs:379-384`) and left-folds
  * with `intersection_count_with_slop` (2 terms,
  * `phrase_scorer.rs:145-190`) / `intersection_count_with_carrying_slop`
  * (> 2 terms, `phrase_scorer.rs:232-345`) — the carried budget makes the
  * reference's own test vectors hold ("a x b c" matches [a,b,c] at slop 1;
  * "a b" matches [b,a] only at slop 2; `phrase_query/mod.rs:238-256`).
  */
object PhraseMatcher {
  def phraseCount(offsets: Array[Int], positions: Array[Array[Int]], slop: Int): Int =
    phraseCountCsr(offsets, positions, new Array[Int](positions.length),
      positions.map(_.length), slop)

  /** Phrase-prefix (MultiPrefix) matching (`phrase_prefix_scorer.rs:
    * 159-176`): returns (fixed-phrase count, prefix-extended?). The count is
    * the FIXED phrase's occurrence count (the tf the reference feeds to
    * BM25); `extended` is true iff some phrase start `base` has a prefix
    * position at `base + prefixOff` — the matches_prefix gate. Slop 0 only
    * (the reference's phrase-prefix has no slop).
    */
  def prefixGatedCount(offsets: Array[Int], positions: Array[Array[Int]],
                       prefixOff: Int, prefixPos: Array[Int]): (Int, Boolean) = {
    val first = positions(0)
    var count = 0
    var extended = false
    var fi = 0
    while (fi < first.length) {
      val base = first(fi) - offsets(0)
      var ok = true; var i = 1
      while (ok && i < offsets.length) {
        ok = java.util.Arrays.binarySearch(positions(i), base + offsets(i)) >= 0
        i += 1
      }
      if (ok) {
        count += 1
        if (!extended &&
            java.util.Arrays.binarySearch(prefixPos, base + prefixOff) >= 0)
          extended = true
      }
      fi += 1
    }
    (count, extended)
  }

  /** CSR variant: term i's positions are `flats(i)(starts(i) until ends(i))`.
    * Lets the per-segment phrase executor score each leapfrog match without
    * materializing a positions array per (doc, term) — on hot phrases that
    * is tens of thousands of allocations per segment task. (The slop > 0
    * path does allocate the shifted copies; sloppy phrases are rare and the
    * reference's scorer also materializes per-doc position vectors.)
    */
  def phraseCountCsr(offsets: Array[Int], flats: Array[Array[Int]],
                     starts: Array[Int], ends: Array[Int], slop: Int): Int = {
    if (slop == 0) {
      val first = flats(0)
      var count = 0
      var fi = starts(0)
      while (fi < ends(0)) {
        val base = first(fi) - offsets(0)
        var ok = true; var i = 1
        while (ok && i < offsets.length) {
          ok = java.util.Arrays.binarySearch(flats(i), starts(i), ends(i),
            base + offsets(i)) >= 0
          i += 1
        }
        if (ok) count += 1
        fi += 1
      }
      count
    } else {
      // shifted positions: pos + (maxOffset - termOffset), so an exact
      // phrase aligns every term to the same value (phrase_scorer.rs:379)
      var maxOff = offsets(0); var i = 1
      while (i < offsets.length) { if (offsets(i) > maxOff) maxOff = offsets(i); i += 1 }
      def shifted(t: Int): Array[Int] = {
        val d = maxOff - offsets(t)
        val out = new Array[Int](ends(t) - starts(t))
        var j = 0
        while (j < out.length) { out(j) = flats(t)(starts(t) + j) + d; j += 1 }
        out
      }
      if (offsets.length == 2)
        countWithSlop(shifted(0), shifted(1), slop)
      else {
        var left = shifted(0)
        var slops = new Array[Int](0) // empty = all zero so far
        i = 1
        while (i < offsets.length - 1 && left.nonEmpty) {
          val (p, s) = carryingSlopFold(left, slops, shifted(i), slop)
          left = p; slops = s
          i += 1
        }
        if (left.isEmpty) 0
        else carryingSlopCount(left, slops, shifted(offsets.length - 1), slop)
      }
    }
  }

  /** `intersection_count_with_slop` (phrase_scorer.rs:145-190), count-only. */
  private def countWithSlop(left: Array[Int], right: Array[Int], slop: Int): Int = {
    var li = 0; var ri = 0; var count = 0
    while (li < left.length && ri < right.length) {
      val l = left(li); val r = right(ri)
      if (math.abs(l - r) <= slop) {
        // advance to the best left for this right (same-range later value)
        while (li + 1 < left.length && left(li + 1) <= r) li += 1
        count += 1; li += 1; ri += 1
      } else if (l < r) li += 1
      else ri += 1
    }
    count
  }

  /** `intersection_count_with_carrying_slop` with update_left = true:
    * returns the merged (positions, carried slops). Ported verbatim,
    * including its documented approximation (phrase_scorer.rs:226-229).
    */
  private def carryingSlopFold(left: Array[Int], slops: Array[Int],
      right: Array[Int], maxSlop: Int): (Array[Int], Array[Int]) = {
    val outP = scala.collection.mutable.ArrayBuffer.empty[Int]
    val outS = scala.collection.mutable.ArrayBuffer.empty[Int]
    def add(s: Int, p: Int): Unit = {
      if (outP.nonEmpty && outP.last == p) {
        if (s < outS.last) outS(outS.length - 1) = s
      } else { outP += p; outS += s }
    }
    if (left.isEmpty || right.isEmpty) return (Array.empty, Array.empty)
    var li = 0; var ri = 0
    var done = false
    while (!done) {
      val l = left(li)
      val sSoFar = if (li < slops.length) slops(li) else 0
      val r = right(ri)
      val dist = sSoFar + math.abs(l - r)
      if (dist <= maxSlop) {
        val leftSmaller = l < r
        val smaller = if (leftSmaller) l else r
        val larger = if (leftSmaller) r else l
        val smallerArr = if (leftSmaller) left else right
        var si = if (leftSmaller) li else ri
        var newSlop = dist
        add(newSlop, smaller)
        while (si + 1 < smallerArr.length && smallerArr(si + 1) <= larger) {
          si += 1
          newSlop = sSoFar + math.abs(smallerArr(si) - larger)
          add(newSlop, smallerArr(si))
        }
        add(newSlop, larger)
        li += 1; ri += 1
      } else if (l < r) li += 1
      else ri += 1
      if (li >= left.length || ri >= right.length) {
        // finish rest (phrase_scorer.rs:313-337): fold the remaining side
        // against the exhausted side's LAST value
        if (li >= left.length) {
          val lv = left(left.length - 1)
          val s = if (slops.nonEmpty) slops(slops.length - 1) else 0
          var k = ri
          while (k < right.length) {
            val ns = math.abs(lv - right(k)) + s
            if (ns <= maxSlop) add(ns, right(k))
            k += 1
          }
        } else {
          val rv = right(right.length - 1)
          var k = li
          while (k < left.length) {
            val s = if (k < slops.length) slops(k) else 0
            val ns = math.abs(left(k) - rv) + s
            if (ns <= maxSlop) add(ns, left(k))
            k += 1
          }
        }
        done = true
      }
    }
    (outP.toArray, outS.toArray)
  }

  /** The same fold with update_left = false: only the match count. */
  private def carryingSlopCount(left: Array[Int], slops: Array[Int],
      right: Array[Int], maxSlop: Int): Int = {
    if (left.isEmpty || right.isEmpty) return 0
    var li = 0; var ri = 0; var count = 0
    var done = false
    while (!done) {
      val l = left(li)
      val sSoFar = if (li < slops.length) slops(li) else 0
      val r = right(ri)
      if (sSoFar + math.abs(l - r) <= maxSlop) {
        // (the reference's better-match scan advances only a local copy
        // feeding add_val, which the count-only variant has none of)
        count += 1; li += 1; ri += 1
      } else if (l < r) li += 1
      else ri += 1
      if (li >= left.length || ri >= right.length) done = true
    }
    count
  }
}
