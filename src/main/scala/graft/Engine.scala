package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{FieldDef, IndexBuilder, IndexConfig, Manifest}
import graft.query.{Query, Searcher, TermQ}

/** Session-scoped engine facade used by SparkEntry/Verify/Bench: builds (or
  * reuses) the inverted index over a test-data directory's `documents` table
  * and exposes the query surface over it.
  *
  * The index is memoized per (JVM, sfDir): Verify runs ~35 query entries in
  * one JVM, and all full-text entries share one build.
  */
object Engine {

  /** documents.parquet -> the engine's input shape (BASELINE.json
    * input_hint: repo/path/commit/lang/content). `doc_id` rides in `path`
    * so results can be mapped back to the oracle's key space.
    */
  def documentsAsSource(spark: SparkSession, sfDir: String): DataFrame =
    projectDocuments(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** The documents-table -> engine-input projection, applicable to a batch
    * OR a streaming DataFrame (all expressions are deterministic per-row,
    * so the streaming ingest path indexes byte-identical rows).
    */
  def projectDocuments(documents: DataFrame): DataFrame =
    documents
      .select(
        col("source").as("repo"),
        col("doc_id").cast("string").as("path"),
        lit("c000000000000000000000000000000000000000").as("commit"),
        col("lang"),
        col("text").as("content"),
        // pre-tokenized field value (`src/tokenizer/tokenized_string.rs`):
        // tokens supplied by the caller as array<struct<text, position>>,
        // indexed verbatim with no analyzer — positions deliberately gapped
        // (0, 2, 4) to prove verbatim position handling; derived
        // deterministically so the DuckDB oracle can replay the same tokens
        expr("""array(struct(source AS text, 0 AS position),
                      struct(lang AS text, 2 AS position),
                      struct(concat('b', CAST(doc_id % 7 AS STRING)) AS text,
                             4 AS position))""").as("srctok"),
        // typed single-value fields (`field_type.rs:170-190`) — values
        // derived deterministically from the row so DuckDB replays the
        // equivalent predicates without knowing the term encodings
        col("n_chars").cast("string").as("nchars"),                    // U64
        expr("""date_format(date_add(DATE'2020-01-01', CAST(doc_id % 60 AS INT)),
                "yyyy-MM-dd'T'HH:mm:ss'Z'")""").as("mtime"),           // DATE
        // DATE with millisecond precision (`date_time_options.rs`): the
        // input carries MICROsecond digits, which the date_millis chain
        // truncates at indexing — millis = doc_id % 997, micros extra =
        // doc_id % 61 (dropped); DuckDB replays the predicate in integers
        expr("""concat(date_format(date_add(DATE'2020-01-01', CAST(doc_id % 60 AS INT)),
                "yyyy-MM-dd'T'00:00:00."),
                format_string('%03d%03d', CAST(doc_id % 997 AS INT), CAST(doc_id % 61 AS INT)),
                'Z')""").as("mtimems"),                                // DATE millis
        // DATE with nanosecond precision (`common/src/datetime.rs:24`,
        // DateTimePrecision::Nanoseconds — the DateTime's native
        // resolution): the 9-digit fraction is doc_id % 1e9 (the modulus
        // keeps the canonical 9-digit width — lexicographic ==
        // chronological — at EVERY scale, where a bare doc_id would emit a
        // 10th digit past 1e9 rows), so range bounds discriminate at the
        // NANOSECOND digit on real rows; DuckDB replays in integers with
        // the same modulus
        expr("""concat(date_format(date_add(DATE'2020-01-01', CAST(doc_id % 60 AS INT)),
                "yyyy-MM-dd'T'00:00:00."),
                format_string('%09d', CAST(doc_id % 1000000000 AS INT)),
                'Z')""").as("mtimens"),                                // DATE nanos
        expr("CASE WHEN n_chars % 2 = 0 THEN 'true' ELSE 'false' END").as("even"), // BOOL
        format_string("%04x", (col("doc_id") % 65521).cast("int")).as("blob"), // BYTES (hex)
        // the same text again under an en_stem-analyzed field
        // (src/tokenizer/stemmer.rs) — query-side forms like "queries"
        // unify with corpus forms like "query" through Porter2
        col("text").as("stemmed"),
        // schema-less JSON field value (doc/src/json.md): a JSON object per
        // doc, flattened into typed path terms at index time; derived
        // deterministically so DuckDB replays the equivalent predicates
        expr("""to_json(named_struct(
                  'src', source,
                  'info', named_struct('lang', lang, 'n', n_chars)))""").as("meta"),
        // MULTI-VALUED text field (the same field added several times per
        // doc, `postings_writer.rs:136-160`): three single-token values,
        // so positions land at 0 / 2 / 4 under POSITION_GAP = 1 — a term
        // matches any element; a phrase never crosses a value at slop 0
        expr("""array(lang, source, concat('t', CAST(doc_id % 5 AS STRING)))""")
          .as("tags"),
        // MULTI-VALUED numeric fast field (columnar multivalue column):
        // RangeQ/ExistsQ match when ANY element satisfies the bounds
        expr("array(n_chars, n_chars * CAST(3 AS BIGINT))").as("sizes"),
        // IpAddr field (`ip_options.rs`): textual v6 literals normalized to
        // canonical-IPv6 terms at index time; derived deterministically so
        // DuckDB replays the predicate as doc_id % 200
        format_string("2001:db8::%x", pmod(col("doc_id"), lit(200)).cast("int"))
          .as("ipaddr"))

  private val searchers = new java.util.concurrent.ConcurrentHashMap[String, Searcher]()

  /** Index schema for the documents corpus: the default TEXT field `content`
    * plus two STRING-preset fields (raw tokenizer, docs-only record) — the
    * multi-field schema surface (`src/schema/field_type.rs:170-190`,
    * `text_options.rs:264-280`).
    */
  val docsConfig: IndexConfig = IndexConfig(numSegments = 4,
    extraFields = Seq(FieldDef.STRING("lang"), FieldDef.STRING("repo"),
      // array-typed input column => indexed as pre-tokenized values
      FieldDef("srctok", "default", "position"),
      // Porter2-stemmed twin of the content text (`stemmer.rs:12-31`)
      FieldDef("stemmed", "en_stem", "position"),
      // typed fields: order-preserving hex/ISO terms (field_type.rs)
      FieldDef.U64("nchars"), FieldDef.DATE("mtime"),
      FieldDef.DATE("mtimems", "millis"),
      FieldDef.DATE("mtimens", "nanos"),
      FieldDef.BOOL("even"), FieldDef.BYTES("blob"),
      // schema-less JSON object field (doc/src/json.md)
      FieldDef("meta", "json", "position"),
      // multi-valued text field: array<string> input column, per-value
      // analysis with POSITION_GAP=1 position continuation
      FieldDef("tags", "default", "position"),
      // IpAddr terms (canonical-IPv6 equality; ranges belong to the
      // fast-field path since RFC 5952 text is not order-preserving)
      FieldDef.IPADDR("ipaddr")),
    // multivalued numeric fast field: stored in docmap, never tokenized
    fastFields = Seq("sizes"))

  /** Parser compile options matching docsConfig's schema: per-field
    * analyzer chains + the numeric docmap fast-field columns.
    */
  def parseOpts: graft.query.Grammar.CompileOpts =
    graft.query.Grammar.CompileOpts(
      fieldTokenizers = Map(docsConfig.field -> "default") ++
        docsConfig.extraFields.map(f => f.name -> f.tokenizer))

  private def indexDirFor(sfDir: String): String = {
    // keyed by (sfDir, configHash): a schema change must invalidate the
    // memoized on-disk index, not silently reuse a stale one
    val key = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$sfDir|${docsConfig.configHash}".getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    new java.io.File(s"target/graft-index/$key").getAbsolutePath
  }

  /** Build-if-absent and pin a Searcher over the sfDir's documents. */
  def searcher(spark: SparkSession, sfDir: String): Searcher =
    searchers.computeIfAbsent(sfDir, { _ =>
      val dir = indexDirFor(sfDir)
      if (!Manifest.exists(dir)) {
        IndexBuilder.build(spark, documentsAsSource(spark, sfDir), dir, docsConfig)
      }
      new Searcher(spark, dir)
    })

  private val streamSearchers = new java.util.concurrent.ConcurrentHashMap[String, Searcher]()

  /** End-to-end STREAMING ingestion (the reference's IndexWriter
    * add-then-commit loop, `ARCHITECTURE.md:31`, re-expressed as
    * Structured Streaming): the corpus is staged as 3 parquet files, read
    * back as a file-source stream with `maxFilesPerTrigger=1`, so
    * `Trigger.AvailableNow` drives THREE foreachBatch micro-batches — each
    * one an `IndexBuilder.append` commit (fresh immutable segments + an
    * atomic manifest republish). The returned Searcher pins the final
    * commit point and sees the union of all three commits' segments.
    */
  def streamIngestedSearcher(spark: SparkSession, sfDir: String): Searcher =
    streamSearchers.computeIfAbsent(sfDir, { _ =>
      val indexDir = indexDirFor(sfDir) + "-stream"
      // completion marker, NOT Manifest.exists: append republishes a valid
      // manifest after EVERY micro-batch, so a run interrupted mid-stream
      // leaves a manifest that looks finished but holds a corpus subset —
      // only a marker written after awaitTermination proves all commits ran
      val doneMarker = new java.io.File(indexDir, "_STREAM_COMPLETE")
      if (!doneMarker.exists()) {
        rmrf(new java.io.File(indexDir)) // wipe any partial ingest
        val stage = indexDir + "-in"
        spark.read.parquet(s"$sfDir/documents.parquet")
          .repartitionByRange(3, col("doc_id"))
          .write.mode("overwrite").parquet(stage)
        val schema = spark.read.parquet(stage).schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stage)
        val q = graft.streaming.StreamIngest.startDf(
          spark, projectDocuments(stream), indexDir, docsConfig,
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        q.awaitTermination()
        rmrf(new java.io.File(stage)) // staging copy no longer needed
        java.nio.file.Files.writeString(doneMarker.toPath, "done")
      }
      new Searcher(spark, indexDir)
    })

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmrf)
    f.delete(); ()
  }

  private val compactSearchers = new java.util.concurrent.ConcurrentHashMap[String, Searcher]()

  /** Build + FULLY COMPACT + GC a twin index: all segments merged into one
    * (`index/Merger.merge` — stacking docId remap, rank-keyed re-blocking,
    * exact stats recompute), dead batch directories garbage-collected, and
    * a Searcher pinned to the post-merge manifest. Queries over it must
    * answer exactly like the multi-segment build — the driver-gated form
    * of MergeSpec's merge ≡ build invariant (merge was the one §2.4 family
    * previously covered by unit tests only). Uses the interruption-safe
    * marker gate of the streaming twin: Merger commits a valid manifest
    * after every step, so only the marker proves the merge+gc completed.
    */
  def compactedSearcher(spark: SparkSession, sfDir: String): Searcher =
    compactSearchers.computeIfAbsent(sfDir, { _ =>
      val indexDir = indexDirFor(sfDir) + "-compact"
      val doneMarker = new java.io.File(indexDir, "_COMPACT_COMPLETE")
      if (!doneMarker.exists()) {
        rmrf(new java.io.File(indexDir))
        IndexBuilder.build(spark, documentsAsSource(spark, sfDir), indexDir, docsConfig)
        val meta = Manifest.read(indexDir)
        graft.index.Merger.merge(spark, indexDir, docsConfig,
          meta.segments.map(_.segId), meta.segments.map(_.segId).max + 1)
        Manifest.gc(indexDir)
        java.nio.file.Files.writeString(doneMarker.toPath, "done")
      }
      new Searcher(spark, indexDir)
    })

  /** Resolve an external doc_id to its (segId, docId) address. */
  def addressOf(sr: Searcher, docId: Long): (Int, Int) = {
    val spark = sr.spark
    import spark.implicits._
    sr.docmap.where($"path" === docId.toString)
      .select($"segId", $"docId").as[(Int, Int)].head()
  }

  /** A second index over the same documents with a delete applied — the
    * tombstone path end to end: build, delete-by-term, re-pin a Searcher
    * (readers see deletes only on re-pin, the reference's reload-on-commit).
    */
  def searcherWithDelete(spark: SparkSession, sfDir: String, deleteTerm: String): Searcher =
    searchers.computeIfAbsent(s"$sfDir#del:$deleteTerm", { _ =>
      val dir = indexDirFor(sfDir) + "-del"
      if (!Manifest.exists(dir)) {
        IndexBuilder.build(spark, documentsAsSource(spark, sfDir), dir, docsConfig)
      }
      if (!new java.io.File(s"$dir/deletes").exists()) {
        index.Deletes.deleteByQuery(spark, dir, TermQ(deleteTerm), docsConfig.field)
        ()
      }
      new Searcher(spark, dir)
    })

  /** Matching doc_ids of a compiled query, ascending — the unscored
    * (const-score) result shape shared by set/range/regex/fuzzy/phrase
    * queries. Output column: doc_id BIGINT.
    */
  def docIds(sr: Searcher, q: Query): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    sr.compile(q)
      .join(sr.docmap.select($"segId", $"docId", $"path"), Seq("segId", "docId"))
      .select($"path".cast("long").as("doc_id"))
      .orderBy("doc_id")
  }

  /** Hierarchical facet counts (`src/collector/facet_collector.rs:183-418`):
    * each matching doc contributes to every ancestor of its facet path
    * `/lang/repo` — the FacetTokenizer explode (`facet_tokenizer.rs`) as a
    * Dataset pipeline: explode ancestor prefixes, groupBy count.
    */
  def facetCounts(sr: Searcher, q: Query): DataFrame = {
    val facetU = udf((lang: String, repo: String) =>
      graft.analysis.Analysis.facetTokenize(s"/$lang/$repo"))
    docIdsWithDocmap(sr, q)
      .select(explode(facetU(col("lang"), col("repo"))).as("facet"))
      .groupBy("facet").agg(count(lit(1)).as("cnt"))
      .orderBy("facet")
  }

  // ------------------------------------------------------------ F64 scoring

  /** Shared Spark-SQL / DuckDB-SQL BM25 fragment, double-typed end to end
    * (`e0` exponent literals parse as DOUBLE in both dialects; plain decimal
    * literals would parse as DECIMAL and change the arithmetic).
    *
    * The engine's tantivy-parity path is f32 (`graft.score.Bm25`, verified
    * in the test suite); this f64 twin exists because the external oracle
    * (DuckDB) can only do double math. Same formula, same operation order:
    *   idf = ln(1 + (N - df + 0.5)/(df + 0.5)); weight = idf * (1 + k1)
    *   score = weight * tf / (tf + k1*(1 - b + b*dl/avgdl))
    */
  def bm25F64(nDocsSql: String, avgdlSql: String,
              dfCol: String = "df", tfCol: String = "tf", dlCol: String = "dl"): String =
    s"ln(1e0 + ($nDocsSql - $dfCol + 0.5e0) / ($dfCol + 0.5e0)) * 2.2e0 * " +
    s"($tfCol / ($tfCol + 1.2e0 * (0.25e0 + 0.75e0 * $dlCol / ($avgdlSql))))"

  /** Per-(doc, term) BM25 components read from the INDEX tables (not the raw
    * text): tf from the posting blocks, dl (exact token count) from docmap,
    * df/N/avgdl from the term dictionary and stats — so an oracle match
    * certifies the index content end to end.
    *
    * Output: (doc_id BIGINT, term STRING, sc DOUBLE). The df map is tiny
    * (one row per query term) and is broadcast.
    */
  def termScoresF64(sr: Searcher, terms: Seq[String]): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    val distinctTerms = terms.distinct
    val dfs = sr.docFreqs(distinctTerms).toSeq.toDF("term", "df")
    val nDocs = sr.totalNumDocs
    val avgdlSql = s"CAST(${sr.totalNumTokens} AS DOUBLE) / $nDocs"
    sr.postings
      .where($"field" === sr.field && $"term".isin(distinctTerms: _*))
      .select($"segId", $"term", explode(arrays_zip($"docIds", $"tfs")).as("p"))
      .select($"segId", $"term", $"p.docIds".as("docId"), $"p.tfs".cast("long").as("tf"))
      .join(sr.docmap.select($"segId", $"docId", $"path", $"tokenCount".as("dl")),
        Seq("segId", "docId"))
      .join(broadcast(dfs), Seq("term"))
      .select($"path".cast("long").as("doc_id"), $"term",
        expr(bm25F64(nDocs.toString, avgdlSql)).as("sc"))
  }

  /** Matching docs joined back to their docmap row (lang, contentLen, ...) —
    * the "fast field" access path used by facet/histogram/sort-by-field
    * collectors. Output keeps doc_id BIGINT plus the docmap columns.
    */
  def docIdsWithDocmap(sr: Searcher, q: Query): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    sr.compile(q)
      .join(sr.docmap, Seq("segId", "docId"))
      .withColumn("doc_id", $"path".cast("long"))
  }

  /** Score Explanation (`src/query/explanation.rs`, Lucene-format BM25
    * breakdown `bm25.rs:191-221`): per (doc, term) the idf / tf / dl
    * components alongside the final score, f64 for the DuckDB oracle.
    */
  def explainF64(sr: Searcher, terms: Seq[String]): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    val distinctTerms = terms.distinct
    val dfs = sr.docFreqs(distinctTerms).toSeq.toDF("term", "df")
    val nDocs = sr.totalNumDocs
    val avgdlSql = s"CAST(${sr.totalNumTokens} AS DOUBLE) / $nDocs"
    sr.postings
      .where($"field" === sr.field && $"term".isin(distinctTerms: _*))
      .select($"segId", $"term", explode(arrays_zip($"docIds", $"tfs")).as("p"))
      .select($"segId", $"term", $"p.docIds".as("docId"), $"p.tfs".cast("long").as("tf"))
      .join(sr.docmap.select($"segId", $"docId", $"path", $"tokenCount".as("dl")),
        Seq("segId", "docId"))
      .join(broadcast(dfs), Seq("term"))
      .select($"path".cast("long").as("doc_id"), $"term", $"tf", $"dl",
        round(expr(s"ln(1e0 + ($nDocs - df + 0.5e0) / (df + 0.5e0))"), 6).as("idf"),
        round(expr(bm25F64(nDocs.toString, avgdlSql)), 6).as("score"))
      .orderBy("doc_id", "term")
  }

  /** Disjunctive (pure-Should) BM25 top-k in f64: score = sum of matching
    * term scores; deterministic total order (rounded score desc, doc_id).
    */
  def topKShouldF64(sr: Searcher, terms: Seq[String], k: Int): DataFrame =
    termScoresF64(sr, terms)
      .groupBy("doc_id").agg(round(sum("sc"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** BATCH top-k: N disjunctive BM25 queries answered by ONE postings scan.
    *
    * Throughput-mode retrieval — query-log replay, label-by-query
    * classification, semantic routing — is where a distributed engine beats
    * a per-query one: tantivy answers queries one at a time against an mmap
    * (single-digit ms each but strictly serial per core), while here the
    * whole batch amortizes to one pruned scan + one shuffle regardless of
    * batch size. The (qid, term) membership table broadcasts (bounded by
    * the batch's vocabulary, kilobytes for thousands of queries), per-doc
    * partial sums combine map-side through the hash aggregate, and the
    * per-qid top-k is a window over qid partitions — N independent heaps,
    * exactly the per-query collector state, shuffled once by qid.
    *
    * Scores are BIT-IDENTICAL to running [[topKShouldF64]] per qid (same
    * f64 formula, same rounding, same tie order), which BatchTopKSpec
    * asserts and the `ft_batch_topk` oracle replays in DuckDB.
    *
    * Output: (qid STRING, doc_id BIGINT, score DOUBLE), ordered
    * (qid, score desc, doc_id), at most k rows per qid.
    */
  def topKBatchF64(sr: Searcher, queries: Seq[(String, Seq[String])], k: Int): DataFrame = {
    val qids = queries.map(_._1)
    require(qids.distinct.length == qids.length,
      s"duplicate qids in a batch: ${qids.diff(qids.distinct).distinct.mkString(", ")}")
    val spark = sr.spark
    import spark.implicits._
    val qt = queries.flatMap { case (qid, ts) => ts.distinct.map(qid -> _) }
      .toDF("qid", "term")
    val allTerms = queries.flatMap(_._2).distinct
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy(desc("score"), asc("doc_id"))
    termScoresF64(sr, allTerms)
      .join(broadcast(qt), Seq("term"))
      .groupBy($"qid", $"doc_id").agg(round(sum($"sc"), 6).as("score"))
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= k).drop("rn")
      .orderBy($"qid", desc("score"), asc("doc_id"))
  }

  /** Conjunctive (all-Must) BM25 top-k in f64: docs containing every term. */
  def topKMustF64(sr: Searcher, terms: Seq[String], k: Int): DataFrame = {
    val n = terms.distinct.length
    termScoresF64(sr, terms)
      .groupBy("doc_id")
      .agg(round(sum("sc"), 6).as("score"), count(lit(1)).as("nt"))
      .where(col("nt") === n).drop("nt")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** DisjunctionMax in f64: max + tieBreaker * (sum - max). */
  def topKDisMaxF64(sr: Searcher, terms: Seq[String], tie: String, k: Int): DataFrame =
    termScoresF64(sr, terms)
      .groupBy("doc_id")
      .agg(round(expr(s"max(sc) + $tie * (sum(sc) - max(sc))"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)

  /** Scored PhrasePrefixQuery (MultiPrefix shape) in f64 — the twin of the
    * reference semantics wired in `Searcher.compile`
    * (`phrase_prefix_scorer.rs:84-93`, `phrase_prefix_query.rs:113-115`):
    * weight = for_terms over the FIXED terms' dfs, tf = the fixed phrase's
    * occurrence count, the prefix expansion only gates matching. Output
    * (doc_id, score DOUBLE rounded 6) ascending.
    */
  def phrasePrefixScoredF64(sr: Searcher, terms: Seq[(Int, String)],
                            prefix: (Int, String), maxExpansions: Int = 50): DataFrame = {
    val expansions = sr.prefixExpansions(prefix._2, maxExpansions)
    val counts = sr.slotPhraseCounts(terms.map(t => Seq(t._2)),
      terms.map(_._1).toArray, slop = 0, prefix = Some((prefix._1, expansions)))
    scoreCountsF64(sr, counts, terms.map(_._2))
  }

  /** Scored RegexPhraseQuery in f64 — twin of `regex_phrase_weight.rs`:
    * tf = the slot-union phrase count; weight = for_terms over the raw
    * PATTERN STRINGS as terms (`regex_phrase_query.rs:107-111,144-149`),
    * i.e. df = 0 unless a pattern is literally a dictionary term.
    */
  def regexPhraseScoredF64(sr: Searcher, patterns: Seq[(Int, String)],
                           slop: Int = 0, maxExpansions: Int = 1000): DataFrame = {
    val slots = patterns.map(p => sr.regexExpansions(p._2, maxExpansions))
    val counts = sr.slotPhraseCounts(slots, patterns.map(_._1).toArray, slop)
    scoreCountsF64(sr, counts, patterns.map(_._2))
  }

  /** Shared scorer for the phrase twins: multi-term BM25 in double with the
    * exact dl from docmap (the established oracle convention), tf = cnt.
    */
  private def scoreCountsF64(sr: Searcher, counts: DataFrame,
                             weightTerms: Seq[String]): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    val dfs = sr.docFreqs(weightTerms.distinct)
    val nDocs = sr.totalNumDocs
    val idfSum = weightTerms
      .map(t => graft.score.Bm25.F64.idf(dfs.getOrElse(t, 0L), nDocs)).sum
    val weight = idfSum * 2.2d
    val avgdlSql = s"CAST(${sr.totalNumTokens} AS DOUBLE) / $nDocs"
    counts
      .join(sr.docmap.select($"segId", $"docId", $"path", $"tokenCount".as("dl")),
        Seq("segId", "docId"))
      .select($"path".cast("long").as("doc_id"),
        round(expr(s"$weight * (cnt / (cnt + 1.2e0 * (0.25e0 + 0.75e0 * dl / ($avgdlSql))))"),
          6).as("score"))
      .orderBy("doc_id")
  }

  /** Scored MoreLikeThis top-k in f64 — the double twin of the boosted
    * disjunction MoreLikeThis expands to (`more_like_this.rs:109-121`):
    * the term SELECTION (and per-term boost = score * boost_factor / best)
    * is computed driver-side in double via `Searcher.mltSelect`, then each
    * matching doc scores sum(bm25_f64 * boost) over the selected terms.
    * Output (doc_id, score DOUBLE rounded 6), (score desc, doc_id) cut.
    */
  def topKMltF64(sr: Searcher, m: graft.query.MoreLikeThisQ, k: Int): DataFrame = {
    val spark = sr.spark
    import spark.implicits._
    val sel = sr.mltSelect(m)
    if (sel.isEmpty)
      return Seq.empty[(Long, Double)].toDF("doc_id", "score")
    val best = sel.map(_._2).max
    val boosts = sel.map { case (t, s) => (t, s * m.boostFactor / best) }
    termScoresF64(sr, boosts.map(_._1))
      .join(broadcast(boosts.toDF("term", "boost")), Seq("term"))
      .groupBy("doc_id")
      .agg(round(sum(col("sc") * col("boost")), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** Boosted disjunction in f64: per-term multiplicative boost (the
    * weight-level boost of `bm25.rs:80-87`), boosts given as e0 SQL
    * literals for dialect-stable double typing.
    */
  def topKBoostedF64(sr: Searcher, boosts: Seq[(String, String)], k: Int): DataFrame = {
    val spark = sr.spark
    val boostCase = boosts.map { case (t, b) => s"WHEN '$t' THEN $b" }
      .mkString("CASE term ", " ", " ELSE 1e0 END")
    termScoresF64(sr, boosts.map(_._1))
      .withColumn("sc", col("sc") * expr(boostCase))
      .groupBy("doc_id").agg(round(sum("sc"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }
}
