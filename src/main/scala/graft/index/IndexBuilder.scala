package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analysis.{Analysis, FieldNorm}
import graft.score.Bm25

/** Batch index build — the Spark-native replacement for the reference's
  * `IndexWriter` pipeline (`src/indexer/index_writer.rs`,
  * `segment_writer.rs`, `postings_writer.rs`, `serializer.rs`).
  *
  * Shape (SURVEY.md §3.1): read input -> flatMap analyze (with per-doc local
  * aggregation, replacing the in-RAM arena hashmap) -> shuffle on
  * (segId, docId) for fieldnorms -> shuffle on (segId, term) + sort ->
  * streaming 128-doc block assembly in mapPartitions -> Parquet segment
  * tables -> per-batch checkpoint -> atomic manifest commit.
  *
  * Scale notes:
  *  - Segment membership is a pure hash of the primary key, so the built
  *    index is IDENTICAL regardless of input partitioning or parallelism
  *    (local[8] == local[32] == 1000 executors) — required for rank identity
  *    and resumability.
  *  - The (segId, term) shuffle never splits a posting list: skew from hot
  *    terms (keywords like `if`) is bounded by segment sizing (a posting list
  *    holds at most one segment's docs; cap segments like the reference's
  *    MAX_DOC_LIMIT, `merger.rs:27`), and block assembly streams with O(block)
  *    memory, so a hot term costs linear time in one task, not OOM.
  *  - Batches are the checkpoint/resume unit: segId % buildBatches == b.
  *    A restarted build skips checkpointed batches (content-addressed by
  *    config hash) — the north rule's per-partition lineage requirement.
  */
object IndexBuilder {

  /** Parquet row-group size for postings writes. Row groups are the unit of
    * predicate pruning: with term-major sorted files, a small group covers a
    * narrow term range, so a term-equality scan skips ~all groups from the
    * footer stats alone instead of decoding the file's whole term column
    * (measured ~400 ms -> ~tens of ms per warm query at 600k docs).
    * Overridable (system property) because the size trades query pruning
    * granularity against per-flush write overhead on the build side.
    */
  def PRUNE_BLOCK_BYTES: Long =
    java.lang.Long.getLong("graft.postings.rowgroup.bytes", 1L << 20)

  /** Input-column dispatch for an extra field (one classifier shared by the
    * analysis flatMap and the stats/token-count paths so they cannot
    * drift): 0 = scalar value analyzed by the chain; 1 = pre-tokenized
    * array<struct<text, position>>; 2 = multi-valued array<string>. Other
    * array element types are a configuration error — multivalued numeric
    * columns belong in IndexConfig.fastFields, not extraFields.
    */
  private[index] def arrayFieldMode(name: String,
      dt: org.apache.spark.sql.types.DataType): Int = dt match {
    case at: org.apache.spark.sql.types.ArrayType =>
      at.elementType match {
        case _: org.apache.spark.sql.types.StringType => 2
        case _: org.apache.spark.sql.types.StructType => 1
        case other => throw new IllegalArgumentException(
          s"extra field $name: array<$other> is not indexable — " +
          "use IndexConfig.fastFields for multivalued numeric columns")
      }
    case _ => 0
  }

  /** Token-count column for an extra field over a docmap-shaped frame —
    * re-derives the field's fieldnorm source (the per-doc token count under
    * ITS analyzer chain); pre-tokenized array columns count verbatim. Shared
    * by the build-side stats job and the merge-side exact stats recompute.
    */
  def fieldTokenCountCol(dm: DataFrame, f: FieldDef): org.apache.spark.sql.Column = {
    val tok = f.tokenizer
    val mode = arrayFieldMode(f.name, dm.schema(f.name).dataType)
    // MAX_TOKEN_LEN parity: stats count only subscribed tokens (see
    // perFieldTerms), so over-long tokens are excluded here too
    if (mode == 1) coalesce(size(expr(
      s"filter(${f.name}, t -> octet_length(t.text) <= ${Analysis.MaxTokenLen})"))
      .cast("long"), lit(0L))
    else if (mode == 2) {
      // multi-valued field: total tokens across all values under the chain
      val cntMv = udf((vs: Seq[String]) =>
        if (vs == null) 0L
        else Analysis.multiValueTerms(tok, vs)
          .count(t => Analysis.withinMaxTokenLen(t._1)).toLong)
      cntMv(col(f.name))
    }
    else {
      val cntU = udf((v: String) =>
        if (v == null) 0L
        // json: flatten already dropped over-long TOKENS (the path-encoded
        // term may legitimately exceed the cap, like the reference)
        else if (tok == "json") JsonField.flatten(v, "default").length.toLong
        else Analysis.analyzeChain(tok, v)
          .count(t => Analysis.withinMaxTokenLen(t.text)).toLong)
      cntU(col(f.name).cast("string"))
    }
  }

  /** Per-doc analysis + local aggregation: one source row is one document, so
    * the (term -> tf, positions) aggregation is exact map-side work with no
    * shuffle (the reference does the same inside `SegmentWriter`,
    * `segment_writer.rs:146-348`).
    */
  def perDocTerms(segId: Int, docId: Int, content: String,
                  withPositions: Boolean, field: String = "content"): Iterator[DocTermRow] =
    perFieldTerms(segId, docId, field, Analysis.defaultTerms(content),
      if (withPositions) "position" else "freq")

  /** One field's analyzed (term, position) stream -> DocTermRows, honoring
    * the field's IndexRecordOption (`src/schema/index_record_option.rs`):
    * basic = docs only (tf recorded as 1), freq = tf, position = tf + pos.
    */
  def perFieldTerms(segId: Int, docId: Int, field: String,
                    rawTerms: Seq[(String, Int)], record: String,
                    capTokens: Boolean = true): Iterator[DocTermRow] = {
    // MAX_TOKEN_LEN drop (`postings_writer.rs:139-147`, limit
    // `tokenizer/mod.rs:166`): over-long tokens are skipped at subscribe
    // time whatever the chain, keeping other tokens' positions, and are
    // excluded from the fieldnorm token count (num_tokens += happens after
    // the skip). The default chain's RemoveLong(40) makes this a no-op
    // there; it binds for raw/whitespace chains and pre-tokenized input.
    // capTokens = false for inputs whose TOKEN text was already checked
    // upstream of an encoding that lengthens the term (json path terms —
    // the reference checks token.text, not the path-prefixed term bytes).
    val terms =
      if (!capTokens || rawTerms.forall(t => Analysis.withinMaxTokenLen(t._1))) rawTerms
      else rawTerms.filter(t => Analysis.withinMaxTokenLen(t._1))
    if (terms.isEmpty) Iterator.empty
    else {
      // fieldnorm byte from the doc's own (post-filter) token count —
      // computed here so the postings path carries it for free
      val normId = FieldNorm.fieldnormToId(terms.length.toLong)
      if (record == "position") {
        val m = new java.util.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Int]]()
        terms.foreach { case (t, p) =>
          var buf = m.get(t)
          if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty[Int]; m.put(t, buf) }
          buf += p
        }
        val it = m.entrySet().iterator()
        new Iterator[DocTermRow] {
          def hasNext: Boolean = it.hasNext
          def next(): DocTermRow = {
            val e = it.next()
            val ps = e.getValue
            DocTermRow(segId, docId, field, e.getKey, ps.length, normId, ps.toArray)
          }
        }
      } else {
        // basic/freq records never ship positions — count tfs without the
        // per-term position buffers (the positions-off build's hot loop)
        val m = new java.util.LinkedHashMap[String, Array[Int]]()
        terms.foreach { case (t, _) =>
          val c = m.get(t)
          if (c == null) m.put(t, Array(1)) else c(0) += 1
        }
        val it = m.entrySet().iterator()
        new Iterator[DocTermRow] {
          def hasNext: Boolean = it.hasNext
          def next(): DocTermRow = {
            val e = it.next()
            DocTermRow(segId, docId, field, e.getKey,
              if (record == "basic") 1 else e.getValue()(0), normId,
              Array.emptyIntArray)
          }
        }
      }
    }
  }

  /** Streaming 128-doc block assembly over rows sorted by (segId, term,
    * docId). Replaces `PostingsSerializer::write_block`
    * (`serializer.rs:339-451`): per full block emit lastDoc (skip entry) and
    * the block-max WAND pair = argmax of tf_factor(normId, tf) under the
    * segment-local average fieldnorm (`serializer.rs:389-413`; tf_factor does
    * not depend on doc_freq, only on the norm cache). Ties keep the LAST
    * maximal element, like Rust's `max_by`. The tail partial block stores
    * (255, 255) — decodes to a valid upper bound (the reference's VInt tail
    * has no pair and falls back to the term-level max_score).
    */
  private final case class Pending(segId: Int, field: String, term: String)

  /** Block-max WAND pair for one full block: argmax of tf/(tf + cache(norm)),
    * later index wins ties (Rust `max_by`, `serializer.rs:389-413`); tf
    * capped at 255 (`skip.rs:24-27`).
    */
  def blockMaxPair(tfs: Array[Int], norms: Array[Int], cache: Array[Float]): (Int, Int) = {
    var best = -1.0f; var bi = 0; var i = 0
    while (i < tfs.length) {
      val tf = tfs(i).toFloat
      val f = tf / (tf + cache(norms(i) & 0xff))
      if (f >= best) { best = f; bi = i }
      i += 1
    }
    (norms(bi), math.min(tfs(bi), 255))
  }

  def buildBlocks(rows: Iterator[(Int, Int, String, String, Int, Int, Array[Int])],
                  avgFieldnorm: Map[(Int, String), Float],
                  blockSize: Int): Iterator[PostingBlock] =
    new Iterator[PostingBlock] {
      private val caches = scala.collection.mutable.Map.empty[(Int, String), Array[Float]]
      private def cache(segId: Int, field: String): Array[Float] =
        caches.getOrElseUpdate((segId, field), Bm25.computeTfCache(avgFieldnorm((segId, field))))

      private var cur: Pending = null
      private var blockId = 0
      private val docs = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
      private val tfs = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
      private val norms = new scala.collection.mutable.ArrayBuffer[Int](blockSize)
      private val poss = new scala.collection.mutable.ArrayBuffer[Array[Int]](blockSize)
      private var out: PostingBlock = null

      private def emit(full: Boolean): PostingBlock = {
        var maxN = 255; var maxT = 255
        if (full) {
          val (mn, mt) = blockMaxPair(tfs.toArray, norms.toArray, cache(cur.segId, cur.field))
          maxN = mn; maxT = mt
        }
        val b = PostingBlock(cur.segId, cur.field, cur.term, blockId,
          docs.last, docs.length, docs.toArray, tfs.toArray, norms.toArray, maxN, maxT,
          poss.toArray)
        blockId += 1
        docs.clear(); tfs.clear(); norms.clear(); poss.clear()
        b
      }

      private def advance(): Unit = {
        while (out == null && rows.hasNext) {
          val (segId, docId, field, term, tf, normId, positions) = rows.next()
          val key = Pending(segId, field, term)
          if (cur != null && key != cur && docs.nonEmpty) {
            out = emit(full = false) // flush tail block of previous term
            // stash current row by falling through after emit
            cur = key; blockId = 0
            docs += docId; tfs += tf; norms += normId; poss += positions
            return // out is set; the stashed row is flushed on a later call
          }
          if (cur == null || key != cur) { cur = key; blockId = 0 }
          docs += docId; tfs += tf; norms += normId; poss += positions
          if (docs.length >= blockSize) out = emit(full = true)
        }
        if (out == null && docs.nonEmpty) out = emit(full = false)
      }

      def hasNext: Boolean = { if (out == null) advance(); out != null }
      def next(): PostingBlock = {
        if (out == null) advance()
        val r = out; out = null; r
      }
    }

  val fieldnormToIdUdf = udf((n: Long) => FieldNorm.fieldnormToId(n))

  /** Deterministic segment assignment: pure hash of the primary key. */
  def withSegId(input: DataFrame, numSegments: Int): DataFrame =
    input.withColumn("segId",
      pmod(xxhash64(col("repo"), col("path"), col("commit")), lit(numSegments)).cast("int"))

  /** Build (or resume) the index. Returns the committed manifest. */
  def build(spark: SparkSession, input: DataFrame, indexDir: String,
            cfg: IndexConfig): Manifest.IndexMeta = {
    val done = Manifest.listCheckpointedBatches(indexDir, cfg.configHash)
    val allSegs = scala.collection.mutable.ArrayBuffer.empty[SegmentMeta]

    for (b <- 0 until cfg.buildBatches) {
      if (done.contains(b)) {
        allSegs ++= Manifest.readCheckpoint(indexDir, b, cfg.configHash)
      } else {
        val batchDocs = withSegId(input, cfg.numSegments)
          .where(pmod(col("segId"), lit(cfg.buildBatches)) === b)
        val segs = writeBatch(spark, batchDocs, indexDir, b, cfg)
        Manifest.writeCheckpoint(indexDir, b, cfg.configHash, segs)
        allSegs ++= segs
      }
    }
    val meta = Manifest.IndexMeta(cfg.configHash, allSegs.toSeq, cfg.withPositions)
    Manifest.write(indexDir, meta)
    meta
  }

  /** Append one batch of documents as NEW segments to an existing (or
    * empty) index — the micro-batch commit path used by
    * `graft.streaming.StreamIngest` (each micro-batch == one
    * `IndexWriter::commit` of the reference). Segment ids are offset past
    * every live segment so appends never collide.
    */
  def append(spark: SparkSession, input: DataFrame, indexDir: String,
             cfg: IndexConfig): Manifest.IndexMeta = {
    val existing: Option[Manifest.IndexMeta] =
      if (Manifest.exists(indexDir)) Some(Manifest.read(indexDir)) else None
    // maxOption: a freshly-created index has a manifest with ZERO segments
    // (Graft.create) — the first append must not die on empty.max
    val segBase = existing.flatMap(_.segments.map(_.segId).maxOption)
      .map(_ + 1).getOrElse(0)
    val batch = existing.flatMap(_.segments.map(_.batch).maxOption)
      .map(_ + 1).getOrElse(0)
    val batchDocs = withSegId(input, cfg.numSegments)
      .withColumn("segId", col("segId") + segBase)
    val segs = writeBatch(spark, batchDocs, indexDir, batch, cfg)
    val meta = Manifest.IndexMeta(cfg.configHash,
      existing.map(_.segments).getOrElse(Seq.empty) ++ segs, cfg.withPositions)
    Manifest.write(indexDir, meta)
    meta
  }

  /** The per-batch core: batchDocs must carry a `segId` column; writes the
    * four segment tables under `batch=<b>` and returns the segment metas
    * (lineage + metrics + sha256 verification).
    */
  private def writeBatch(spark: SparkSession, batchDocs: DataFrame,
                         indexDir: String, b: Int, cfg: IndexConfig): Seq[SegmentMeta] = {
    import spark.implicits._
    {
      {
        val t0 = System.nanoTime()
        var tPrev = t0
        def phase(name: String): Unit = {
          val now = System.nanoTime()
          if (sys.env.contains("SPARK_GRAFT_PHASE_LOG"))
            System.err.println(f"[build] $name: ${(now - tPrev) / 1e9}%.1f s")
          tPrev = now
        }

        // dense, deterministic per-segment docIds (FIXTURES.md: dense rank
        // over the primary key; never monotonically_increasing_id)
        val w = Window.partitionBy(col("segId")).orderBy(col("repo"), col("path"), col("commit"))
        val base = batchDocs
          .withColumn("docId", (row_number().over(w) - 1).cast("int"))
          .withColumn("sha256", sha2(col("content"), 256))
          .withColumn("contentLen", length(col("content")))

        // Tokenization runs TWICE (docmap fieldnorms inline, postings
        // flatMap below) instead of once-plus-cache: a persisted
        // intermediate of ~100 analyzed rows per doc costs a full
        // serialize+write+read of the bulk data through shared cache/GC
        // bandwidth, which is what stops scaling past ~8 cores; a second
        // tokenize pass is pure per-core CPU and scales at the hardware
        // ceiling. (The reference pays the arena instead —
        // `segment_writer.rs:146-348`; Spark's equivalent currency is a
        // recompute.)
        val tokenCountU = udf((c: String) => Analysis.defaultTermCount(c).toLong)

        // docmap doubles as the docstore (`src/store/`): `content` is the
        // stored field, read only when hydrating hits / MoreLikeThis
        // (Parquet is columnar, so queries that don't project it never
        // touch those pages).
        // extra-field input columns ride along in the docmap (they are the
        // stored field values); fixed columns always present
        val fixedDocmapCols = Seq("segId", "docId", "repo", "path", "commit",
          "lang", "sha256", "normId", "tokenCount", "contentLen", "content")
        val extraDocmapCols =
          (cfg.extraFields.map(_.name) ++ cfg.fastFields)
            .distinct.filterNot(fixedDocmapCols.contains)
        val docmap = base
          .withColumn("tokenCount", tokenCountU($"content"))
          .withColumn("normId", fieldnormToIdUdf($"tokenCount"))
          .select((fixedDocmapCols ++ extraDocmapCols).map(col): _*)
        // the docmap IS the docstore: the configured store compressor
        // (compressors.rs None/Lz4/Zstd) applies to exactly these files
        docmap.write.mode("overwrite")
          .option("compression", cfg.parquetCodec)
          .parquet(s"$indexDir/docmap/batch=$b")
        phase("docmap write (analyze+window)")

        // re-reads of what this batch just wrote pass the written frame's
        // schema, so they run no schema-inference job
        val docmapW = spark.read.schema(docmap.schema).parquet(s"$indexDir/docmap/batch=$b")

        // The postings pass reads (segId, docId, content) back from the
        // just-written docmap (the docstore) instead of branching off `base`:
        // re-deriving docIds would repeat the window's full shuffle+sort of
        // the bulk content — the docmap files already hold the assignment,
        // and a columnar re-read is a narrow scan with no shuffle.
        val withPos = cfg.withPositions
        val primaryField = cfg.field
        val extras = cfg.extraFields
        val analyzed: Dataset[DocTermRow] =
          if (extras.isEmpty)
            docmapW.select($"segId", $"docId", $"content").as[(Int, Int, String)]
              .flatMap { case (s, d, c) => perDocTerms(s, d, c, withPos, primaryField) }
          else {
            // multi-field analysis: each extra field analyzed by ITS chain
            // with ITS record option, concatenated into one posting stream.
            // Array-typed input columns dispatch on element type, mirroring
            // the reference's per-value dispatch in add_document:
            //  - array<struct<text, position>> = pre-tokenized input
            //    (`src/tokenizer/tokenized_string.rs`), indexed verbatim;
            //  - array<string> = a MULTI-VALUED field (the same field added
            //    several times per doc): each value analyzed by the chain,
            //    positions continuing across values with POSITION_GAP = 1
            //    (`postings_writer.rs:17,157`).
            val fieldMode: Array[Int] = extras.map(f =>
              arrayFieldMode(f.name, docmapW.schema(f.name).dataType)).toArray
            val cols = Seq($"segId", $"docId", $"content") ++
              extras.zipWithIndex.map { case (f, i) =>
                if (fieldMode(i) != 0) col(f.name) else col(f.name).cast("string") }
            docmapW.select(cols: _*).flatMap { row =>
              val s = row.getInt(0); val d = row.getInt(1)
              perDocTerms(s, d, row.getString(2), withPos, primaryField) ++
                extras.iterator.zipWithIndex.flatMap { case (f, i) =>
                  if (fieldMode(i) == 2) {
                    val vals = row.getSeq[String](3 + i)
                    if (vals == null || vals.isEmpty) Iterator.empty
                    else perFieldTerms(s, d, f.name,
                      Analysis.multiValueTerms(f.tokenizer, vals), f.record)
                  } else if (fieldMode(i) == 1) {
                    val toks = row.getSeq[org.apache.spark.sql.Row](3 + i)
                    if (toks == null || toks.isEmpty) Iterator.empty
                    else perFieldTerms(s, d, f.name,
                      toks.map(t => (t.getAs[String]("text"), t.getAs[Int]("position"))),
                      f.record)
                  } else {
                    val v = row.getString(3 + i)
                    if (v == null) Iterator.empty
                    else {
                      // "json" chain: schema-less flatten into typed
                      // path-encoded terms (JsonField, doc/src/json.md);
                      // token-length cap already applied inside flatten
                      if (f.tokenizer == "json")
                        perFieldTerms(s, d, f.name, JsonField.flatten(v, "default"),
                          f.record, capTokens = false)
                      else perFieldTerms(s, d, f.name,
                        Analysis.analyzeChain(f.tokenizer, v).map(t => (t.text, t.position)),
                        f.record)
                    }
                  }
                }
            }
          }

        // per-(segment, field) stats (drive both BM25 global stats and the
        // block-max cache); extra fields are short strings — one small agg
        // job per field
        val primaryStats = docmapW.groupBy($"segId")
          .agg(sum($"tokenCount").as("totalNumTokens"), count(lit(1)).as("numDocs"))
          .select($"segId", lit(cfg.field).as("field"), $"totalNumTokens", $"numDocs")
          .as[StatsRow].collect().toSeq
        val extraStats: Seq[StatsRow] = extras.flatMap { f =>
          val cnt = fieldTokenCountCol(docmapW, f)
          docmapW.groupBy($"segId")
            .agg(sum(cnt).as("totalNumTokens"), count(lit(1)).as("numDocs"))
            .select($"segId", lit(f.name).as("field"), $"totalNumTokens", $"numDocs")
            .as[StatsRow].collect().toSeq
        }
        // MAX_DOC_LIMIT (`merger.rs:24-27,181-185`): enforced at build
        // time, where the segment is actually materialized
        primaryStats.find(_.numDocs >= cfg.maxDocsPerSegment).foreach { s =>
          throw new IllegalStateException(
            s"segment ${s.segId} has ${s.numDocs} docs, exceeding the limit " +
              s"${cfg.maxDocsPerSegment}; raise numSegments")
        }
        val statsRows = primaryStats ++ extraStats
        val avgFn: Map[(Int, String), Float] = statsRows
          .map(s => (s.segId, s.field) -> Bm25.averageFieldnorm(s.totalNumTokens, s.numDocs)).toMap
        statsRows.toDS().coalesce(1)
          .write.mode("overwrite").parquet(s"$indexDir/stats/batch=$b")
        phase("stats")

        // The sha256 verification is an independent job (reads the written
        // docmap + the source; touches neither postings nor termdict), so it
        // runs CONCURRENTLY with the long postings job below and hides inside
        // its wall time. It compares an ORDER-INDEPENDENT multiset checksum —
        // bit_xor of xxhash64(repo, path, commit, sha256) plus row count — on
        // both sides instead of a row-by-row shuffle join: the primary key is
        // unique, so equal (count, xor-of-hashes) certifies the row multisets
        // are equal (w.h.p.), i.e. every indexed row's content sha256 matches
        // its source row; and a pure scan+partial-agg has no shuffle to steal
        // cores from the postings job (the join was measured as a flat ~15 s
        // non-scaling tail at every parallelism level). It runs with the
        // caller's local properties (job group, description, tags), so its
        // jobs belong to the caller's job group like the rest of the batch,
        // and names them by its own call site.
        def rowCheck(df: DataFrame, shaCol: org.apache.spark.sql.Column): (Long, Long) =
          // coalesce: bit_xor over an empty batch is NULL, and .as[(Long,
          // Long)] on a null primitive throws — an empty batch must compare
          // equal (0, 0) on both sides, not crash the build
          df.select(xxhash64($"repo", $"path", $"commit", shaCol).as("h"))
            .agg(coalesce(expr("bit_xor(h)"), lit(0L)), count(lit(1)))
            .as[(Long, Long)].head()
        val shaF = org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
            java.util.concurrent.ForkJoinPool.commonPool()) {
          spark.sparkContext.setCallSite(s"sha256 verify of batch $b")
          rowCheck(docmapW, $"sha256") ==
            rowCheck(batchDocs, sha2($"content", 256))
        }

        // postings: normId rides in DocTermRow (no docmap join), shuffle to
        // (segId, field, term), sort, streaming 128-doc block assembly
        val blockSize = cfg.blockSize
        val avgFnB = spark.sparkContext.broadcast(avgFn)
        // Sort is TERM-major (term, segId, docId), not (segId, term, docId):
        // each output file then holds ONE globally term-sorted run, so the
        // per-row-group min/max statistics on `term` are tight ranges and a
        // term-equality query decodes only the row groups actually holding
        // that term (the FST's "seek" re-expressed as Parquet stats pruning,
        // SURVEY §4). Partitioning stays (segId, term) so a hot term's
        // posting lists remain SPREAD over segments/tasks — the build-skew
        // bound is unchanged. Row groups are written small (PRUNE_BLOCK_BYTES)
        // because they are the pruning granularity: the default 128 MB group
        // spans a file's whole term range and prunes nothing.
        // Two shuffle-volume reductions on the dominant stage (the posting
        // rows), both restored post-shuffle where it is free:
        //  - the field STRING becomes a dictionary index into the (tiny,
        //    driver-known) field list — the name rode every row as ~16
        //    UnsafeRow bytes, the int costs its 8-byte slot, and int sort
        //    keys compare faster than string prefixes;
        //  - positions-off builds drop the (always-empty) positions column
        //    — the var-length array header still costs ~16 bytes per row in
        //    the sorter and shuffle files.
        // Measured together: ~10% off the whole build at local[16].
        val fieldNames: Array[String] = (cfg.field +: extras.map(_.name)).toArray
        val fieldIdx: Map[String, Int] = fieldNames.zipWithIndex.toMap
        // the dropped-positions fast path is only sound when NO field emits
        // positions: cfg.withPositions governs the primary field, but each
        // extra field records per ITS IndexRecordOption — an extra with
        // record="position" must keep the positions column even when the
        // primary field drops its own
        val noPositionsAnywhere = !withPos && extras.forall(_.record != "position")
        val blocks =
          if (noPositionsAnywhere)
            analyzed
              .map(r => (r.segId, r.docId, fieldIdx(r.field), r.term, r.tf, r.normId))
              .repartition($"_1", $"_3", $"_4")
              .sortWithinPartitions($"_3", $"_4", $"_1", $"_2")
              .mapPartitions(rows => buildBlocks(
                rows.map { case (s, d, fi, t, tf, n) =>
                  (s, d, fieldNames(fi), t, tf, n, Array.emptyIntArray) },
                avgFnB.value, blockSize))
          else
            analyzed
              .map(r => (r.segId, r.docId, fieldIdx(r.field), r.term, r.tf, r.normId, r.positions))
              .repartition($"_1", $"_3", $"_4")
              .sortWithinPartitions($"_3", $"_4", $"_1", $"_2")
              .mapPartitions(rows => buildBlocks(
                rows.map { case (s, d, fi, t, tf, n, ps) =>
                  (s, d, fieldNames(fi), t, tf, n, ps) },
                avgFnB.value, blockSize))
        blocks.write.mode("overwrite")
          .option("parquet.block.size", PRUNE_BLOCK_BYTES)
          .parquet(s"$indexDir/postings/batch=$b")
        phase("postings shuffle+write")

        // term dictionary from the written blocks (about 0.3-0.6x the
        // postings' Parquet bytes on CorpusGen indexes of 500-8,000 docs)
        val postingsW = spark.read.schema(blocks.schema).parquet(s"$indexDir/postings/batch=$b")
        // blockLen is a scalar column, so this reads no posting arrays
        val termdict = postingsW.groupBy($"segId", $"field", $"term")
          .agg(sum($"blockLen").as("docFreq"), count(lit(1)).cast("int").as("numBlocks"))
        termdict.write.mode("overwrite").parquet(s"$indexDir/termdict/batch=$b")
        phase("termdict")

        val termCounts = spark.read.schema(termdict.schema).parquet(s"$indexDir/termdict/batch=$b")
          .groupBy($"segId").agg(count(lit(1)).as("terms"))
          .as[(Int, Long)].collect().toMap
        phase("termCounts collect")
        val shaOk =
          try shaF.get() catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
        phase("sha256 verify join")
        val wallMs = (System.nanoTime() - t0) / 1000000
        // one SegmentMeta per segment (primary-field stats row), not per field
        statsRows.filter(_.field == cfg.field).map(s => SegmentMeta(s.segId, b,
          s.numDocs, s.totalNumTokens, termCounts.getOrElse(s.segId, 0L), wallMs, shaOk))
      }
    }
  }
}
