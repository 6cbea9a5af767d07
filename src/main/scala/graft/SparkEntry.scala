package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Aggregations, Dedup, Multimodal, Similarity, TextOps}
import graft.query._

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data pipeline operators), with a DuckDB
  * oracle for every SQL-expressible one.
  *
  * Oracle-parity rules used throughout (see Engine.bm25F64):
  *  - fractional outputs are rounded to 6 decimals on BOTH sides, and
  *    orderings use the ROUNDED value + a unique tie-break key, so LIMIT is
  *    a deterministic cut in both engines;
  *  - doubles are forced with `e0` literals / CAST AS DOUBLE (plain decimal
  *    literals parse as DECIMAL in both dialects and change the math);
  *  - integer aggregates are kept exact (cents-scaling for money, integer
  *    sum-of-squares for variance) and CAST to BIGINT (DuckDB sums widen to
  *    HUGEINT otherwise);
  *  - all hash/fingerprint arithmetic is 64-bit integer math mod 2^31-1,
  *    replayed verbatim in SQL.
  */
object SparkEntry {

  private val P = TextOps.P // 2147483647

  // ------------------------------------------------------------ SQL fragments

  /** Tokenized view of `documents` (single-space corpus: split == analyzer). */
  private val tokCte =
    "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)"

  /** Tokens with 1-based positions. */
  private val posCte =
    "pos AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i, " +
    "unnest(string_split(text, ' ')) AS t FROM documents)"

  /** Polynomial char hash mod P of a SQL string expression (DuckDB syntax;
    * mirror of TextOps.charHash).
    */
  private def sqlCharHash(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
    s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
    s"(a, b) -> (a * 31 + b) % $P)"

  /** BM25-in-double CTE chain over `documents` for a term list; yields
    * sc(doc_id, t, sc). Same formula text as Engine.bm25F64.
    */
  private def bmCtes(terms: Seq[String]): String = {
    val in = terms.distinct.map(t => s"'$t'").mkString(", ")
    s"""$tokCte,
       |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE t IN ($in) GROUP BY doc_id, t),
       |dft AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok WHERE t IN ($in) GROUP BY t),
       |sc AS (SELECT doc_id, t, ${Engine.bm25F64("nd", "CAST(tt AS DOUBLE) / nd")} AS sc
       |       FROM tf JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN st)""".stripMargin
  }

  private def inList(ts: Seq[String]): String = ts.map(t => s"'$t'").mkString(", ")

  /** BM25 CTE chain like [[bmCtes]] but with the document length read
    * through the reference's 256-entry fieldnorm quantization table
    * (`src/fieldnorm/code.rs`, `FieldNorm.Table`) — the dl the f32
    * production scorers (WAND/phrase) actually see. avgdl stays the exact
    * totalNumTokens / numDocs, like the engine's stats.
    */
  private def bmCtesQuantized(terms: Seq[String]): String = {
    val in = terms.distinct.map(t => s"'$t'").mkString(", ")
    val fnVals = graft.analysis.FieldNorm.Table.distinct.sorted.mkString(", ")
    s"""$tokCte,
       |dl0 AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl0),
       |fn AS (SELECT unnest([$fnVals]) AS n),
       |dl AS (SELECT doc_id, (SELECT max(n) FROM fn WHERE n <= dl0.dl) AS dl FROM dl0),
       |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE t IN ($in) GROUP BY doc_id, t),
       |dft AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok WHERE t IN ($in) GROUP BY t),
       |sc AS (SELECT doc_id, t, ${Engine.bm25F64("nd", "CAST(tt AS DOUBLE) / nd")} AS sc
       |       FROM tf JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN st)""".stripMargin
  }

  // ------------------------------------------------------------ entry point

  /** Flagship: BM25 top-10 disjunction over the sf0.001 documents corpus. */
  def entry(spark: SparkSession): DataFrame = {
    val sr = Engine.searcher(spark, "/root/testdata/sf0.001")
    Engine.topKShouldF64(sr, Seq("spark", "merge"), 10)
  }

  // ------------------------------------------------------------ queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- full-text: scored (BM25 f64 over the index tables) ----
    "ft_term_topk" -> ((s, dir) =>
      Engine.topKShouldF64(Engine.searcher(s, dir), Seq("spark"), 20)),
    "ft_bool_should_topk" -> ((s, dir) =>
      Engine.topKShouldF64(Engine.searcher(s, dir), Seq("spark", "merge"), 20)),
    "ft_bool_must_topk" -> ((s, dir) =>
      Engine.topKMustF64(Engine.searcher(s, dir), Seq("spark", "merge", "sort"), 20)),
    "ft_dismax_topk" -> ((s, dir) =>
      Engine.topKDisMaxF64(Engine.searcher(s, dir), Seq("spark", "merge"), "0.3e0", 20)),
    "ft_boost_topk" -> ((s, dir) =>
      Engine.topKBoostedF64(Engine.searcher(s, dir),
        Seq("spark" -> "2e0", "merge" -> "1e0"), 20)),
    // batch retrieval: three queries, ONE postings scan, per-qid top-10 —
    // the throughput-mode path a per-query engine cannot amortize
    "ft_batch_topk" -> ((s, dir) =>
      Engine.topKBatchF64(Engine.searcher(s, dir), Seq(
        "q_spark" -> Seq("spark"),
        "q_spark_merge" -> Seq("spark", "merge"),
        "q_vwh" -> Seq("vector", "window", "hash")), 10)),

    // ---- full-text: doc-set queries (const-score semantics) ----
    "ft_term_docs" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), TermQ("vector"))),
    "ft_bool_must" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> TermQ("spark"), Occur.Must -> TermQ("merge"))))),
    "ft_bool_mustnot" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> TermQ("spark"), Occur.MustNot -> TermQ("join"))))),
    "ft_min_should" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Should -> TermQ("vector"), Occur.Should -> TermQ("window"),
        Occur.Should -> TermQ("hash")), minShouldMatch = 2))),
    // explicit minShouldMatch alongside Must clauses (`boolean_weight.rs:
    // 176-204`, the Required + min-match branch): doc must contain the Must
    // term AND at least 2 of the 3 Should terms
    "ft_must_plus_min_should" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> TermQ("spark"),
        Occur.Should -> TermQ("vector"), Occur.Should -> TermQ("window"),
        Occur.Should -> TermQ("hash")), minShouldMatch = 2))),
    "ft_phrase" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), PhraseQ.of("batch", "batch"))),
    // merged-index twins (`index/Merger`, §2.4 — previously unit-test-only,
    // now driver-gated): the fully-compacted single-segment index answers
    // through the SAME oracles as the 4-segment build. Phrase exercises the
    // merge's CSR position remap; top-k the exact global-stats recompute
    // (BM25 depends on N/avgdl, which merge must preserve bit-for-bit)
    "ft_merged_phrase" -> ((s, dir) =>
      Engine.docIds(Engine.compactedSearcher(s, dir), PhraseQ.of("batch", "batch"))),
    "ft_merged_topk" -> ((s, dir) =>
      Engine.topKShouldF64(Engine.compactedSearcher(s, dir), Seq("spark", "merge"), 20)),
    // space-usage introspection (`src/space_usage/mod.rs`, §2.1 — the last
    // tests-only family): the content field's LOGICAL units summed across
    // segments are segmentation-independent — Σ per-segment per-term df =
    // global distinct (doc, term) pairs, Σ positions = total tokens — so
    // the DuckDB oracle replays them from the raw corpus without knowing
    // the (hash-deterministic) segment assignment
    "ft_space_usage" -> { (s, dir) =>
      import s.implicits._
      val sr = Engine.searcher(s, dir)
      val u = sr.spaceUsage
      val fields = u.segments.flatMap(_.perField).filter(_.field == "content")
      val globalTerms = sr.allTermsFor("content").count()
      Seq(("content", fields.map(_.totalDocFreq).sum,
        fields.map(_.totalPositions).sum, globalTerms))
        .toDF("field", "total_doc_freq", "total_positions", "num_terms")
    },
    "ft_phrase_slop" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        PhraseQ(Seq(0 -> "spark", 1 -> "window"), slop = 1))),
    "ft_phrase_prefix" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        PhrasePrefixQ(Seq(0 -> "order"), prefix = 1 -> "s"))),
    // scored phrase-prefix, the MultiPrefix shape (>= 2 fixed terms): BM25
    // through the fixed-terms phrase scorer, prefix gates matching only
    // (`phrase_prefix_scorer.rs:84-93`); f64 twin of the Searcher path.
    // maxExpansions is raised far above the corpus vocabulary because the
    // DuckDB oracle gates with an UNBOUNDED `LIKE 's%'` — a default cap of
    // 50 would silently diverge if the dictionary ever grew past it
    "ft_phrase_prefix_scored" -> ((s, dir) =>
      Engine.phrasePrefixScoredF64(Engine.searcher(s, dir),
        Seq(0 -> "join", 1 -> "row"), prefix = (2, "s"),
        maxExpansions = 1000000)),
    // scored regex phrase (`regex_phrase_weight.rs`): tf = slot-union
    // phrase count, weight from the raw pattern strings' (zero) dfs.
    // maxExpansions >> vocabulary for the same oracle-coupling reason —
    // the SQL twin's regexp_matches is unbounded
    "ft_regex_phrase_scored" -> ((s, dir) =>
      Engine.regexPhraseScoredF64(Engine.searcher(s, dir),
        Seq(0 -> "^sp[a-z]*$", 1 -> "^m[a-z]*e$"),
        maxExpansions = 1000000)),
    "ft_term_set" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), TermSetQ(Set("dup", "vector")))),
    // ---- multi-valued fields (postings_writer.rs:136-160; columnar
    // multivalue fast columns) ----
    // term matches ANY element of the array-valued `tags` field
    "ft_multivalue_term" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), FieldQ("tags", TermQ("src5")))),
    // values sit at positions 0/2/4 (POSITION_GAP=1), so a cross-value
    // phrase needs slop 1 — lang followed by source
    "ft_multivalue_phrase" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        FieldQ("tags", PhraseQ(Seq(0 -> "en", 1 -> "src3"), slop = 1)))),
    // multivalued numeric fast field: range matches any element
    "ft_multivalue_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        RangeQ("sizes", Some((150.0, true)), Some((400.0, true))))),
    // multi-field schema: the STRING-preset field `lang` (raw tokenizer,
    // docs-only) scoped via FieldQ, intersected with a default-field term —
    // same query text against different fields yields different results
    "ft_field_scoped" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> FieldQ("lang", TermQ("en")),
        Occur.Must -> TermQ("spark"))))),
    // the same term against the default field matches nothing ('en' is a
    // lang value, not a content token) — the field-scoping counterexample
    "ft_field_scoped_default" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> TermQ("en"), Occur.Must -> TermQ("spark"))))),
    // pre-tokenized field (tokenized_string.rs): srctok's tokens were
    // supplied as an array<struct<text, position>> input column and indexed
    // verbatim — no analyzer ran on them
    "ft_pretokenized" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Must -> FieldQ("srctok", TermQ("src7")),
        Occur.Must -> FieldQ("srctok", TermQ("b3")))))),
    // en_stem analyzer chain (`stemmer.rs:12-31`): the query form "queries"
    // and the corpus form "query" both Porter2-stem to "queri", so the
    // stemmed-field query matches docs the surface form would miss; the
    // oracle enumerates the corpus surface forms of that stem (the fixed
    // 31-token synthetic vocabulary stems injectively except y->i families)
    "ft_stemmed" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("stemmed:queries", opts = Engine.parseOpts))),
    // typed fields (`field_type.rs:170-190`): indexed single-value terms
    // with order-preserving encodings, queried through the full parser.
    // u64 exact term + u64 term-dictionary range (hex keys sort numerically)
    "ft_u64_term" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("nchars:246", opts = Engine.parseOpts))),
    "ft_u64_term_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("nchars:[100 TO 300}", opts = Engine.parseOpts))),
    // IpAddr exact term (`ip_options.rs`): the quoted literal re-analyzes
    // through the field's "ip" chain — `2001:0db8:0:0::002A` normalizes to
    // the same canonical-IPv6 term the index stores (0x2a = 42)
    "ft_ip_term" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("ipaddr:\"2001:0db8:0:0::002A\"",
          opts = Engine.parseOpts))),
    // ip range in u128 value order (`range_query.rs:71-170`): the bounds
    // [::9 TO ::10} are REVERSED in canonical-text order ("::10" < "::9"
    // lexicographically) — a string-order range would return nothing, so a
    // non-empty result proves the numeric path
    "ft_ip_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("ipaddr:[2001:db8::9 TO 2001:db8::10}",
          opts = Engine.parseOpts))),
    // date range over RFC-3339 terms, mixed offsets normalize to UTC
    "ft_date_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse(
          "mtime:[2020-01-05T00:00:00Z TO 2020-01-20T02:00:00+02:00}",
          opts = Engine.parseOpts))),
    // millisecond-precision date range (`date_time_options.rs`
    // DatePrecision::Milliseconds): the indexed terms truncated the input's
    // microsecond digits, and the query bounds canonicalize through the
    // same date_millis chain — sub-millisecond bound digits truncate too
    "ft_date_range_millis" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse(
          "mtimems:[2020-01-05T00:00:00.100Z TO 2020-01-20T00:00:00.500999Z}",
          opts = Engine.parseOpts))),
    // nanosecond-precision date range (`common/src/datetime.rs:24`
    // DateTimePrecision::Nanoseconds — the DateTime's native resolution):
    // terms carry the canonical 9-digit fraction and BOTH bounds cut at
    // the final nanosecond digits (.000000100 / .000000299), so the result
    // depends on nanosecond resolution surviving end to end
    "ft_date_range_nanos" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse(
          "mtimens:[2020-01-05T00:00:00.000000100Z TO 2020-01-20T00:00:00.000000299Z}",
          opts = Engine.parseOpts))),
    // bool term AND a default-field text term
    "ft_bool_term" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("even:true AND spark", opts = Engine.parseOpts))),
    // bytes term — uppercase query hex canonicalizes to the indexed term
    "ft_bytes_term" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("blob:003C", opts = Engine.parseOpts))),
    // schema-less JSON field (doc/src/json.md): dotted json-path literals
    // through the full parser -> typed path-encoded terms
    "ft_json_path" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("meta.src:src7 AND meta.info.lang:en",
          opts = Engine.parseOpts))),
    // number typed term (u64 priority), query-side type expansion
    "ft_json_num" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("meta.info.n:246", opts = Engine.parseOpts))),
    // snippet generation over the top hits (src/snippet/mod.rs); rows-only
    // by design — highlight HTML has no SQL oracle
    "ft_snippet" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val gen = SnippetGenerator.create(sr, TermQ("spark"), "content",
        chain = "default", maxNumChars = 100)
      val hits = sr.topDocs(TermQ("spark"), 10)
      val snip = udf((c: String) => gen.snippet(c).toHtml)
      sr.fetch(hits)
        .select(col("path").cast("long").as("doc_id"),
          snip(col("content")).as("snippet_html"))
        .orderBy("doc_id")
    },
    // oracle-checkable snippet arithmetic (`src/snippet/mod.rs:205-263`):
    // the fragment text + highlight char ranges that `ft_snippet`'s HTML
    // renders, emitted as plain columns over EVERY doc matching the term —
    // the DuckDB oracle replays the greedy fragment cuts (recursive CTE
    // over cut points), the max-score/earliest-tie fragment choice, and
    // the fragment-relative ranges, so the fragmenter is hash-gated
    "ft_snippet_ranges" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val gen = SnippetGenerator.create(sr, TermQ("spark"), "content",
        chain = "default", maxNumChars = 100)
      val snip = udf((c: String) => {
        val sn = gen.snippet(c)
        (sn.fragment, sn.highlighted.map { case (a, b) => s"$a:$b" }.mkString(";"))
      })
      Engine.docIdsWithDocmap(sr, TermQ("spark"))
        .select(col("doc_id"), snip(col("content")).as("sn"))
        .select(col("doc_id"), col("sn._1").as("fragment"),
          col("sn._2").as("highlights"))
        .orderBy("doc_id")
    },
    "ft_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        RangeQ("contentLen", Some((100.0, true)), Some((200.0, true))))),
    "ft_exists" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), ExistsQ("lang"))),
    "ft_fuzzy" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), FuzzyQ("quer", distance = 1))),
    "ft_mlt" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val (seg, d) = Engine.addressOf(sr, 0L)
      Engine.docIds(sr, MoreLikeThisQ(seg, d,
        minDocFreq = 5, minTermFreq = 1, maxQueryTerms = 10))
    },
    // SCORED MoreLikeThis top-k (round 5): selection + per-term boost +
    // boosted BM25 sum, all hash-gated — the oracle replays the whole
    // pipeline (tf-idf selection with the limit+1 heap retention, boost =
    // s/max(s), weighted disjunction sum) in SQL
    "ft_mlt_topk" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val (seg, d) = Engine.addressOf(sr, 0L)
      Engine.topKMltF64(sr, MoreLikeThisQ(seg, d,
        minDocFreq = 5, minTermFreq = 1, maxQueryTerms = 10), 20)
    },
    // the FULL MoreLikeThis parameter surface (`more_like_this.rs:48-66`):
    // doc-frequency window (min AND max), UTF-8-byte word-length bounds,
    // stop words, and a maxQueryTerms small enough that the reference's
    // heap off-by-one (retains limit+1 terms) is observable: doc 0 yields
    // 6 candidate terms after the noise/df filters, cap 4 retains 5
    "ft_mlt_opts" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val (seg, d) = Engine.addressOf(sr, 0L)
      Engine.docIds(sr, MoreLikeThisQ(seg, d,
        minDocFreq = 5, minTermFreq = 1, maxQueryTerms = 4,
        maxDocFreq = Some(390), minWordLen = Some(4), maxWordLen = Some(5),
        stopWords = Set("table")))
    },
    "ft_delete" -> ((s, dir) =>
      Engine.docIds(Engine.searcherWithDelete(s, dir, "dup"), TermQ("the"))),
    "ft_regex" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), RegexQ("^s[a-z]*k$"))),
    "ft_regex_phrase" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        RegexPhraseQ(Seq(0 -> "^sp[a-z]*$", 1 -> "^m[a-z]*e$")))),
    "ft_parsed" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("+spark merge -join"))),
    // full grammar surface, each compiled from user text end to end:
    // field-qualified term + AND
    "ft_parsed_field" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("lang:en AND spark", opts = Engine.parseOpts))),
    // numeric fast-field range
    "ft_parsed_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("contentLen:[100 TO 200]", opts = Engine.parseOpts))),
    // parens + AND + negation
    "ft_parsed_bool_expr" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("(spark OR merge) AND -join", opts = Engine.parseOpts))),
    // str term-range over the default field's dictionary
    "ft_parsed_term_range" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("[aa TO ab]", opts = Engine.parseOpts))),
    // field-scoped IN set
    "ft_parsed_set" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("lang: IN [en fr]", opts = Engine.parseOpts))),
    // phrase-prefix from quoted literal + '*'
    "ft_parsed_phrase_prefix" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir),
        QueryParser.parse("\"order s\"*", opts = Engine.parseOpts))),
    // `fulltext_match` Catalyst Expression (SQL-facing surface, SURVEY §4):
    // analyzer-consistent all-terms-must predicate over RAW content, no
    // index required — runs inside whole-stage codegen
    "ft_match_expr" -> { (s, dir) =>
      graft.functions.FulltextMatch.register(s)
      s.read.parquet(s"$dir/documents.parquet").createOrReplaceTempView("graft_docs")
      s.sql("SELECT doc_id FROM graft_docs WHERE fulltext_match(text, 'Spark MERGE') ORDER BY doc_id")
    },

    // TopDocs offset (`top_collector.rs:102-122`): offset applied AFTER the
    // global merge — rows k..k+offset of the same total order
    "ft_topk_offset" -> ((s, dir) =>
      Engine.topKShouldF64(Engine.searcher(s, dir), Seq("spark", "merge"), 25)
        .offset(5)),
    // ConstScoreQuery (`const_score_query.rs:12-95`): child scores replaced
    "ft_const_score" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      sr.compile(ConstScoreQ(TermQ("vector"), 2.5f))
        .join(sr.docmap.select(col("segId"), col("docId"), col("path")), Seq("segId", "docId"))
        .select(col("path").cast("long").as("doc_id"),
          col("score").cast("double").as("score"))
        .orderBy("doc_id")
    },
    // EmptyQuery (`empty_query.rs:12`): matches nothing, schema preserved
    "ft_empty" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), EmptyQ)),

    // ---- collectors ----
    "ft_count" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), BoolQ(Seq(
        Occur.Should -> TermQ("spark"), Occur.Should -> TermQ("merge"))))
        .agg(count(lit(1)).as("cnt"))),
    "ft_all_count" -> ((s, dir) =>
      Engine.docIds(Engine.searcher(s, dir), AllQ).agg(count(lit(1)).as("cnt"))),
    "ft_facet" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      Engine.docIdsWithDocmap(sr, TermQ("spark"))
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy("lang")
    },
    "ft_facet_path" -> ((s, dir) =>
      Engine.facetCounts(Engine.searcher(s, dir), TermQ("spark"))),
    "ft_explain" -> ((s, dir) =>
      Engine.explainF64(Engine.searcher(s, dir), Seq("spark", "merge"))),
    // MultiCollector (`multi_collector.rs:166`): several collectors in ONE
    // pass over the matching doc set — count + min/max/sum of a fast field
    "ft_multi" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      Engine.docIdsWithDocmap(sr, TermQ("join"))
        .agg(
          count(lit(1)).as("cnt"),
          min(col("contentLen")).cast("long").as("min_len"),
          max(col("contentLen")).cast("long").as("max_len"),
          sum(col("contentLen")).cast("long").as("sum_len"))
    },
    "ft_histogram" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      Engine.docIdsWithDocmap(sr, TermQ("join"))
        .groupBy((floor(col("contentLen") / 50) * 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    },
    "ft_top_by_field" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      Engine.docIdsWithDocmap(sr, TermQ("join"))
        .select(col("doc_id"), col("contentLen").cast("long").as("n_chars"))
        .orderBy(desc("n_chars"), asc("doc_id"))
        .limit(15)
    },
    // custom_score / tweak_score collectors (`custom_score_top_collector.rs:
    // 77`, `tweak_score_top_collector.rs:79`): user function of (score,
    // fast-field) — here BM25 * ln(1 + n_chars), any Column expr works
    "ft_tweak_score" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val base = Engine.termScoresF64(sr, Seq("spark"))
        .groupBy("doc_id").agg(sum("sc").as("bm25"))
      val lens = sr.docmap.select(col("path").cast("long").as("doc_id"),
        col("contentLen").as("n_chars"))
      base.join(lens, Seq("doc_id"))
        .select(col("doc_id"),
          round(col("bm25") * log(lit(1.0) + col("n_chars")), 6).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(15)
    },
    // WAND path (the collector routes a pure disjunction to block-max WAND;
    // f32 tantivy-parity scores), oracle-gated: the f32 score
    // rounded to 4 decimals equals the f64 twin's rounded score for this
    // query (WandOracleSpec asserts the rounding agreement and that the
    // top-10 boundary gap dwarfs f32 error, so the doc set is tie-safe)
    "ft_wand_topk" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      val hits = sr.topDocs(BoolQ(Seq(Occur.Should -> TermQ("spark"),
        Occur.Should -> TermQ("merge"), Occur.Should -> TermQ("order"))), 10)
      sr.fetch(hits)
        .select(col("path").cast("long").as("doc_id"),
          round(col("score").cast("double"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
    },
    // TopDocs::order_by_string_fast_field (`top_score_collector.rs:574`):
    // top-k ordered by a STRING fast-field column (desc, docId tie-break)
    "ft_top_by_string" -> { (s, dir) =>
      val sr = Engine.searcher(s, dir)
      Engine.docIdsWithDocmap(sr, TermQ("join"))
        .select(col("doc_id"), col("lang"))
        .orderBy(desc("lang"), asc("doc_id"))
        .limit(15)
    },

    // ---- aggregations (ES-style agg tree -> Spark built-ins) ----
    "agg_metric_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_qty"),
          min("l_quantity").as("min_qty"),
          max("l_quantity").as("max_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_cents"))
        .withColumn("avg_price",
          round(col("sum_price_cents").cast("double") / 100 / col("cnt"), 6))
        .orderBy("l_returnflag")),
    "agg_extended_stats" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("long")).as("s1"),
          sum(expr("CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)")).as("s2"))
        .withColumn("var_pop",
          round((col("s2") - col("s1").cast("double") * col("s1") / col("n")) / col("n"), 6))
        .withColumn("std_pop",
          round(sqrt((col("s2") - col("s1").cast("double") * col("s1") / col("n")) / col("n")), 6))
        .orderBy("l_linestatus")),
    "agg_percentiles" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25e0)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5e0)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75e0)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.95e0)"), 6).as("p95"))
        .orderBy("l_returnflag")),
    "agg_terms_top" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))
        .limit(3)),
    "agg_range_buckets" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(expr(
          "CASE WHEN value < 25e0 THEN 'lo' WHEN value < 50e0 THEN 'mid' " +
          "WHEN value < 75e0 THEN 'hi' ELSE 'top' END").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),
    // ES histogram with interval + offset (`bucket/histogram/histogram.rs`):
    // bucket key = floor((x - offset) / interval) * interval + offset
    "agg_histogram" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy((floor((col("value") - 2.5) / 10.0) * 10.0 + 2.5).as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),
    "agg_date_histogram" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")),
    "agg_filter_bucket" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("value") > 50.0, 1L).otherwise(0L)).as("high_cnt"))
        .orderBy("event_type")),
    "agg_cardinality" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("uniq"))
        .orderBy("event_type")),
    // Spark's built-in HLL++ sketch (different hash than anything
    // replayable, so rows-only); the oracle-GATED sketch twin is
    // agg_cardinality_hll below
    "agg_cardinality_approx" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("uniq_approx"))
        .orderBy("event_type")),
    // HyperLogLog with a cross-engine-replayable md5 hash (ops/Hll.scala):
    // every register and the final estimate hash-gated by the DuckDB
    // replay — the same algorithm family as the reference's cardinality
    // agg, whose salted-SipHash registers cannot be replayed in SQL
    "agg_cardinality_hll" -> ((s, dir) =>
      graft.ops.Hll.cardinality(
        s.read.parquet(s"$dir/events.parquet"), "user_id", "event_type")),
    // flattened to scalar columns: an array<double> output column crashed the
    // driver's pandas comparator in round 1 (unhashable ndarray in sort_values)
    "agg_percentiles_approx" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(l_quantity, array(0.25e0, 0.5e0, 0.95e0), 1000)").as("pcts"))
        .select(col("l_returnflag"),
          col("pcts")(0).as("p25"), col("pcts")(1).as("p50"), col("pcts")(2).as("p95"))
        .orderBy("l_returnflag")),
    // DDSketch percentiles — the reference's own sketch family at its
    // default accuracy (`metric/percentiles.rs:212-217`, alpha = 0.01),
    // rebuilt as a fully-mergeable (group, bucket-key) count table with a
    // relational quantile walk; the oracle replays every bucket key,
    // cumulative rank cut and representative value bit-for-bit (see
    // ops/DdSketch.scala for the crate-parity caveat)
    "agg_percentiles_ddsketch" -> ((s, dir) =>
      graft.ops.DdSketch.percentiles(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_quantity", "l_returnflag",
        Seq(25, 50, 75, 95))),
    // ---- nested sub-aggregation tree (agg_req.rs:120-171) ----
    // terms bucket with metric sub-aggs per bucket: ES {terms: {aggs:
    // {stats}}} — the whole tree is ONE groupBy (single shuffle).
    // Double sums are milli-scaled to exact integers (oracle parity).
    "agg_terms_with_stats" -> { (s, dir) =>
      import Aggregations._
      val milli = sum(round(col("value") * 1000).cast("long"))
      run(s.read.parquet(s"$dir/events.parquet"), AggRequest(
        buckets = Seq(TermsAgg("event_type", "event_type")),
        metrics = Seq(
          MetricAgg.count,
          MetricAgg("sum_milli", milli),
          MetricAgg("min_v", min(col("value"))),
          MetricAgg("max_v", max(col("value"))),
          MetricAgg("avg_v", round(milli.cast("double") / 1000.0 / count(lit(1)), 6)))))
    },
    // arbitrary sub-agg TREE (agg_req.rs nests siblings): terms with TWO
    // sibling child bucket aggs, one pass via grouping sets
    "agg_tree_siblings" -> { (s, dir) =>
      import Aggregations._
      runTree(s.read.parquet(s"$dir/events.parquet"), Seq(
        AggNode(TermsAgg("event_type", "event_type"), Seq(MetricAgg.count), Seq(
          AggNode(HistogramAgg("value", 25.0, 0.0, "bucket"), Seq(MetricAgg.count)),
          AggNode(DateHistogramAgg("ts", "day"), Seq(MetricAgg.count))))))
        .withColumn("bucket", coalesce(col("bucket"), lit(-1.0)))
        .withColumn("day", coalesce(col("day"), lit("(all)")))
        .orderBy("agg_path", "event_type", "bucket", "day")
    },
    // two-level bucket nesting: terms > histogram, count per leaf bucket
    "agg_nested_terms_hist" -> { (s, dir) =>
      import Aggregations._
      run(s.read.parquet(s"$dir/events.parquet"), AggRequest(
        buckets = Seq(TermsAgg("event_type", "event_type"),
          HistogramAgg("value", 25.0, 0.0, "bucket")),
        metrics = Seq(MetricAgg.count)))
    },
    // the full response TREE in one pass: ancestor-level metric rows via
    // rollup (null keys -> sentinels so every comparator handles them)
    "agg_nested_rollup" -> { (s, dir) =>
      import Aggregations._
      run(s.read.parquet(s"$dir/events.parquet"), AggRequest(
        buckets = Seq(TermsAgg("event_type", "event_type"),
          HistogramAgg("value", 25.0, 0.0, "bucket")),
        metrics = Seq(MetricAgg.count),
        withAncestorLevels = true))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("bucket"), lit(-1.0)).as("bucket"), col("cnt"))
    },
    "agg_top_hits" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy(desc("n_chars"), asc("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 2)
        .select(col("lang"), col("doc_id"), col("n_chars"))
        .orderBy("lang", "doc_id")
    },
    // the reference's date_histogram is fixed_interval ONLY
    // (date_histogram.rs:40-54): a plain histogram over epoch ms, keys =
    // epoch-ms doubles, gap-free at min_doc_count 0
    "agg_date_histogram_fixed" -> ((s, dir) =>
      Aggregations.dateHistogram(s.read.parquet(s"$dir/events.parquet"),
        "ts", fixedInterval = "12h")),
    // ES calendar_interval month rollup — beyond the reference (tantivy
    // rejects calendar_interval), the ES-compatible extension a training
    // pipeline needs; one date_trunc expression + one shuffle
    "agg_date_histogram_month" -> ((s, dir) =>
      Aggregations.calendarDateHistogram(
        s.read.parquet(s"$dir/events.parquet"), "ts", "month", name = "month")
        .select(date_format(col("month"), "yyyy-MM-dd").as("month"),
          col("cnt"))),
    // ES terms agg ordered by a metric sub-agg (`term_agg.rs` order:
    // {"avg_value": "desc"}): buckets sorted by the sub-agg value, key
    // ascending tie-break, size cut after the sort
    "agg_terms_order_by_metric" -> ((s, dir) =>
      Aggregations.terms(s.read.parquet(s"$dir/events.parquet"),
        "event_type", name = "event_type", size = 3,
        metrics = Seq(Aggregations.MetricAgg.avg("value", "avg_value")),
        orderByMetric = Some(("avg_value", true)))),
    // reference range-agg response semantics (agg_tests.rs:470-510): every
    // requested bucket emitted even when empty — doc_count 0, NULL metrics
    "agg_range_gap_fill" -> ((s, dir) =>
      Aggregations.rangeAgg(s.read.parquet(s"$dir/events.parquet"), "value",
        ranges = Seq(
          ("*-25", None, Some(25.0)), ("25-50", Some(25.0), Some(50.0)),
          ("1000-1001", Some(1000.0), Some(1001.0)),
          ("50-*", Some(50.0), None)),
        metrics = Seq(Aggregations.MetricAgg.avg("value", "avg_value")))),
    // ES terms response bookkeeping: sum_other_doc_count for the docs
    // outside the top-size cut; error bound 0 (exact single-pass cut)
    "agg_terms_sum_other" -> ((s, dir) =>
      Aggregations.termsWithErrorBounds(
        s.read.parquet(s"$dir/events.parquet"), "event_type",
        name = "event_type", size = 3)),
    // the reference's segment-cutoff APPROXIMATION mode (`term_agg.rs`
    // segment_size): 3 deterministic shards (user_id % 3) each report only
    // their top-2 types, so the merged doc_counts undercount and the
    // response carries a NON-ZERO doc_count_error_upper_bound = Σ per-shard
    // first-unreported counts — the ES bookkeeping the exact path never
    // exhibits; every number replayed by the oracle
    "agg_terms_approx" -> ((s, dir) =>
      Aggregations.termsApproxCutoff(
        s.read.parquet(s"$dir/events.parquet"), "event_type",
        shard = pmod(col("user_id"), lit(3)),
        name = "event_type", size = 2, segmentSize = 2)),
    // gap-free histogram (min_doc_count=0 default): empty buckets emitted
    // across the extended_bounds-widened axis (histogram.rs:554-587)
    "agg_histogram_empty_buckets" -> ((s, dir) =>
      Aggregations.histogram(s.read.parquet(s"$dir/events.parquet"), "value",
        interval = 20.0, extendedBounds = Some((-100.0, 600.0)))),
    // hard_bounds: values outside [50, 310] never collected, axis clamped
    // to the bounds' bucket positions (histogram.rs:251-253,421-424,565-567)
    "agg_histogram_hard_bounds" -> ((s, dir) =>
      Aggregations.histogram(s.read.parquet(s"$dir/events.parquet"), "value",
        interval = 20.0, hardBounds = Some((50.0, 310.0)))),
    // min_doc_count > 0 filters sparse buckets instead of gap-filling
    "agg_histogram_min_doc" -> ((s, dir) =>
      Aggregations.histogram(s.read.parquet(s"$dir/events.parquet"), "value",
        interval = 1.0, minDocCount = 15)),
    // terms `missing` (term_missing_agg.rs): null keys bucketed under the
    // replacement; nullif derives a null-bearing column from the corpus
    "agg_terms_missing" -> ((s, dir) =>
      Aggregations.terms(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("lang_key", expr("nullif(lang, 'en')")),
        "lang_key", name = "lang_key", orderByCountDesc = false,
        missing = Some("(none)"))),
    // terms order=key asc + size (term_agg.rs request surface)
    "agg_terms_opts" -> ((s, dir) =>
      Aggregations.terms(s.read.parquet(s"$dir/events.parquet"),
        "event_type", name = "event_type", size = 3, orderByCountDesc = false)),
    // metric `missing` (metric/average.rs:24-29): null-bearing column
    // derived via nullif; missing values counted as 0.0 in the average
    "agg_avg_missing" -> { (s, dir) =>
      import Aggregations._
      run(s.read.parquet(s"$dir/events.parquet")
            .withColumn("v_null", expr("CASE WHEN value < 10e0 THEN NULL ELSE value END")),
        AggRequest(
          buckets = Seq(TermsAgg("event_type", "event_type")),
          metrics = Seq(MetricAgg.count,
            MetricAgg.avg("v_null", "avg_missing_zero", missing = Some(0.0)),
            MetricAgg.avg("v_null", "avg_skip_null"))))
    },

    // ---- deduplication ----
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("keep_id")),
    "dedup_bag" -> ((s, dir) =>
      Dedup.bagGroups(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("keep_id")),
    "dedup_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id", "perm")),
    "dedup_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 0.9)
        .orderBy("a", "b")),
    // near-dup CLUSTERS: connected components over the verified pairs,
    // cluster_id = the component's min doc_id (the canonical keep-id);
    // distributed min-label propagation, convergence-checked
    "dedup_cluster" -> ((s, dir) =>
      Dedup.minhashClusters(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 0.9)
        .orderBy("doc_id")),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")),
    // banded SimHash pairing: recall 1.0 vs all-pairs for Hamming <= 3 by
    // pigeonhole over 4 bands, so the oracle is the quadratic ground truth
    "dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("a", "b")),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text", 3, 0.5)
        .orderBy("a", "b")),
    "dedup_embed" -> ((s, dir) =>
      Dedup.embeddingPairs(s.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", 0.45)
        .orderBy("a", "b")),

    // ---- similarity search ----
    "ann_cosine_topk" -> { (s, dir) =>
      val df = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.bruteForceTopK(df, "vec_id", "embedding", queryVec(s, dir), 20)
    },
    // approximate path, oracle-CHECKED since round 3 (the SQL twin replays
    // the integer hyperplanes + probe set bit-for-bit). The probe radius is
    // DERIVED from a scan budget: targetScanFrac 0.035 of the bucket space
    // => radius 1 under NumPlanes = 8 (Σ C(8,i)/256 = 9/256 ≈ 3.5%), the
    // Hamming-1 set the oracle encodes — the caller states a budget, the
    // engine picks the radius (Similarity.radiusForScanFraction)
    "ann_lsh_topk" -> { (s, dir) =>
      val df = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.lshTopKAdaptive(df, "vec_id", "embedding", queryVec(s, dir), 20,
        targetScanFrac = 0.035)
    },
    // IVF coarse-quantizer path (deterministic spherical k-means, probe the
    // nProbe nearest centroid lists): approximate => rows-only check
    "ann_ivf_topk" -> { (s, dir) =>
      val df = s.read.parquet(s"$dir/embeddings.parquet")
      val cents = Similarity.ivfCentroids(df, "vec_id", "embedding", 16, 2)
      Similarity.ivfTopK(df, "vec_id", "embedding", cents, queryVec(s, dir), 20, 4)
    },

    // ---- text analysis ----
    "text_langid" -> ((s, dir) =>
      TextOps.langId(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")),
    // fitted language-ID (Cavnar & Trenkle rank profiles): FIT the per-lang
    // trigram profiles on the labeled corpus (one narrow groupBy — the
    // "model" is langs x 40 rows), then PREDICT via a broadcast join +
    // argmax. Both halves are deterministic (rank/argmax ties by asc key),
    // so DuckDB replays fit AND predict exactly.
    "text_langid_fitted" -> { (s, dir) =>
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextOps.langIdFitted(docs, "doc_id", "text",
        TextOps.langProfiles(docs, "lang", "text")).orderBy("doc_id")
    },
    "text_quality" -> ((s, dir) =>
      TextOps.quality(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")),
    "text_tokcount" -> ((s, dir) =>
      TextOps.tokenCounts(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")),
    "text_fingerprint" -> ((s, dir) =>
      TextOps.fingerprint(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id")),
    "text_winnow" -> ((s, dir) =>
      TextOps.winnow(s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")
        .orderBy("doc_id", "fp")),
    // deterministic stratified sampling (language balancing): hash-based
    // keep condition, reproducible and engine-replayable — the oracle
    // checks the SAMPLE itself, not just its size
    "text_sample_stratified" -> ((s, dir) =>
      TextOps.stratifiedHashSample(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "lang", Map("en" -> 0.25, "fr" -> 0.5))
        .select("doc_id", "lang").orderBy("doc_id")),
    "text_ngram" -> { (s, dir) =>
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 20)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          graft.analysis.Analysis.ngramTokenize(t, 3, 3).map(g => (id, g.text)) }
        .toDF("doc_id", "gram").distinct()
        .orderBy("doc_id", "gram")
    },

    // ---- multimodal plumbing (stubbed decode; see Multimodal) ----
    "mm_blob_meta" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Multimodal.decodeAll(Multimodal.asBlobs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text"))
        .toDF().orderBy("doc_id")
    },
    "mm_frames" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Multimodal.sampleFrames(Multimodal.decodeAll(Multimodal.asBlobs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")), 7)
        .orderBy("doc_id", "frame_idx")
    },
    // resize stage: aspect-preserving integer fit into 128x96 around the
    // stubbed pixel transform — the geometry is the checkable part
    "mm_resize" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      Multimodal.resizeAll(Multimodal.decodeAll(Multimodal.asBlobs(
          s.read.parquet(s"$dir/documents.parquet"), "doc_id", "text")), 128, 96)
        .orderBy("doc_id")
    },
    // REAL image decode (round 5): one genuine PNG per doc (dims derived
    // from doc_id, encoded partition-side) -> javax.imageio header parse ->
    // true width/height; the oracle replays the fixture-side dims in
    // integers, so the encode -> ImageIO-decode round trip is hash-gated
    "mm_image_decode" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.decodeAll(Multimodal.syntheticImageBlobs(docs, "doc_id",
          pmod(col("doc_id"), lit(97)) + lit(16),
          pmod(col("doc_id"), lit(53)) + lit(16)))
        .toDF().select("doc_id", "width", "height", "n_frames")
        .orderBy("doc_id")
    },
    // ... and the resize geometry over the ImageIO-decoded dims
    "mm_image_resize" -> { (s, dir) =>
      implicit val sp: SparkSession = s
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Multimodal.resizeAll(Multimodal.decodeAll(
          Multimodal.syntheticImageBlobs(docs, "doc_id",
            pmod(col("doc_id"), lit(97)) + lit(16),
            pmod(col("doc_id"), lit(53)) + lit(16))), 64, 48)
        .orderBy("doc_id")
    },

    // ---- Structured Streaming analytics (EventStream) ----
    // A REAL streaming run: file source -> watermark -> windowed agg ->
    // memory sink (complete mode), so the result is batch-equal and the
    // DuckDB oracle checks the streaming engine end-to-end.
    "stream_window_counts" -> ((s, dir) =>
      graft.streaming.EventStream.runWindowedOverParquet(s, s"$dir/events.parquet")
        .orderBy("window_start_ms", "event_type")),
    // Batch twin of the flatMapGroupsWithState sessionizer (identical
    // millisecond gap arithmetic; EventStreamSpec proves stream == batch).
    "stream_sessionize" -> ((s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(
          s.read.parquet(s"$dir/events.parquet"))
        .orderBy("user_id", "session_start_ms")),
    // streaming exact dedup: dropDuplicates state across the stream, key
    // projection only => deterministic, oracle = batch DISTINCT
    "stream_dedup" -> ((s, dir) =>
      graft.streaming.EventStream.runDedupOverParquet(
          s, s"$dir/events.parquet", Seq("user_id", "event_type"))
        .orderBy("user_id", "event_type")),
    // END-TO-END streaming ingestion (StreamIngest.startDf): the corpus
    // arrives as a 3-file stream, foreachBatch commits each micro-batch as
    // fresh segments + an atomic manifest republish, and a Searcher pinned
    // to the final commit answers a term query spanning all 3 commits'
    // segments — oracle = the batch twin of the same query
    "stream_ingest_query" -> ((s, dir) =>
      Engine.docIds(Engine.streamIngestedSearcher(s, dir), TermQ("vector")))
  )

  /** Embedding of vec_id 0 as the ANN query vector (exact float->double). */
  private def queryVec(s: SparkSession, dir: String): Array[Double] = {
    import s.implicits._
    s.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") === 0).select(col("embedding"))
      .as[Array[Float]].head().map(_.toDouble)
  }

  // ------------------------------------------------------------ oracle SQL

  /** Aliases under every plausible member name the driver might reflect on
    * (round 1: all 60 entries came back `no_oracle` despite oracle_sql.json
    * being written and valid — belt-and-braces the contract surface).
    */
  def oracles: Map[String, String] = oracleSql
  def oracle: Map[String, String] = oracleSql
  def sqlQueries: Map[String, String] = oracleSql

  def oracleSql: Map[String, String] = Map(
    "ft_term_topk" ->
      s"""WITH ${bmCtes(Seq("spark"))}
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_bool_should_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge"))}
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_bool_must_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge", "sort"))}
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |HAVING count(*) = 3 ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_dismax_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge"))}
         |SELECT doc_id, round(max(sc) + 0.3e0 * (sum(sc) - max(sc)), 6) AS score
         |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "ft_boost_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge"))}
         |SELECT doc_id, round(sum(sc * CASE t WHEN 'spark' THEN 2e0 ELSE 1e0 END), 6) AS score
         |FROM sc GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the batch entry replays each query's BM25 sum off the SAME per-term
    // score CTE, then takes per-qid top-10 by (score desc, doc_id)
    "ft_batch_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge", "vector", "window", "hash"))},
         |qt(qid, t) AS (VALUES ('q_spark', 'spark'),
         |  ('q_spark_merge', 'spark'), ('q_spark_merge', 'merge'),
         |  ('q_vwh', 'vector'), ('q_vwh', 'window'), ('q_vwh', 'hash')),
         |qs AS (SELECT qid, doc_id, round(sum(sc), 6) AS score
         |       FROM sc JOIN qt USING (t) GROUP BY qid, doc_id)
         |SELECT qid, doc_id, score FROM (
         |  SELECT qid, doc_id, score,
         |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rn
         |  FROM qs)
         |WHERE rn <= 10 ORDER BY qid, score DESC, doc_id""".stripMargin,

    // the WAND entry's f64 twin: quantized-fieldnorm dl (what the f32
    // scorer reads), projected at 4 decimals where f32 == f64 for this
    // query (WandOracleSpec asserts the rounding agreement + boundary gap).
    // ORDER BY matches the Spark side exactly — rounded score then doc_id —
    // so an intra-top-10 rounded tie orders identically on both sides
    "ft_wand_topk" ->
      s"""WITH ${bmCtesQuantized(Seq("spark", "merge", "order"))}
         |SELECT doc_id, round(sum(sc), 4) AS score FROM sc GROUP BY doc_id
         |ORDER BY round(sum(sc), 4) DESC, doc_id LIMIT 10""".stripMargin,
    "ft_top_by_string" ->
      s"""WITH $tokCte SELECT doc_id, lang FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM tok WHERE t = 'join')
         |ORDER BY lang DESC, doc_id LIMIT 15""".stripMargin,
    "ft_tweak_score" ->
      s"""WITH ${bmCtes(Seq("spark"))},
         |b AS (SELECT doc_id, sum(sc) AS bm25 FROM sc GROUP BY doc_id)
         |SELECT doc_id, round(bm25 * ln(1e0 + n_chars), 6) AS score
         |FROM b JOIN documents USING (doc_id)
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,
    "ft_topk_offset" ->
      s"""WITH ${bmCtes(Seq("spark", "merge"))}
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20 OFFSET 5""".stripMargin,
    "ft_const_score" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id, 2.5e0 AS score FROM tok
         |WHERE t = 'vector' ORDER BY doc_id""".stripMargin,
    "ft_empty" ->
      "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0",
    "agg_histogram" ->
      """SELECT floor((value - 2.5e0) / 10e0) * 10e0 + 2.5e0 AS bucket, count(*) AS cnt
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ft_term_docs" ->
      s"WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'vector' ORDER BY doc_id",
    "ft_bool_must" ->
      s"""WITH $tokCte SELECT doc_id FROM tok WHERE t IN ('spark', 'merge')
         |GROUP BY doc_id HAVING count(DISTINCT t) = 2 ORDER BY doc_id""".stripMargin,
    "ft_bool_mustnot" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'spark'
         |AND doc_id NOT IN (SELECT doc_id FROM tok WHERE t = 'join') ORDER BY doc_id""".stripMargin,
    "ft_min_should" ->
      s"""WITH $tokCte SELECT doc_id FROM tok WHERE t IN ('vector', 'window', 'hash')
         |GROUP BY doc_id HAVING count(DISTINCT t) >= 2 ORDER BY doc_id""".stripMargin,
    "ft_must_plus_min_should" ->
      s"""WITH $tokCte,
         |m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'spark'),
         |s2 AS (SELECT doc_id FROM tok WHERE t IN ('vector', 'window', 'hash')
         |       GROUP BY doc_id HAVING count(DISTINCT t) >= 2)
         |SELECT doc_id FROM m JOIN s2 USING (doc_id) ORDER BY doc_id""".stripMargin,
    "ft_phrase" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |WHERE a.t = 'batch' AND b.t = 'batch' ORDER BY doc_id""".stripMargin,
    // the merged index must reproduce the un-merged oracles exactly
    "ft_merged_phrase" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |WHERE a.t = 'batch' AND b.t = 'batch' ORDER BY doc_id""".stripMargin,
    "ft_merged_topk" ->
      s"""WITH ${bmCtes(Seq("spark", "merge"))}
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // the introspection's logical units, replayed from the raw corpus:
    // Σ per-segment per-term df = distinct (doc, term) pairs, Σ positions
    // = total tokens, dictionary size = distinct tokens
    "ft_space_usage" ->
      s"""WITH $tokCte
         |SELECT 'content' AS field,
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT doc_id, t FROM tok)) AS BIGINT) AS total_doc_freq,
         |  CAST((SELECT count(*) FROM tok) AS BIGINT) AS total_positions,
         |  CAST((SELECT count(DISTINCT t) FROM tok) AS BIGINT) AS num_terms""".stripMargin,
    "ft_phrase_slop" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i BETWEEN a.i + 1 AND a.i + 2
         |WHERE a.t = 'spark' AND b.t = 'window' ORDER BY doc_id""".stripMargin,
    "ft_phrase_prefix" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |WHERE a.t = 'order' AND b.t LIKE 's%' ORDER BY doc_id""".stripMargin,
    "ft_term_set" ->
      s"WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t IN ('dup', 'vector') ORDER BY doc_id",
    // fixed-phrase count as tf, prefix-extension as the match gate, BM25
    // weight from the two fixed terms' dfs — exact dl per the established
    // f64-twin convention
    "ft_phrase_prefix_scored" ->
      s"""WITH $posCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM pos GROUP BY doc_id),
         |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
         |dfs AS (SELECT count(DISTINCT CASE WHEN t = 'join' THEN doc_id END) AS dfa,
         |        count(DISTINCT CASE WHEN t = 'row' THEN doc_id END) AS dfb FROM pos),
         |m AS (SELECT a.doc_id, a.i FROM pos a
         |      JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |      WHERE a.t = 'join' AND b.t = 'row'),
         |c AS (SELECT doc_id, count(*) AS cnt FROM m GROUP BY doc_id),
         |ok AS (SELECT DISTINCT m.doc_id FROM m
         |       JOIN pos p ON p.doc_id = m.doc_id AND p.i = m.i + 2 AND p.t LIKE 's%')
         |SELECT doc_id, round(
         |  (ln(1e0 + (nd - dfa + 0.5e0) / (dfa + 0.5e0))
         |   + ln(1e0 + (nd - dfb + 0.5e0) / (dfb + 0.5e0))) * 2.2e0
         |  * (cnt / (cnt + 1.2e0 * (0.25e0 + 0.75e0 * dl / (CAST(tt AS DOUBLE) / nd)))), 6) AS score
         |FROM c JOIN ok USING (doc_id) JOIN dl USING (doc_id)
         |CROSS JOIN st CROSS JOIN dfs ORDER BY doc_id""".stripMargin,
    // slot-union phrase count as tf; the pattern strings' df is 0 (they are
    // not dictionary terms), so idf = ln(1 + (N + 0.5)/0.5) per slot
    "ft_regex_phrase_scored" ->
      s"""WITH $posCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM pos GROUP BY doc_id),
         |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
         |m AS (SELECT DISTINCT a.doc_id, a.i FROM pos a
         |      JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |      WHERE regexp_matches(a.t, '^sp[a-z]*$$')
         |        AND regexp_matches(b.t, '^m[a-z]*e$$')),
         |c AS (SELECT doc_id, count(*) AS cnt FROM m GROUP BY doc_id)
         |SELECT doc_id, round(
         |  2e0 * ln(1e0 + (nd + 0.5e0) / 0.5e0) * 2.2e0
         |  * (cnt / (cnt + 1.2e0 * (0.25e0 + 0.75e0 * dl / (CAST(tt AS DOUBLE) / nd)))), 6) AS score
         |FROM c JOIN dl USING (doc_id) CROSS JOIN st ORDER BY doc_id""".stripMargin,
    "ft_multivalue_term" ->
      """SELECT doc_id FROM documents
        |WHERE lang = 'src5' OR source = 'src5'
        |OR concat('t', CAST(doc_id % 5 AS VARCHAR)) = 'src5'
        |ORDER BY doc_id""".stripMargin,
    "ft_multivalue_phrase" ->
      """SELECT doc_id FROM documents WHERE lang = 'en' AND source = 'src3'
        |ORDER BY doc_id""".stripMargin,
    "ft_multivalue_range" ->
      """SELECT doc_id FROM documents
        |WHERE (n_chars BETWEEN 150 AND 400) OR (n_chars * 3 BETWEEN 150 AND 400)
        |ORDER BY doc_id""".stripMargin,
    "ft_field_scoped" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM documents
         |WHERE lang = 'en' AND doc_id IN (SELECT doc_id FROM tok WHERE t = 'spark')
         |ORDER BY doc_id""".stripMargin,
    "ft_field_scoped_default" ->
      "SELECT CAST(NULL AS BIGINT) AS doc_id WHERE 1 = 0",
    "ft_stemmed" ->
      s"WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'query' ORDER BY doc_id",
    "ft_u64_term" ->
      "SELECT doc_id FROM documents WHERE n_chars = 246 ORDER BY doc_id",
    "ft_u64_term_range" ->
      "SELECT doc_id FROM documents WHERE n_chars >= 100 AND n_chars < 300 ORDER BY doc_id",
    "ft_ip_term" ->
      "SELECT doc_id FROM documents WHERE doc_id % 200 = 42 ORDER BY doc_id",
    // ipaddr = 2001:db8::<hex(doc_id % 200)>; [::9 TO ::10} = values 9..15
    // (0x10 = 16 exclusive) in u128 order
    "ft_ip_range" ->
      "SELECT doc_id FROM documents WHERE doc_id % 200 BETWEEN 9 AND 15 ORDER BY doc_id",
    "ft_date_range" ->
      // mtime = 2020-01-01 + (doc_id % 60) days at midnight UTC; the query's
      // upper bound 2020-01-20T02:00:00+02:00 is 2020-01-20T00:00:00Z
      // exclusive => days 4..18 inclusive
      "SELECT doc_id FROM documents WHERE doc_id % 60 BETWEEN 4 AND 18 ORDER BY doc_id",
    // mtimems day = doc_id % 60, millis = doc_id % 997 (micros truncated);
    // [day4 @ .100 inclusive, day19 @ .500 exclusive — the bound's .500999
    // micros digits truncate through the same date_millis chain)
    "ft_date_range_millis" ->
      """SELECT doc_id FROM documents
        |WHERE (doc_id % 60 > 4 OR (doc_id % 60 = 4 AND doc_id % 997 >= 100))
        |  AND (doc_id % 60 < 19 OR (doc_id % 60 = 19 AND doc_id % 997 < 500))
        |ORDER BY doc_id""".stripMargin,
    // mtimens day = doc_id % 60, nanos fraction = doc_id % 1e9 (canonical
    // 9-digit width at every scale); [day4 @ 100ns inclusive, day19 @ 299ns
    // exclusive — integer replay of the nanosecond-digit cuts
    "ft_date_range_nanos" ->
      """SELECT doc_id FROM documents
        |WHERE (doc_id % 60 > 4 OR (doc_id % 60 = 4 AND doc_id % 1000000000 >= 100))
        |  AND (doc_id % 60 < 19 OR (doc_id % 60 = 19 AND doc_id % 1000000000 < 299))
        |ORDER BY doc_id""".stripMargin,
    "ft_bool_term" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok
         |JOIN documents USING (doc_id)
         |WHERE t = 'spark' AND n_chars % 2 = 0 ORDER BY doc_id""".stripMargin,
    "ft_bytes_term" ->
      "SELECT doc_id FROM documents WHERE doc_id % 65521 = 60 ORDER BY doc_id",
    "ft_pretokenized" ->
      """SELECT doc_id FROM documents
         |WHERE source = 'src7' AND doc_id % 7 = 3 ORDER BY doc_id""".stripMargin,
    "ft_json_path" ->
      """SELECT doc_id FROM documents
         |WHERE source = 'src7' AND lang = 'en' ORDER BY doc_id""".stripMargin,
    "ft_json_num" ->
      "SELECT doc_id FROM documents WHERE n_chars = 246 ORDER BY doc_id",
    "ft_range" ->
      "SELECT doc_id FROM documents WHERE n_chars BETWEEN 100 AND 200 ORDER BY doc_id",
    "ft_exists" ->
      "SELECT doc_id FROM documents WHERE lang IS NOT NULL ORDER BY doc_id",
    "ft_fuzzy" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t IN
         |(SELECT t FROM (SELECT DISTINCT t FROM tok) WHERE levenshtein(t, 'quer') <= 1)
         |ORDER BY doc_id""".stripMargin,
    // LIMIT 11 = maxQueryTerms + 1: the reference's bounded heap pushes
    // while len <= limit (`more_like_this.rs:349-360`), retaining limit+1
    // terms — the engine mirrors that faithfully
    "ft_mlt" ->
      s"""WITH $tokCte,
         |d0 AS (SELECT t, count(*) AS tf FROM tok WHERE doc_id = 0 GROUP BY t),
         |dfall AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
         |nn AS (SELECT count(*) AS nd FROM documents),
         |sel AS (SELECT t FROM d0 JOIN dfall USING (t) CROSS JOIN nn
         |  WHERE tf >= 1 AND df >= 5
         |  ORDER BY tf * ln(1e0 + (nd - df + 0.5e0) / (df + 0.5e0)) DESC, t LIMIT 11)
         |SELECT DISTINCT doc_id FROM tok WHERE t IN (SELECT t FROM sel)
         |ORDER BY doc_id""".stripMargin,
    // scored MLT: same selection (LIMIT 11 = maxQueryTerms+1 heap
    // retention), boost = s / max(s), then the boosted BM25-in-double sum
    // over exact dl — `sum(sc * boost)` rounded 6, (score desc, doc_id) cut
    "ft_mlt_topk" ->
      s"""WITH $tokCte,
         |d0 AS (SELECT t, count(*) AS tf FROM tok WHERE doc_id = 0 GROUP BY t),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
         |dfall AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
         |sel AS (SELECT t, df,
         |    tf * ln(1e0 + (nd - df + 0.5e0) / (df + 0.5e0)) AS s
         |  FROM d0 JOIN dfall USING (t) CROSS JOIN st
         |  WHERE tf >= 1 AND df >= 5
         |  ORDER BY s DESC, t LIMIT 11),
         |bsel AS (SELECT t, df, s / (SELECT max(s) FROM sel) AS boost FROM sel),
         |tf2 AS (SELECT doc_id, t, count(*) AS tf FROM tok
         |  WHERE t IN (SELECT t FROM sel) GROUP BY doc_id, t),
         |sc AS (SELECT doc_id,
         |    ${Engine.bm25F64("nd", "CAST(tt AS DOUBLE) / nd")} * boost AS sc
         |  FROM tf2 JOIN dl USING (doc_id) JOIN bsel USING (t) CROSS JOIN st)
         |SELECT doc_id, round(sum(sc), 6) AS score FROM sc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // full replay of the snippet fragmenter (`src/snippet/mod.rs:205-263`):
    // token char offsets from the split widths, greedy fragment cut points
    // via a recursive CTE (next start = first token whose end overflows
    // start+100; the t2.f > f.s guard keeps the recursion strictly
    // advancing when one token alone exceeds maxNumChars — such a token
    // forms its own fragment, as in the engine's searchFragments),
    // tokens assigned to the latest cut at-or-before them.
    // Validity domain: the replay space-splits the raw text, so it is
    // exact while every corpus token is < 40 UTF-8 bytes (the default
    // chain's RemoveLongFilter drops longer tokens BEFORE the fragmenter,
    // shifting cut points the SQL would still count) — true of this
    // synthetic corpus (max token 8 bytes) and asserted obvious if ever
    // violated: the entry hash-fails rather than silently passing,
    // fragments kept iff they contain a query-term occurrence, best = max
    // occurrence count (single-term query => score order == count order)
    // with earliest (start, stop) tie-break, highlights emitted as
    // fragment-relative "from:to" pairs in token order
    "ft_snippet_ranges" ->
      """WITH RECURSIVE
        |pos AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS i,
        |        unnest(string_split(text, ' ')) AS t FROM documents),
        |tk AS (SELECT doc_id, i, t,
        |        CAST(coalesce(sum(strlen(t) + 1) OVER w, 0) AS BIGINT) AS f,
        |        CAST(coalesce(sum(strlen(t) + 1) OVER w, 0) + strlen(t) AS BIGINT) AS e
        |       FROM pos
        |       WINDOW w AS (PARTITION BY doc_id ORDER BY i
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |frag AS (
        |  SELECT DISTINCT doc_id, CAST(0 AS BIGINT) AS s FROM tk
        |  UNION ALL
        |  SELECT f.doc_id,
        |         (SELECT min(t2.f) FROM tk t2 WHERE t2.doc_id = f.doc_id AND t2.f > f.s AND t2.e > f.s + 100) AS s
        |  FROM frag f
        |  WHERE EXISTS (SELECT 1 FROM tk t2 WHERE t2.doc_id = f.doc_id AND t2.f > f.s AND t2.e > f.s + 100)),
        |asg AS (SELECT tk.*, (SELECT max(fr.s) FROM frag fr
        |                      WHERE fr.doc_id = tk.doc_id AND fr.s <= tk.f) AS s FROM tk),
        |fs AS (SELECT doc_id, s, max(e) AS stop,
        |              count(*) FILTER (WHERE t = 'spark') AS cnt
        |       FROM asg GROUP BY doc_id, s
        |       HAVING count(*) FILTER (WHERE t = 'spark') > 0),
        |best AS (SELECT doc_id, s, stop FROM fs
        |         QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, s, stop) = 1)
        |SELECT b.doc_id,
        |       substring(d.text, CAST(b.s + 1 AS INT), CAST(b.stop - b.s AS INT)) AS fragment,
        |       (SELECT string_agg(CAST(a.f - b.s AS VARCHAR) || ':' || CAST(a.e - b.s AS VARCHAR), ';' ORDER BY a.f)
        |        FROM asg a WHERE a.doc_id = b.doc_id AND a.s = b.s AND a.t = 'spark') AS highlights
        |FROM best b JOIN documents d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // strlen() is DuckDB's BYTE length — matching the engine's UTF-8-byte
    // word-length bounds (`is_noise_word` measures String::len, i.e. bytes);
    // LIMIT 5 = maxQueryTerms(4) + 1 per the mirrored heap retention
    "ft_mlt_opts" ->
      s"""WITH $tokCte,
         |d0 AS (SELECT t, count(*) AS tf FROM tok WHERE doc_id = 0 GROUP BY t),
         |dfall AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok GROUP BY t),
         |nn AS (SELECT count(*) AS nd FROM documents),
         |sel AS (SELECT t FROM d0 JOIN dfall USING (t) CROSS JOIN nn
         |  WHERE tf >= 1 AND df >= 5 AND df <= 390
         |    AND strlen(t) BETWEEN 4 AND 5 AND t NOT IN ('table')
         |  ORDER BY tf * ln(1e0 + (nd - df + 0.5e0) / (df + 0.5e0)) DESC, t LIMIT 5)
         |SELECT DISTINCT doc_id FROM tok WHERE t IN (SELECT t FROM sel)
         |ORDER BY doc_id""".stripMargin,
    "ft_delete" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'the'
         |AND doc_id NOT IN (SELECT doc_id FROM tok WHERE t = 'dup')
         |ORDER BY doc_id""".stripMargin,
    "ft_regex" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t IN
         |(SELECT t FROM (SELECT DISTINCT t FROM tok) WHERE regexp_matches(t, '^s[a-z]*k$$'))
         |ORDER BY doc_id""".stripMargin,
    "ft_regex_phrase" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |WHERE regexp_matches(a.t, '^sp[a-z]*$$') AND regexp_matches(b.t, '^m[a-z]*e$$')
         |ORDER BY doc_id""".stripMargin,
    "ft_parsed" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'spark'
         |AND doc_id NOT IN (SELECT doc_id FROM tok WHERE t = 'join')
         |ORDER BY doc_id""".stripMargin,
    "ft_parsed_field" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM documents
         |WHERE lang = 'en' AND doc_id IN (SELECT doc_id FROM tok WHERE t = 'spark')
         |ORDER BY doc_id""".stripMargin,
    "ft_parsed_range" ->
      "SELECT doc_id FROM documents WHERE n_chars BETWEEN 100 AND 200 ORDER BY doc_id",
    "ft_parsed_bool_expr" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t IN ('spark', 'merge')
         |AND doc_id NOT IN (SELECT doc_id FROM tok WHERE t = 'join')
         |ORDER BY doc_id""".stripMargin,
    "ft_parsed_term_range" ->
      s"""WITH $tokCte SELECT DISTINCT doc_id FROM tok
         |WHERE t >= 'aa' AND t <= 'ab' ORDER BY doc_id""".stripMargin,
    "ft_parsed_set" ->
      "SELECT doc_id FROM documents WHERE lang IN ('en', 'fr') ORDER BY doc_id",
    "ft_parsed_phrase_prefix" ->
      s"""WITH $posCte SELECT DISTINCT a.doc_id AS doc_id FROM pos a
         |JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |WHERE a.t = 'order' AND b.t LIKE 's%' ORDER BY doc_id""".stripMargin,
    // the query literal 'Spark MERGE' analyzes to {spark, merge} (lowercase)
    "ft_match_expr" ->
      s"""WITH $tokCte SELECT doc_id FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM tok WHERE t = 'spark')
         |  AND doc_id IN (SELECT doc_id FROM tok WHERE t = 'merge')
         |ORDER BY doc_id""".stripMargin,
    "ft_facet_path" ->
      s"""WITH $tokCte, m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'spark'),
         |f AS (SELECT '/' || lang AS facet FROM documents JOIN m USING (doc_id)
         |      UNION ALL
         |      SELECT '/' || lang || '/' || source FROM documents JOIN m USING (doc_id))
         |SELECT facet, count(*) AS cnt FROM f GROUP BY facet ORDER BY facet""".stripMargin,
    "text_ngram" ->
      """SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 3) AS gram
        |FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
        |      FROM documents WHERE doc_id < 20)
        |ORDER BY doc_id, gram""".stripMargin,

    "ft_explain" ->
      s"""WITH $tokCte,
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
         |st AS (SELECT count(*) AS nd, CAST(sum(dl) AS BIGINT) AS tt FROM dl),
         |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok WHERE t IN ('spark', 'merge') GROUP BY doc_id, t),
         |dft AS (SELECT t, count(DISTINCT doc_id) AS df FROM tok WHERE t IN ('spark', 'merge') GROUP BY t)
         |SELECT doc_id, t AS term, CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
         |round(ln(1e0 + (nd - df + 0.5e0) / (df + 0.5e0)), 6) AS idf,
         |round(${Engine.bm25F64("nd", "CAST(tt AS DOUBLE) / nd")}, 6) AS score
         |FROM tf JOIN dl USING (doc_id) JOIN dft USING (t) CROSS JOIN st
         |ORDER BY doc_id, term""".stripMargin,
    "ft_multi" ->
      s"""WITH $tokCte, m AS (SELECT DISTINCT doc_id FROM tok WHERE t = 'join')
         |SELECT count(*) AS cnt,
         |CAST(min(n_chars) AS BIGINT) AS min_len,
         |CAST(max(n_chars) AS BIGINT) AS max_len,
         |CAST(sum(n_chars) AS BIGINT) AS sum_len
         |FROM documents JOIN m USING (doc_id)""".stripMargin,
    "ft_count" ->
      s"WITH $tokCte SELECT count(DISTINCT doc_id) AS cnt FROM tok WHERE t IN ('spark', 'merge')",
    "ft_all_count" -> "SELECT count(*) AS cnt FROM documents",
    "ft_facet" ->
      s"""WITH $tokCte SELECT d.lang AS lang, count(*) AS cnt FROM documents d
         |WHERE d.doc_id IN (SELECT doc_id FROM tok WHERE t = 'spark')
         |GROUP BY d.lang ORDER BY lang""".stripMargin,
    "ft_histogram" ->
      s"""WITH $tokCte SELECT CAST(floor(n_chars / 50) AS BIGINT) * 50 AS bucket,
         |count(*) AS cnt FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM tok WHERE t = 'join')
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ft_top_by_field" ->
      s"""WITH $tokCte SELECT doc_id, n_chars FROM documents
         |WHERE doc_id IN (SELECT doc_id FROM tok WHERE t = 'join')
         |ORDER BY n_chars DESC, doc_id LIMIT 15""".stripMargin,

    "agg_metric_stats" ->
      """SELECT l_returnflag, count(*) AS cnt, sum(l_quantity) AS sum_qty,
        |min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
        |CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / CAST(100 AS DOUBLE) / count(*), 6) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_extended_stats" ->
      """WITH b AS (SELECT l_linestatus, count(*) AS n,
        |CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
        |CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s2
        |FROM lineitem GROUP BY l_linestatus)
        |SELECT l_linestatus, n, s1, s2,
        |round((s2 - CAST(s1 AS DOUBLE) * s1 / n) / n, 6) AS var_pop,
        |round(sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / n), 6) AS std_pop
        |FROM b ORDER BY l_linestatus""".stripMargin,
    "agg_percentiles" ->
      """SELECT l_returnflag,
        |round(quantile_cont(l_quantity, 0.25e0), 6) AS p25,
        |round(quantile_cont(l_quantity, 0.5e0), 6) AS p50,
        |round(quantile_cont(l_quantity, 0.75e0), 6) AS p75,
        |round(quantile_cont(l_quantity, 0.95e0), 6) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // DDSketch replay (paper §2.1, alpha = 0.01): bucket key =
    // ceil(log_gamma v) with the log-ratio rounded to 9 decimals before
    // ceil (cross-engine ln ulp guard), quantile = first bucket whose
    // cumulative count exceeds q*(n-1), value = 2*gamma^k/(gamma+1)
    "agg_percentiles_ddsketch" ->
      """WITH b AS (SELECT l_returnflag,
        |        CASE WHEN CAST(l_quantity AS DOUBLE) < 1e-9 THEN -1000000
        |             ELSE CAST(ceil(round(ln(CAST(l_quantity AS DOUBLE))
        |                  / ln((1e0+0.01e0)/(1e0-0.01e0)), 9)) AS BIGINT) END AS k,
        |        count(*) AS cnt
        |      FROM lineitem WHERE l_quantity IS NOT NULL AND l_quantity >= 0 GROUP BY 1, 2),
        |c AS (SELECT *, sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY k) AS cum,
        |             sum(cnt) OVER (PARTITION BY l_returnflag) AS n FROM b),
        |p AS (SELECT l_returnflag,
        |        min(CASE WHEN cum > 0.25e0 * (n-1) THEN k END) AS k25,
        |        min(CASE WHEN cum > 0.50e0 * (n-1) THEN k END) AS k50,
        |        min(CASE WHEN cum > 0.75e0 * (n-1) THEN k END) AS k75,
        |        min(CASE WHEN cum > 0.95e0 * (n-1) THEN k END) AS k95
        |      FROM c GROUP BY 1)
        |SELECT l_returnflag,
        |  round(CASE WHEN k25 = -1000000 THEN 0e0 ELSE 2e0 * power((1e0+0.01e0)/(1e0-0.01e0), k25) / ((1e0+0.01e0)/(1e0-0.01e0) + 1e0) END, 6) AS p25,
        |  round(CASE WHEN k50 = -1000000 THEN 0e0 ELSE 2e0 * power((1e0+0.01e0)/(1e0-0.01e0), k50) / ((1e0+0.01e0)/(1e0-0.01e0) + 1e0) END, 6) AS p50,
        |  round(CASE WHEN k75 = -1000000 THEN 0e0 ELSE 2e0 * power((1e0+0.01e0)/(1e0-0.01e0), k75) / ((1e0+0.01e0)/(1e0-0.01e0) + 1e0) END, 6) AS p75,
        |  round(CASE WHEN k95 = -1000000 THEN 0e0 ELSE 2e0 * power((1e0+0.01e0)/(1e0-0.01e0), k95) / ((1e0+0.01e0)/(1e0-0.01e0) + 1e0) END, 6) AS p95
        |FROM p ORDER BY l_returnflag""".stripMargin,
    "agg_terms_top" ->
      """SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
        |ORDER BY cnt DESC, event_type LIMIT 3""".stripMargin,
    "agg_range_buckets" ->
      """SELECT CASE WHEN value < 25e0 THEN 'lo' WHEN value < 50e0 THEN 'mid'
        |WHEN value < 75e0 THEN 'hi' ELSE 'top' END AS bucket, count(*) AS cnt
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,
    "agg_date_histogram" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS cnt FROM events
        |GROUP BY day ORDER BY day""".stripMargin,
    "agg_filter_bucket" ->
      """SELECT event_type, count(*) AS cnt,
        |CAST(sum(CASE WHEN value > 50e0 THEN 1 ELSE 0 END) AS BIGINT) AS high_cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id) AS uniq FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // full HLL replay (ops/Hll.scala): 60-bit md5-prefix hash parsed with
    // the hex list_reduce, p=12 registers, rho from bin() bit length,
    // EXACT integer register sum (2^(49-r)), alpha_m estimator with the
    // linear-counting small-range branch — bit-for-bit vs the Spark side
    "agg_cardinality_hll" ->
      """WITH hx AS (SELECT event_type,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(substring(md5(CAST(user_id AS VARCHAR)), 1, 15), ''),
        |           c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT))),
        |         (a, b) -> a * 16 + b) AS h
        |     FROM events WHERE user_id IS NOT NULL),
        |rw AS (SELECT event_type, h // 281474976710656 AS j, h % 281474976710656 AS w FROM hx),
        |rg AS (SELECT event_type, j,
        |              max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS r
        |       FROM rw GROUP BY 1, 2),
        |pg AS (SELECT event_type, count(*) AS used,
        |              CAST(sum(CAST(1 AS BIGINT) << (49 - r)) AS BIGINT) AS si
        |       FROM rg GROUP BY 1)
        |SELECT event_type,
        |  round(CASE WHEN (0.7213e0/(1e0+1.079e0/4096)) * 4096 * 4096
        |              / (CAST(si + (4096 - used) * (CAST(1 AS BIGINT) << 49) AS DOUBLE) / power(2e0, 49)) <= 2.5e0 * 4096
        |             AND (4096 - used) > 0
        |        THEN 4096e0 * ln(4096e0 / CAST(4096 - used AS DOUBLE))
        |        ELSE (0.7213e0/(1e0+1.079e0/4096)) * 4096 * 4096
        |              / (CAST(si + (4096 - used) * (CAST(1 AS BIGINT) << 49) AS DOUBLE) / power(2e0, 49)) END, 4) AS uniq_hll
        |FROM pg ORDER BY event_type""".stripMargin,
    "agg_terms_with_stats" ->
      """SELECT event_type, count(*) AS cnt,
        |CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sum_milli,
        |min(value) AS min_v, max(value) AS max_v,
        |round(CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT)
        |  / CAST(1000 AS DOUBLE) / count(*), 6) AS avg_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_nested_terms_hist" ->
      """SELECT event_type, floor(value / 25e0) * 25e0 AS bucket, count(*) AS cnt
        |FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket""".stripMargin,
    "agg_tree_siblings" ->
      """WITH t AS (
        |  SELECT 'event_type' AS agg_path, event_type, -1e0 AS bucket,
        |         '(all)' AS day, count(*) AS cnt FROM events GROUP BY event_type
        |  UNION ALL
        |  SELECT 'event_type>bucket', event_type, floor(value / 25e0) * 25e0,
        |         '(all)', count(*) FROM events GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT 'event_type>day', event_type, -1e0, strftime(ts, '%Y-%m-%d'),
        |         count(*) FROM events GROUP BY 1, 2, 4)
        |SELECT * FROM t ORDER BY agg_path, event_type, bucket, day""".stripMargin,
    "agg_nested_rollup" ->
      """WITH b AS (SELECT event_type, floor(value / 25e0) * 25e0 AS bucket FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |coalesce(bucket, -1e0) AS bucket, count(*) AS cnt
        |FROM b GROUP BY ROLLUP(event_type, bucket)
        |ORDER BY event_type, bucket""".stripMargin,
    "agg_top_hits" ->
      """SELECT lang, doc_id, n_chars FROM (
        |SELECT lang, doc_id, n_chars,
        |row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
        |FROM documents) WHERE rk <= 2 ORDER BY lang, doc_id""".stripMargin,
    "agg_date_histogram_fixed" ->
      """WITH o AS (SELECT CAST(floor(epoch_ms(ts) / 43200000e0) AS BIGINT) AS ord,
        |count(*) AS cnt FROM events GROUP BY 1),
        |b AS (SELECT min(ord) AS lo, max(ord) AS hi FROM o),
        |r AS (SELECT unnest(generate_series(lo, hi)) AS ord FROM b)
        |SELECT CAST(ord AS DOUBLE) * 43200000e0 AS key,
        |coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM r LEFT JOIN o USING (ord) ORDER BY key""".stripMargin,
    "agg_date_histogram_month" ->
      """SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS month,
        |count(*) AS cnt FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_terms_order_by_metric" ->
      """SELECT event_type, count(*) AS cnt, round(avg(value), 6) AS avg_value
        |FROM events WHERE event_type IS NOT NULL GROUP BY event_type
        |ORDER BY avg_value DESC, event_type LIMIT 3""".stripMargin,
    "agg_range_gap_fill" ->
      """WITH g AS (SELECT CASE WHEN value < 25e0 THEN '*-25'
        |WHEN value >= 25e0 AND value < 50e0 THEN '25-50'
        |WHEN value >= 1000e0 AND value < 1001e0 THEN '1000-1001'
        |WHEN value >= 50e0 THEN '50-*' END AS key,
        |count(*) AS cnt, round(avg(value), 6) AS avg_value
        |FROM events WHERE value IS NOT NULL GROUP BY 1),
        |a AS (SELECT * FROM (VALUES ('*-25'), ('25-50'), ('1000-1001'),
        |('50-*')) AS t(key))
        |SELECT a.key, coalesce(g.cnt, CAST(0 AS BIGINT)) AS cnt, g.avg_value
        |FROM a LEFT JOIN g USING (key) ORDER BY a.key""".stripMargin,
    "agg_terms_sum_other" ->
      """WITH b AS (SELECT event_type, count(*) AS cnt FROM events
        |WHERE event_type IS NOT NULL GROUP BY 1
        |ORDER BY cnt DESC, event_type LIMIT 3),
        |t AS (SELECT count(*) AS total FROM events
        |WHERE event_type IS NOT NULL)
        |SELECT b.event_type, b.cnt,
        |CAST(t.total - (SELECT sum(cnt) FROM b) AS BIGINT) AS sum_other_doc_count,
        |CAST(0 AS BIGINT) AS doc_count_error_upper_bound
        |FROM b, t ORDER BY cnt DESC, event_type""".stripMargin,
    // segment-cutoff replay: per-shard rank cut at 2, error bound = Σ of
    // each shard's rank-3 count, sum_other = total − Σ(returned doc_counts).
    // ((x % 3) + 3) % 3 is DuckDB's spelling of Spark's pmod — SQL % keeps
    // the sign of the dividend, so the two would shard negative user_ids
    // differently without it
    "agg_terms_approx" ->
      """WITH ps AS (SELECT ((user_id % 3) + 3) % 3 AS sh, event_type, count(*) AS cnt
        |            FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |rk AS (SELECT *, row_number() OVER
        |         (PARTITION BY sh ORDER BY cnt DESC, event_type) AS rk FROM ps),
        |err AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS e FROM rk WHERE rk = 3),
        |tot AS (SELECT count(*) AS t FROM events WHERE event_type IS NOT NULL),
        |merged AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS doc_count
        |           FROM rk WHERE rk <= 2 GROUP BY event_type
        |           ORDER BY doc_count DESC, event_type LIMIT 2),
        |s AS (SELECT sum(doc_count) AS topsum FROM merged)
        |SELECT event_type, doc_count,
        |       CAST(t - topsum AS BIGINT) AS sum_other_doc_count,
        |       e AS doc_count_error_upper_bound
        |FROM merged CROSS JOIN err CROSS JOIN tot CROSS JOIN s
        |ORDER BY doc_count DESC, event_type""".stripMargin,
    // floor(-100/20) = -5, floor(600/20) = 30: the extended_bounds bucket
    // positions, replayed as constants like the Scala side's ordOf
    "agg_histogram_empty_buckets" ->
      """WITH o AS (SELECT CAST(floor(value / 20e0) AS BIGINT) AS ord, count(*) AS cnt
        |FROM events GROUP BY 1),
        |b AS (SELECT least(min(ord), CAST(-5 AS BIGINT)) AS lo,
        |greatest(max(ord), CAST(30 AS BIGINT)) AS hi FROM o),
        |r AS (SELECT unnest(generate_series(lo, hi)) AS ord FROM b)
        |SELECT CAST(ord AS DOUBLE) * 20e0 AS bucket,
        |coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM r LEFT JOIN o USING (ord) ORDER BY bucket""".stripMargin,
    "agg_histogram_hard_bounds" ->
      """WITH o AS (SELECT CAST(floor(value / 20e0) AS BIGINT) AS ord, count(*) AS cnt
        |FROM events WHERE value >= 50e0 AND value <= 310e0 GROUP BY 1),
        |b AS (SELECT greatest(min(ord), CAST(2 AS BIGINT)) AS lo,
        |least(max(ord), CAST(15 AS BIGINT)) AS hi FROM o),
        |r AS (SELECT unnest(generate_series(lo, hi)) AS ord FROM b)
        |SELECT CAST(ord AS DOUBLE) * 20e0 AS bucket,
        |coalesce(cnt, CAST(0 AS BIGINT)) AS cnt
        |FROM r LEFT JOIN o USING (ord) ORDER BY bucket""".stripMargin,
    "agg_histogram_min_doc" ->
      """SELECT CAST(CAST(floor(value / 1e0) AS BIGINT) AS DOUBLE) * 1e0 AS bucket,
        |count(*) AS cnt FROM events GROUP BY 1
        |HAVING count(*) >= 15 ORDER BY bucket""".stripMargin,
    "agg_terms_missing" ->
      """SELECT coalesce(nullif(lang, 'en'), '(none)') AS lang_key, count(*) AS cnt
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "agg_terms_opts" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY 1 ORDER BY 1 LIMIT 3""".stripMargin,
    "agg_avg_missing" ->
      """WITH e AS (SELECT event_type,
        |CASE WHEN value < 10e0 THEN NULL ELSE value END AS v_null FROM events)
        |SELECT event_type, count(*) AS cnt,
        |round(avg(coalesce(v_null, 0e0)), 6) AS avg_missing_zero,
        |round(avg(v_null), 6) AS avg_skip_null
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS cnt FROM documents
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_bag" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS cnt FROM documents
        |GROUP BY md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |ORDER BY keep_id""".stripMargin,
    "dedup_minhash_sig" -> (minhashSigSql +
      " SELECT doc_id, i AS perm, minh FROM sig ORDER BY doc_id, perm"),
    "dedup_minhash_pairs" ->
      s"""$minhashPairsCtes
         |SELECT a, b, jaccard FROM pj
         |WHERE jaccard >= 0.9e0 ORDER BY a, b""".stripMargin,
    // connected components over the verified pairs by recursive closure:
    // reach(n, r) spreads every doc's id along edges; min reachable id per
    // node IS the component's canonical min (edges are symmetric), and
    // docs in no pair keep themselves
    "dedup_cluster" ->
      s"""${minhashPairsCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |p AS (SELECT a, b FROM pj WHERE jaccard >= 0.9e0),
         |e AS (SELECT a AS src, b AS dst FROM p UNION SELECT b AS src, a AS dst FROM p),
         |reach AS (SELECT doc_id AS node, doc_id AS r FROM documents
         |  UNION
         |  SELECT e.dst AS node, reach.r AS r FROM reach JOIN e ON e.src = reach.node)
         |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH tf AS (SELECT doc_id, t, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY doc_id, t),
         |th AS (SELECT doc_id, tf, ${sqlCharHash("t")} AS h FROM tf),
         |pl AS (SELECT j, ((2 * j + 1) * 2654435761) % $P AS aj, (j * 97531 + 12345) % $P AS bj
         |  FROM range(${Dedup.SimBits}) t(j)),
         |bits AS (SELECT doc_id, j, sum(tf * (((h * aj + bj) % $P % 2) * 2 - 1)) AS s
         |  FROM th CROSS JOIN pl GROUP BY doc_id, j)
         |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH tf AS (SELECT doc_id, t, count(*) AS tf FROM
         |  (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents) GROUP BY doc_id, t),
         |th AS (SELECT doc_id, tf, ${sqlCharHash("t")} AS h FROM tf),
         |pl AS (SELECT j, ((2 * j + 1) * 2654435761) % $P AS aj, (j * 97531 + 12345) % $P AS bj
         |  FROM range(${Dedup.SimBits}) t(j)),
         |bits AS (SELECT doc_id, j, sum(tf * (((h * aj + bj) % $P % 2) * 2 - 1)) AS s
         |  FROM th CROSS JOIN pl GROUP BY doc_id, j),
         |fp AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS f
         |  FROM bits GROUP BY doc_id)
         |SELECT l.doc_id AS a, r.doc_id AS b,
         |       CAST(bit_count(xor(l.f, r.f)) AS INT) AS hamming
         |FROM fp l JOIN fp r ON l.doc_id < r.doc_id
         |WHERE bit_count(xor(l.f, r.f)) <= 3 ORDER BY a, b""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH $posCte,
         |sh AS (SELECT DISTINCT a.doc_id, ${sqlCharHash("a.t || ' ' || b.t || ' ' || c.t")} AS s
         |  FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
         |  JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2),
         |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i FROM sh l
         |  JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id GROUP BY l.doc_id, r.doc_id)
         |SELECT a, b, jaccard FROM (
         |  SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
         |  FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b)
         |WHERE jaccard >= 0.5e0 ORDER BY a, b""".stripMargin,
    // replays the Spark plan's LSH blocking bit-for-bit (deterministic
    // integer-arithmetic hyperplanes, Similarity.planeComponent), then the
    // exact cosine verify over candidates — oracle-checked approximate dedup
    "dedup_embed" ->
      s"""WITH $embCte
         |, pl AS (SELECT j, d,
         |    CAST(((j * 131 + d) * 2654435761 + 1013904223) % $P AS DOUBLE) / $P * 2 - 1 AS w
         |    FROM range(${Similarity.NumPlanes}) t(j) CROSS JOIN range(64) r(d)),
         |dt AS (SELECT v.vec_id, pl.j, sum(v.x * pl.w) AS dp
         |    FROM v JOIN pl ON pl.d = v.i - 1 GROUP BY v.vec_id, pl.j),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dp >= 0
         |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
         |    FROM dt GROUP BY vec_id),
         |pr AS (SELECT vec_id, bucket AS pb FROM bk
         |    UNION ALL
         |    SELECT vec_id, xor(bucket, CAST(1 AS BIGINT) << j) AS pb
         |    FROM bk CROSS JOIN range(${Similarity.NumPlanes}) t(j)),
         |cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
         |    FROM pr l JOIN pr r ON l.pb = r.pb AND l.vec_id < r.vec_id),
         |d AS (SELECT c.a, c.b, sum(l.x * r.x) AS dot FROM cand c
         |    JOIN v l ON l.vec_id = c.a JOIN v r ON r.vec_id = c.b AND r.i = l.i
         |    GROUP BY c.a, c.b)
         |SELECT a, b, cosine FROM (
         |  SELECT a, b, round(dot / (na.nrm * nb.nrm), 6) AS cosine
         |  FROM d JOIN n na ON na.vec_id = a JOIN n nb ON nb.vec_id = b)
         |WHERE cosine >= 0.45e0 ORDER BY a, b""".stripMargin,

    "ann_cosine_topk" ->
      s"""WITH $embCte
         |, q AS (SELECT i, x AS qx FROM v WHERE vec_id = 0),
         |qn AS (SELECT sqrt(sum(qx * qx)) AS qn FROM q),
         |d AS (SELECT v.vec_id, sum(x * qx) AS dot FROM v JOIN q USING (i) GROUP BY v.vec_id)
         |SELECT vec_id, round(dot / (nrm * qn), 6) AS cosine
         |FROM d JOIN n USING (vec_id) CROSS JOIN qn
         |ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin,

    // replays the LSH probe path bit-for-bit (same integer-arithmetic
    // hyperplanes as dedup_embed): every vector's bucket, the query's
    // (vec_id 0) bucket + its Hamming-1 neighbors as the probe set, exact
    // cosine top-k over probed candidates only — the approximation itself
    // is oracle-CHECKED, like dedup_embed
    "ann_lsh_topk" ->
      s"""WITH $embCte
         |, pl AS (SELECT j, d,
         |    CAST(((j * 131 + d) * 2654435761 + 1013904223) % $P AS DOUBLE) / $P * 2 - 1 AS w
         |    FROM range(${Similarity.NumPlanes}) t(j) CROSS JOIN range(64) r(d)),
         |dt AS (SELECT v.vec_id, pl.j, sum(v.x * pl.w) AS dp
         |    FROM v JOIN pl ON pl.d = v.i - 1 GROUP BY v.vec_id, pl.j),
         |bk AS (SELECT vec_id, CAST(sum(CASE WHEN dp >= 0
         |    THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
         |    FROM dt GROUP BY vec_id),
         |qb AS (SELECT bucket AS b0 FROM bk WHERE vec_id = 0),
         |pr AS (SELECT b0 AS pb FROM qb
         |    UNION ALL
         |    SELECT xor(b0, CAST(1 AS BIGINT) << j) AS pb
         |    FROM qb CROSS JOIN range(${Similarity.NumPlanes}) t(j)),
         |cand AS (SELECT vec_id FROM bk WHERE bucket IN (SELECT pb FROM pr)),
         |q AS (SELECT i, x AS qx FROM v WHERE vec_id = 0),
         |qn AS (SELECT sqrt(sum(qx * qx)) AS qn FROM q),
         |d AS (SELECT v.vec_id, sum(x * qx) AS dot FROM v JOIN q USING (i)
         |    WHERE v.vec_id IN (SELECT vec_id FROM cand) GROUP BY v.vec_id)
         |SELECT vec_id, round(dot / (nrm * qn), 6) AS cosine
         |FROM d JOIN n USING (vec_id) CROSS JOIN qn
         |ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin,

    // replays the deterministic IVF training + probe + re-rank end to end
    // (no RNG anywhere; assignment dots rounded to 9 decimals on both
    // sides absorb fp summation-order differences)
    "ann_ivf_topk" -> ivfOracleSql,

    "text_langid_fitted" ->
      s"""WITH tri AS (SELECT doc_id, lang,
         |    unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
         |                          i -> substr(text, CAST(i AS INT), 3))) AS tri
         |  FROM documents),
         |prof AS (SELECT lang, tri, row_number() OVER
         |    (PARTITION BY lang ORDER BY count(*) DESC, tri) AS rank
         |  FROM tri GROUP BY lang, tri
         |  QUALIFY rank <= ${TextOps.TriK}),
         |dt AS (SELECT DISTINCT doc_id, tri FROM tri),
         |sc AS (SELECT doc_id, p.lang,
         |    CAST(sum(${TextOps.TriK} + 1 - p.rank) AS BIGINT) AS score
         |  FROM dt JOIN prof p USING (tri) GROUP BY doc_id, p.lang)
         |SELECT doc_id, lang AS pred_lang, score FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) = 1
         |ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH $tokCte,
         |c AS (SELECT doc_id,
         |  CAST(sum(CASE WHEN t IN (${inList(TextOps.profiles(0)._2)}) THEN 1 ELSE 0 END) AS BIGINT) AS c_code,
         |  CAST(sum(CASE WHEN t IN (${inList(TextOps.profiles(1)._2)}) THEN 1 ELSE 0 END) AS BIGINT) AS c_db,
         |  CAST(sum(CASE WHEN t IN (${inList(TextOps.profiles(2)._2)}) THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
         |  CAST(sum(CASE WHEN t IN (${inList(TextOps.profiles(3)._2)}) THEN 1 ELSE 0 END) AS BIGINT) AS c_stream
         |  FROM tok GROUP BY doc_id)
         |SELECT doc_id, c_code, c_db, c_en, c_stream,
         |CASE WHEN c_code >= c_db AND c_code >= c_en AND c_code >= c_stream THEN 'code'
         |WHEN c_db >= c_en AND c_db >= c_stream THEN 'db'
         |WHEN c_en >= c_stream THEN 'en' ELSE 'stream' END AS pred_lang
         |FROM c ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      s"""WITH b AS (SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x IN (${inList(TextOps.stopWords)}))) AS BIGINT) AS n_stop,
         |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
         |  FROM documents)
         |SELECT doc_id, n_tokens, n_chars, n_stop, n_distinct,
         |round((n_chars - (n_tokens - 1)) * CAST(1 AS DOUBLE) / n_tokens, 6) AS mean_wlen,
         |round(n_stop * CAST(1 AS DOUBLE) / n_tokens, 6) AS stop_ratio,
         |round(n_distinct * CAST(1 AS DOUBLE) / n_tokens, 6) AS ttr,
         |round(n_distinct * 0.5e0 / n_tokens + (1e0 - n_stop * CAST(1 AS DOUBLE) / n_tokens) * 0.3e0
         |  + least(n_tokens, 100) * 0.2e0 / 100, 6) AS quality
         |FROM b ORDER BY doc_id""".stripMargin,
    "text_tokcount" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"SELECT doc_id, ${sqlCharHash("text")} AS fp FROM documents ORDER BY doc_id",
    // Spark's (frac * P).cast(long) truncates; DuckDB CAST rounds — floor
    // makes both sides truncate identically
    "text_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE (doc_id * 2654435761) % $P < CAST(floor(
         |  (CASE WHEN lang = 'en' THEN 0.25e0 WHEN lang = 'fr' THEN 0.5e0
         |   ELSE 1.0e0 END) * $P) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,
    "text_winnow" ->
      s"""WITH g AS (SELECT doc_id, i, ${sqlCharHash("substr(text, CAST(i AS INTEGER), 8)")} AS h
         |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
         |        FROM documents WHERE length(text) >= 8)),
         |w AS (SELECT doc_id, min(h) OVER (PARTITION BY doc_id ORDER BY i
         |  ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM g)
         |SELECT DISTINCT doc_id, fp FROM w ORDER BY doc_id, fp""".stripMargin,

    "mm_blob_meta" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS byte_len,
        |CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
        |CAST(length(text) % 640 + 16 AS BIGINT) AS width,
        |CAST((ascii(substr(text, 1, 1)) * 7) % 480 + 16 AS BIGINT) AS height,
        |CAST(length(text) % 40 + 5 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      """SELECT doc_id, unnest(range(0, length(text) % 40 + 5, 7)) AS frame_idx
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_resize" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(length(text) % 640 + 16 AS BIGINT) AS width,
        |  CAST((ascii(substr(text, 1, 1)) * 7) % 480 + 16 AS BIGINT) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |CASE WHEN width <= 128 AND height <= 96 THEN width
        |     WHEN height * 128 <= width * 96 THEN CAST(128 AS BIGINT)
        |     ELSE greatest(CAST(1 AS BIGINT), width * 96 // height) END AS out_width,
        |CASE WHEN width <= 128 AND height <= 96 THEN height
        |     WHEN height * 128 <= width * 96 THEN greatest(CAST(1 AS BIGINT), height * 128 // width)
        |     ELSE CAST(96 AS BIGINT) END AS out_height
        |FROM m ORDER BY doc_id""".stripMargin,
    // the PNGs are encoded with dims (doc_id % 97 + 16, doc_id % 53 + 16);
    // ImageIO's header parse must hand those exact dims back (n_frames = 1
    // for PNG) — the oracle IS the fixture-side arithmetic
    "mm_image_decode" ->
      """SELECT doc_id,
        |CAST(doc_id % 97 + 16 AS BIGINT) AS width,
        |CAST(doc_id % 53 + 16 AS BIGINT) AS height,
        |CAST(1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "mm_image_resize" ->
      """WITH m AS (SELECT doc_id,
        |  CAST(doc_id % 97 + 16 AS BIGINT) AS width,
        |  CAST(doc_id % 53 + 16 AS BIGINT) AS height
        |  FROM documents)
        |SELECT doc_id, width, height,
        |CASE WHEN width <= 64 AND height <= 48 THEN width
        |     WHEN height * 64 <= width * 48 THEN CAST(64 AS BIGINT)
        |     ELSE greatest(CAST(1 AS BIGINT), width * 48 // height) END AS out_width,
        |CASE WHEN width <= 64 AND height <= 48 THEN height
        |     WHEN height * 64 <= width * 48 THEN greatest(CAST(1 AS BIGINT), height * 64 // width)
        |     ELSE CAST(48 AS BIGINT) END AS out_height
        |FROM m ORDER BY doc_id""".stripMargin,

    // complete-mode streaming == the batch hourly aggregate; cents-scaled
    // sums keep the money math integer-exact on both sides
    "stream_window_counts" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start_ms, event_type,
        |count(*) AS n, CAST(sum(round(value * 100)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // gaps-and-islands sessionization in epoch-millis arithmetic (matches
    // the engine's Timestamp.getTime truncation of microseconds)
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |b AS (SELECT user_id, ms, CASE WHEN lag(ms) OVER w IS NULL
        |    OR ms - lag(ms) OVER w >= 1800000 THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |g AS (SELECT user_id, ms, sum(brk) OVER
        |    (PARTITION BY user_id ORDER BY ms) AS sid FROM b)
        |SELECT user_id, min(ms) AS session_start_ms,
        |  max(ms) AS session_end_ms, count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start_ms""".stripMargin,
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY 1, 2",
    // the streamed index must answer exactly like a batch-built one
    "stream_ingest_query" ->
      s"WITH $tokCte SELECT DISTINCT doc_id FROM tok WHERE t = 'vector' ORDER BY doc_id"
  )

  /** One Lloyd round as SQL CTEs (mirror of Similarity.ivfCentroids):
    * assignment = argmax_cid round(dot, 9) with ties to the HIGHER cid
    * (`assignExpr`'s lexicographic struct max), re-center = per-dimension
    * mean re-normalized; a cluster with no members or a zero-norm mean
    * keeps its previous centroid.
    */
  private def ivfRoundSql(k: Int, prev: String): String =
    s"""d$k AS (SELECT u.vec_id, c.cid, round(sum(u.x * c.x), 9) AS d
       |  FROM u JOIN $prev c USING (i) GROUP BY u.vec_id, c.cid),
       |a$k AS (SELECT vec_id, cid FROM d$k
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid DESC) = 1),
       |m$k AS (SELECT a$k.cid, u.i, avg(u.x) AS m FROM u JOIN a$k USING (vec_id)
       |  GROUP BY a$k.cid, u.i),
       |n$k AS (SELECT cid, sqrt(sum(m * m)) AS nn FROM m$k GROUP BY cid),
       |c$k AS (SELECT m$k.cid, m$k.i, m$k.m / n$k.nn AS x
       |  FROM m$k JOIN n$k USING (cid) WHERE n$k.nn > 0
       |  UNION ALL
       |  SELECT $prev.cid, $prev.i, $prev.x FROM $prev
       |  WHERE $prev.cid NOT IN (SELECT cid FROM n$k WHERE nn > 0))""".stripMargin

  /** Full IVF replay: deterministic seeds (16 lowest vec_ids), 2 Lloyd
    * rounds, final assignment, probe the 4 most-query-similar lists
    * (ties ascending cid, `ivfProbes`), exact-cosine top-20 re-rank.
    */
  private def ivfOracleSql: String =
    s"""WITH $embCte,
       |u AS (SELECT v.vec_id, v.i, v.x / n.nrm AS x FROM v JOIN n USING (vec_id)
       |  WHERE n.nrm > 0),
       |sd AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cid
       |  FROM (SELECT DISTINCT vec_id FROM u) ORDER BY vec_id LIMIT 16),
       |c0 AS (SELECT sd.cid, u.i, u.x FROM u JOIN sd USING (vec_id)),
       |${ivfRoundSql(1, "c0")},
       |${ivfRoundSql(2, "c1")},
       |df_ AS (SELECT u.vec_id, c.cid, round(sum(u.x * c.x), 9) AS d
       |  FROM u JOIN c2 c USING (i) GROUP BY u.vec_id, c.cid),
       |af AS (SELECT vec_id, cid FROM df_
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid DESC) = 1),
       |q AS (SELECT i, x FROM u WHERE vec_id = 0),
       |pd AS (SELECT c.cid, sum(c.x * q.x) AS d FROM c2 c JOIN q USING (i) GROUP BY c.cid),
       |pr AS (SELECT cid FROM pd ORDER BY d DESC, cid LIMIT 4),
       |dq AS (SELECT u.vec_id, round(sum(u.x * q.x), 6) AS cosine
       |  FROM u JOIN q USING (i)
       |  WHERE u.vec_id IN (SELECT vec_id FROM af WHERE cid IN (SELECT cid FROM pr))
       |  GROUP BY u.vec_id)
       |SELECT vec_id, cosine FROM dq ORDER BY cosine DESC, vec_id LIMIT 20""".stripMargin

  /** Shared CTE text: per-component embedding view + norms. */
  private def embCte: String =
    """v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
      |n AS (SELECT vec_id, sqrt(sum(x * x)) AS nrm FROM v GROUP BY vec_id)""".stripMargin

  /** Shared CTE chain: MinHash-LSH candidate pairs with exact-Jaccard
    * verification — ends with `pj(a, b, jaccard)` (mirror of
    * Dedup.minhashPairs before the threshold cut).
    */
  private def minhashPairsCtes: String =
    s"""$minhashSigSql,
       |band AS (SELECT doc_id, i // ${Dedup.BandRows} AS band,
       |  string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS key
       |  FROM sig GROUP BY doc_id, i // ${Dedup.BandRows}),
       |cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b FROM band l
       |  JOIN band r ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id),
       |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
       |inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c
       |  JOIN toks ta ON ta.doc_id = c.a JOIN toks tb ON tb.doc_id = c.b AND ta.t = tb.t
       |  GROUP BY c.a, c.b),
       |pj AS (SELECT a, b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
       |  FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b)""".stripMargin

  /** Shared CTE text: MinHash signatures (mirror of Dedup.minhashSignatures). */
  private def minhashSigSql: String =
    s"""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |th AS (SELECT doc_id, ${sqlCharHash("t")} AS h FROM toks),
       |perm AS (SELECT i, ((i + 1) * 1103515245) % $P AS a, (i * 12345 + 6789) % $P AS b
       |  FROM range(${Dedup.NumPerms}) t(i)),
       |sig AS (SELECT doc_id, i, min((a * h + b) % $P) AS minh
       |  FROM th CROSS JOIN perm GROUP BY doc_id, i)""".stripMargin
}
