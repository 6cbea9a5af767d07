package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.score.Bm25

/** Segment merge (`src/indexer/merger.rs`) — doc-id remap by stacking
  * (`convert_to_merge_order merger.rs:109`, offsets `doc_id_mapping.rs:16`)
  * and posting-list re-serialization with remapped docIDs.
  *
  * Skew handling (the north rule's explicit salting requirement): a merged
  * posting list is the CONCATENATION of the source segments' lists in segment
  * order, so every posting's global rank is known up front:
  *
  *   rank = startRank(term, srcSeg) + srcBlockId * blockSize + posInBlock
  *
  * where startRank is the prefix sum of per-segment doc_freq from the term
  * dictionary. The re-blocking shuffle is therefore keyed by
  * (term, rank / blockSize) — NOT by term — which spreads a hot term's 10M
  * postings over ~80k independent block keys of exactly blockSize rows each.
  * No single task ever owns a whole hot posting list; this replaces the
  * "salt + second local merge pass" with an exact, alignment-preserving salt
  * (the salt IS the target block id).
  */
object Merger {

  /** docId-bucket width (log2) for the compaction remap's range-partitioned
    * rank — each rank-window task handles at most 2^bits rows. Test-visible
    * so MergeSpec can force multi-bucket ranking on tiny segments.
    */
  private[graft] var remapBucketBits: Int = 20

  /** `LogMergePolicy` defaults (`log_merge_policy.rs:8-15`). */
  final case class LogMergePolicy(
      minNumSegments: Int = 8,
      maxDocsBeforeMerge: Long = 10000000L,
      minLayerSize: Long = 10000L,
      levelLogSize: Double = 0.75) {

    private def clipMinSize(size: Long): Long = math.max(minLayerSize, size)

    /** `compute_merge_candidates` (`log_merge_policy.rs:94-130`): size-sort
      * descending, group into log2 levels of width levelLogSize, emit levels
      * with >= minNumSegments members. (No deletes in this engine yet, so the
      * deletes-ratio trigger is omitted.)
      */
    def computeMergeCandidates(segments: Seq[SegmentMeta]): Seq[Seq[Int]] = {
      val sorted = segments.filter(_.rows <= maxDocsBeforeMerge).sortBy(-_.rows)
      if (sorted.isEmpty) return Seq.empty
      var currentMaxLogSize = Double.MaxValue
      val levels = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[SegmentMeta]]
      sorted.foreach { seg =>
        val segLogSize = math.log(clipMinSize(seg.rows).toDouble) / math.log(2.0)
        if (segLogSize < currentMaxLogSize - levelLogSize) {
          currentMaxLogSize = segLogSize
          levels += scala.collection.mutable.ArrayBuffer.empty
        }
        if (levels.isEmpty) levels += scala.collection.mutable.ArrayBuffer.empty
        levels.last += seg
      }
      levels.filter(_.length >= minNumSegments).map(_.map(_.segId).toSeq).toSeq
    }
  }

  /** Merge the given segments into one new segment written under a new batch
    * directory; commits a new manifest where the sources are replaced by the
    * merged segment. Old files stay on disk until `gc` (manifest filtering
    * keeps readers consistent — same immutable-segments story as the
    * reference's `ARCHITECTURE.md:41-53`).
    */
  def merge(spark: SparkSession, indexDir: String, cfg: IndexConfig,
            sourceSegIds: Seq[Int], newSegId: Int): Manifest.IndexMeta = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val meta = Manifest.read(indexDir)
    val sources = sourceSegIds.sorted
    val srcMetas = meta.segments.filter(s => sources.contains(s.segId))
    require(srcMetas.size == sources.size, "unknown source segment")
    val newBatch = meta.segments.map(_.batch).max + 1

    // delete tombstones for the source segments: merge is where deletes are
    // physically compacted away (the reference drops deleted docs during
    // `IndexMerger::write`, `merger.rs:148`); surviving docs get fresh dense
    // ids, and the tombstones die with the old segIds (pin() keys the
    // deletes table by live segments).
    val store = new ParquetSegmentStore(indexDir)
    val tombstones: Option[DataFrame] =
      if (!store.exists(spark, "deletes")) None
      else {
        val d = store.read(spark, "deletes")
          .where($"segId".isin(sources: _*))
          .select($"segId", $"docId").distinct().cache()
        if (d.isEmpty) None else Some(d)
      }

    val blockSize = cfg.blockSize
    val field = cfg.field
    val docmapSrc = spark.read.parquet(s"$indexDir/docmap")
      .where($"segId".isin(sources: _*)).drop("batch")

    val (docmap, exploded, mergedRows, mergedStats) = tombstones match {
      case None =>
        // fast path: no holes — doc-id remap is pure stacking arithmetic
        // (merger.rs:109), and every posting's merged rank is computable
        // from per-segment doc_freq prefix sums (no windowing over data).
        val offsets: Map[Int, Long] = {
          var acc = 0L
          sources.map { s =>
            val o = s -> acc; acc += srcMetas.find(_.segId == s).get.rows; o
          }.toMap
        }
        val offsetU = udf((segId: Int) => offsets(segId))

        val dm = docmapSrc
          .withColumn("docId", ($"docId" + offsetU($"segId")).cast("int"))
          .withColumn("segId", lit(newSegId))

        // startRank(field, term, seg) = prefix sum of doc_freq over segment
        // order — ALL fields merge in one pass (each field's posting space is
        // disjoint under the (field, term) key)
        val td = store.read(spark, "termdict")
          .where($"segId".isin(sources: _*))
        val w = Window.partitionBy($"field", $"term").orderBy($"segId")
          .rowsBetween(Window.unboundedPreceding, -1)
        val startRanks = td.select($"segId", $"field", $"term",
          coalesce(sum($"docFreq").over(w), lit(0L)).as("startRank"))

        val ex = store.read(spark, "postings")
          .where($"segId".isin(sources: _*))
          .select($"segId", $"field", $"term", $"blockId",
            posexplode(arrays_zip($"docIds", $"tfs", $"normIds", $"positions")).as(Seq("pos", "p")))
          .join(startRanks, Seq("segId", "field", "term"))
          .select($"field", $"term",
            ($"startRank" + $"blockId" * blockSize + $"pos").as("rank"),
            ($"p.docIds" + offsetU($"segId")).cast("int").as("docId"),
            $"p.tfs".as("tf"), $"p.normIds".as("normId"), $"p.positions".as("positions"))

        // merged per-field stats: exact by summation of the source rows
        val mergedStats = store.read(spark, "stats")
          .where($"segId".isin(sources: _*))
          .groupBy($"field")
          .agg(sum($"totalNumTokens").as("tt"), sum($"numDocs").as("nd"))
          .as[(String, Long, Long)].collect()
          .map { case (f, tt, nd) => StatsRow(newSegId, f, tt, nd) }.toSeq
        (dm, ex, srcMetas.map(_.rows).sum, mergedStats)

      case Some(dead) =>
        // compaction path: drop dead docs, re-densify doc ids in stacking
        // order. Scale-safe mirror of the fast path's prefix-sum arithmetic:
        //  - the doc remap = per-SEGMENT alive offset (a #sources-row
        //    driver collect) + alive rank WITHIN the segment (window
        //    partitioned by srcSegId — parallel across segments, each task
        //    bounded by the MAX_DOC_LIMIT segment cap);
        //  - the posting rank = per-(term, srcSeg) alive doc_freq prefix
        //    sum + rank within (term, srcSeg) (window partitioned by BOTH —
        //    a hot term's postings stay spread across its source segments,
        //    the same skew bound as the builder's (segId, term) shuffle).
        // No unpartitioned window, no per-term whole-list task.
        val alive = docmapSrc.join(dead, Seq("segId", "docId"), "left_anti").cache()

        // RANGE-PARTITIONED alive rank: docIds are dense [0, maxDoc), so a
        // fixed-width docId bucket splits each source segment's rank window
        // into bounded tasks (<= 2^20 rows each) — per-(segment, bucket)
        // counts are a tiny driver aggregate whose prefix sums give each
        // bucket's absolute start; no task ever ranks a whole MAX_DOC-scale
        // segment's docmap (the alternative — one row_number window per
        // segment — is a single 2^31-row task at the reference's segment cap).
        val bucketBits = remapBucketBits
        val bucketed = alive.select($"segId".as("srcSegId"), $"docId".as("srcDocId"))
          .withColumn("bkt", shiftright($"srcDocId", bucketBits))
        val bktCounts: Array[(Int, Int, Long)] = bucketed
          .groupBy($"srcSegId", $"bkt").count()
          .as[(Int, Int, Long)].collect()
        val aliveCounts: Map[Int, Long] =
          bktCounts.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._3).sum }
        val aliveOffsets: Map[Int, Long] = {
          var acc = 0L
          sources.map { s =>
            val o = s -> acc; acc += aliveCounts.getOrElse(s, 0L); o
          }.toMap
        }
        val bktStart: Map[(Int, Int), Long] = bktCounts.groupBy(_._1)
          .flatMap { case (s, rows) =>
            var acc = aliveOffsets(s)
            rows.sortBy(_._2).map { case (_, b, c) =>
              val st = ((s, b), acc); acc += c; st
            }
          }
        val bktStartU = udf((s: Int, b: Int) => bktStart((s, b)))

        val rankBktW = Window.partitionBy($"srcSegId", $"bkt").orderBy($"srcDocId")
        val remap = bucketed
          .withColumn("newDocId",
            (bktStartU($"srcSegId", $"bkt") + row_number().over(rankBktW) - 1).cast("int"))
          .drop("bkt")
          .cache()

        val dm = alive
          .withColumnRenamed("segId", "srcSegId").withColumnRenamed("docId", "srcDocId")
          .join(remap, Seq("srcSegId", "srcDocId"))
          .withColumn("segId", lit(newSegId))
          .withColumn("docId", $"newDocId")
          .drop("srcSegId", "srcDocId", "newDocId")

        val aliveRows = aliveCounts.values.sum

        val joined = store.read(spark, "postings")
          .where($"segId".isin(sources: _*))
          .select($"segId".as("srcSegId"), $"field", $"term",
            posexplode(arrays_zip($"docIds", $"tfs", $"normIds", $"positions")).as(Seq("pos", "p")))
          .withColumn("srcDocId", $"p.docIds")
          .join(remap, Seq("srcSegId", "srcDocId"))
          .select($"field", $"term", $"srcSegId", $"srcDocId", $"newDocId",
            $"p.tfs".as("tf"), $"p.normIds".as("normId"), $"p.positions".as("positions"))

        // startRank(field, term, srcSeg) = prefix sum of ALIVE per-segment
        // doc_freq (the aggregate is tiny: one row per (field, term, segment))
        val dfAlive = joined.groupBy($"field", $"term", $"srcSegId").agg(count(lit(1)).as("df"))
        val startW = Window.partitionBy($"field", $"term").orderBy($"srcSegId")
          .rowsBetween(Window.unboundedPreceding, -1)
        val startRanks = dfAlive.select($"field", $"term", $"srcSegId",
          coalesce(sum($"df").over(startW), lit(0L)).as("startRank"))

        val rankInW = Window.partitionBy($"field", $"term", $"srcSegId").orderBy($"srcDocId")
        val ex = joined
          .withColumn("rankIn", row_number().over(rankInW).cast("long") - 1)
          .join(startRanks, Seq("field", "term", "srcSegId"))
          .select($"field", $"term", ($"startRank" + $"rankIn").as("rank"),
            $"newDocId".as("docId"), $"tf", $"normId", $"positions")

        // merged per-field stats: exact recompute over SURVIVING docs only
        // (merger.rs:29-71 — dropped docs must leave the averages), via the
        // same per-field token counting the builder's stats job uses
        val primary = dm.agg(coalesce(sum($"tokenCount"), lit(0L))).as[Long].head()
        val mergedStats = StatsRow(newSegId, cfg.field, primary, aliveRows) +:
          cfg.extraFields.map { f =>
            val tt = dm.agg(coalesce(sum(IndexBuilder.fieldTokenCountCol(dm, f)), lit(0L)))
              .as[Long].head()
            StatsRow(newSegId, f.name, tt, aliveRows)
          }
        (dm, ex, aliveRows, mergedStats)
    }

    // MAX_DOC_LIMIT at merge (`merger.rs:181-185`): refuse to produce an
    // over-limit segment rather than write one that can't be addressed
    require(mergedRows < cfg.maxDocsPerSegment,
      s"merged segment would hold $mergedRows docs, exceeding the limit " +
        s"${cfg.maxDocsPerSegment} (merger.rs:181-185)")

    docmap.write.mode("overwrite").parquet(s"$indexDir/docmap/batch=$newBatch")

    // merged per-field stats / norm caches (exact recompute, merger.rs:29-71)
    mergedStats.toDS().coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/stats/batch=$newBatch")
    val mergedTokens = mergedStats.find(_.field == cfg.field).map(_.totalNumTokens).getOrElse(0L)

    // the skew-proof shuffle: key = (field, term, target block id)
    val caches: Map[String, Array[Float]] = mergedStats.map(s =>
      s.field -> Bm25.computeTfCache(Bm25.averageFieldnorm(s.totalNumTokens, s.numDocs))).toMap
    val blocks = exploded
      .withColumn("newBlockId", ($"rank" / blockSize).cast("int"))
      .as[(String, String, Long, Int, Int, Int, Array[Int], Int)]
      .groupByKey(r => (r._1, r._2, r._8))
      .mapGroups { (key, it) =>
        val rows = it.toArray.sortBy(_._3) // by rank; exactly <= blockSize rows
        val docs = rows.map(_._4); val tfs = rows.map(_._5); val norms = rows.map(_._6)
        val (mn, mt) =
          if (rows.length == blockSize) IndexBuilder.blockMaxPair(tfs, norms, caches(key._1))
          else (255, 255)
        PostingBlock(newSegId, key._1, key._2, key._3, docs.last, docs.length,
          docs, tfs, norms, mn, mt, rows.map(_._7))
      }
    // term-major local sort + small row groups for stats pruning, matching
    // the builder's postings layout (see IndexBuilder.PRUNE_BLOCK_BYTES)
    blocks.sortWithinPartitions($"term", $"blockId")
      .write.mode("overwrite")
      .option("parquet.block.size", IndexBuilder.PRUNE_BLOCK_BYTES)
      .parquet(s"$indexDir/postings/batch=$newBatch")

    // re-reads of what this merge just wrote pass the written frame's schema
    val postingsW = spark.read.schema(blocks.schema).parquet(s"$indexDir/postings/batch=$newBatch")
    val termdict = postingsW.groupBy($"segId", $"field", $"term")
      .agg(sum($"blockLen").as("docFreq"), count(lit(1)).cast("int").as("numBlocks"))
    termdict.write.mode("overwrite").parquet(s"$indexDir/termdict/batch=$newBatch")

    val terms = spark.read.schema(termdict.schema).parquet(s"$indexDir/termdict/batch=$newBatch").count()
    val wallMs = (System.nanoTime() - t0) / 1000000
    val mergedMeta = SegmentMeta(newSegId, newBatch, mergedRows, mergedTokens,
      terms, wallMs, srcMetas.forall(_.sha256ok))
    val newMeta = Manifest.IndexMeta(meta.configHash,
      meta.segments.filterNot(s => sources.contains(s.segId)) :+ mergedMeta,
      meta.withPositions)
    Manifest.write(indexDir, newMeta)
    newMeta
  }

  /** Apply the merge policy until no candidates remain (driver-side
    * compaction planner; merges run sequentially like the reference's
    * between-commit merge scheduling).
    */
  def compact(spark: SparkSession, indexDir: String, cfg: IndexConfig,
              policy: LogMergePolicy = LogMergePolicy()): Manifest.IndexMeta = {
    var meta = Manifest.read(indexDir)
    var candidates = policy.computeMergeCandidates(meta.segments)
    while (candidates.nonEmpty) {
      val newSegId = meta.segments.map(_.segId).max + 1
      meta = merge(spark, indexDir, cfg, candidates.head, newSegId)
      candidates = policy.computeMergeCandidates(meta.segments)
    }
    meta
  }
}
