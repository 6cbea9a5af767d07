package graft.query

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one segment collect-and-merge stage the top-k executors share — the
  * reference's collector contract, `collect_segment` per segment then
  * `merge_fruits` on the driver (`collector/mod.rs:165-204`,
  * `top_collector.rs:102-122`). A kernel maps one (segId, docId chunk)
  * group's query-term blocks to a (top-k hits, count) fruit, and [[merge]]
  * folds the fruits. The groups reach the kernel on one of two paths:
  *
  *  - **Resident** ([[collectResident]]): the Searcher's resident copy of
  *    its field's alive postings ([[buildResident]]), one cached partition
  *    per (segId, chunk) holding every term's blocks. A query runs its
  *    kernel map-side over the cached partitions: one RDD job, no Dataset
  *    plan, no shuffle — the reference's per-segment collector over an
  *    already open index (`searcher.rs:220`). The Searcher builds the copy
  *    on its first collector query when it fits in memory (its gate).
  *  - **Scan**, when there is no copy:
  *     1. [[scan]]: one pruned Parquet scan of the query terms' blocks (row
  *        groups pruned on the (field, term) predicate). Callers may filter
  *        the block rows here, before slicing (WAND's τ block prefilter,
  *        Intersect's rare-term broadcast filter); both exist only to shrink
  *        the shuffle.
  *     1. [[slice]]: cut blocks into docId-range chunks of `chunkDocs` docs.
  *     1. [[collect]]: one shuffle keyed (segId, chunk); each group hands
  *        the kernel every term's blocks in blockId order.
  *
  * Chunking is sound because a doc's score and match are computed entirely
  * from that doc's block entries: its entries for every term land in the
  * same chunk, so each chunk's kernel sees complete docs, each chunk's
  * top-k contains every doc of that chunk that can reach the global top-k
  * (the same decomposability argument as the per-segment merge), and
  * counts add across disjoint chunks. The chunk width bounds per-task block
  * residency at ~`terms * chunkDocs / 128` blocks however large a segment
  * grows, and lets several tasks work one giant segment in parallel. Both
  * paths feed a kernel the same groups at the default width, so they give
  * bit-identical fruits.
  */
object SegmentCollect {

  /** One posting block as the stage carries it. Positions ride in CSR form,
    * one flat array plus per-doc lengths, because the nested
    * `Array[Array[Int]]` shape pays a per-inner-array encoder cost on the
    * shuffle for every posting of a hot term; both are empty when positions
    * were not requested.
    */
  final case class BlockRow(segId: Int, term: String, blockId: Int, lastDoc: Int,
                            maxNormId: Int, maxTf: Int,
                            docIds: Array[Int], tfs: Array[Int], normIds: Array[Int],
                            posFlat: Array[Int], posLens: Array[Int])

  /** A segment (or chunk) kernel's result: its top-k hits, unordered, and
    * its match count.
    */
  type Fruit = (Array[Hit], Long)

  /** A kernel: one group's segId and its query terms' blocks, by term in
    * blockId order, to the group's fruit.
    */
  type Kernel = (Int, Map[String, Array[BlockRow]]) => Fruit

  /** The resident layout: one partition per (segId, chunk), each holding
    * that group's segId and every term's blocks, as [[byTerm]] gives them.
    */
  type Resident = RDD[(Int, Map[String, Array[BlockRow]])]

  /** The pruned scan of `terms`' blocks. Positions are flattened to CSR in
    * the scan's select, so the nested shape never leaves the scan.
    */
  def scan(searcher: Searcher, terms: Seq[String], positions: Boolean): Dataset[BlockRow] = {
    import searcher.spark.implicits._
    blockRows(searcher.postings.where($"field" === searcher.field && $"term".isin(terms: _*)),
      positions)
  }

  private def blockRows(postings: DataFrame, positions: Boolean): Dataset[BlockRow] = {
    import postings.sparkSession.implicits._
    val (posFlat, posLens) =
      if (positions) (flatten($"positions"), transform($"positions", p => size(p)))
      else (typedLit(Array.emptyIntArray), typedLit(Array.emptyIntArray))
    postings
      .select($"segId", $"term", $"blockId", $"lastDoc", $"maxNormId", $"maxTf",
        $"docIds", $"tfs", $"normIds", posFlat.as("posFlat"), posLens.as("posLens"))
      .as[BlockRow]
  }

  /** The docId-range chunk a sliced row belongs to: the shuffle key's
    * second half.
    */
  def chunkOf(r: BlockRow, chunkDocs: Int): Int = r.docIds(0) / chunkDocs

  /** Slice each block into its docId-range chunk(s). A block inside one
    * chunk passes through untouched; a straddling block is cut into exact
    * docId/tf/normId subarrays and CSR position slices, each with its own
    * `lastDoc`, keeping the parent block's (maxNormId, maxTf): an upper
    * bound over a block is one over any part of it. Empty blocks drop.
    */
  def slice(rows: Dataset[BlockRow], chunkDocs: Int): Dataset[BlockRow] = {
    import rows.sparkSession.implicits._
    val cw = chunkDocs
    rows.flatMap { r =>
      val ds = r.docIds
      if (ds.isEmpty) Iterator.empty
      else if (ds(0) / cw == r.lastDoc / cw) Iterator.single(r)
      else {
        import java.util.Arrays.copyOfRange
        val off = new Array[Int](r.posLens.length + 1) // CSR offsets
        var i = 0
        while (i < r.posLens.length) { off(i + 1) = off(i) + r.posLens(i); i += 1 }
        Iterator.unfold(0) { from =>
          if (from >= ds.length) None
          else {
            val until = lowerBound(ds, (ds(from) / cw + 1L) * cw)
            val d2 = copyOfRange(ds, from, until)
            val (pf, pl) =
              if (r.posLens.isEmpty) (r.posFlat, r.posLens)
              else (copyOfRange(r.posFlat, off(from), off(until)), copyOfRange(r.posLens, from, until))
            Some((r.copy(lastDoc = d2(d2.length - 1), docIds = d2,
              tfs = copyOfRange(r.tfs, from, until),
              normIds = copyOfRange(r.normIds, from, until),
              posFlat = pf, posLens = pl), until))
          }
        }
      }
    }
  }

  /** First index in the sorted array with value >= target. */
  private def lowerBound(a: Array[Int], target: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Each term's blocks, in blockId order (= docId order). */
  def byTerm(rows: Iterable[BlockRow]): Map[String, Array[BlockRow]] =
    rows.groupBy(_.term).map { case (t, bs) => t -> bs.toArray.sortBy(_.blockId) }

  /** [[byTerm]] per segment, for stages that do not shuffle. */
  def bySegment(rows: Iterator[BlockRow]): Iterator[(Int, Map[String, Array[BlockRow]])] =
    rows.toSeq.groupBy(_.segId).iterator.map { case (s, rs) => s -> byTerm(rs) }

  /** Slice `rows`, gather each (segId, chunk) group in one shuffle, run
    * `kernel(segId, byTerm)` per group, and merge the fruits into the
    * global top `k` and the summed count.
    */
  def collect(rows: Dataset[BlockRow], chunkDocs: Int, k: Int)(kernel: Kernel): Fruit = {
    import rows.sparkSession.implicits._
    val cw = chunkDocs
    val fruits = slice(rows, cw)
      .groupByKey(r => (r.segId, chunkOf(r, cw)))
      .mapGroups((key, it) => kernel(key._1, byTerm(it.toSeq)))
      .collect()
    merge(fruits, k)
  }

  /** Build the resident copy of `searcher`'s field: its alive postings
    * (with CSR positions when `positions`), sliced at the default chunk
    * width, grouped into one partition per (segId, chunk) and cached
    * `MEMORY_ONLY` — one job, which this runs. The (segId, chunk) keys come
    * from the manifest's per-segment row counts: docIds are dense in
    * [0, rows).
    */
  def buildResident(searcher: Searcher, positions: Boolean): Resident = {
    import searcher.spark.implicits._
    val cw = Wand.DefaultChunkDocs
    val keys = searcher.indexMeta.toSeq.flatMap(_.segments).flatMap { s =>
      (0L to math.max(0L, s.rows - 1) / cw).map(c => (s.segId, c.toInt))
    }.zipWithIndex.toMap
    val rows = slice(blockRows(searcher.postings.where($"field" === searcher.field), positions), cw)
    val copy = rows.rdd.map(r => ((r.segId, chunkOf(r, cw)), r))
      .groupByKey(new GroupPartitioner(keys))
      .map { case ((segId, _), rs) => (segId, byTerm(rs)) }
      .setName(s"resident postings ${searcher.indexDir} ${searcher.field}")
      .persist(StorageLevel.MEMORY_ONLY)
    copy.count()
    copy
  }

  /** One partition per (segId, chunk) key. */
  private final class GroupPartitioner(keys: Map[(Int, Int), Int]) extends Partitioner {
    def numPartitions: Int = math.max(1, keys.size)
    def getPartition(key: Any): Int = keys(key.asInstanceOf[(Int, Int)])
  }

  /** The one entry point over the resident copy: when `searcher` has one,
    * run `kernel(segId, byTerm restricted to terms)` map-side over its
    * cached partitions — one RDD job, no shuffle — and [[merge]] the
    * fruits; a group holding none of the terms yields no fruit. None when
    * the Searcher has no copy: the caller takes the scan path.
    */
  def collectResident(searcher: Searcher, terms: Seq[String], k: Int)(kernel: Kernel): Option[Fruit] =
    searcher.resident.map { copy =>
      val fruits = copy.flatMap { case (segId, all) =>
        val mine = terms.flatMap(t => all.get(t).map(t -> _)).toMap
        if (mine.isEmpty) None else Some(kernel(segId, mine))
      }.collect()
      merge(fruits, k)
    }

  /** The driver merge (`top_collector.rs:102-122`): global top-k by (score
    * desc, segId asc, docId asc), counts summed.
    */
  def merge(fruits: Array[Fruit], k: Int): Fruit =
    (top(fruits.flatMap(_._1), k), fruits.map(_._2).sum)

  /** [[merge]] for count-free stages that ship bare hits. */
  def top(hits: Array[Hit], k: Int): Array[Hit] =
    hits.sortBy(h => (-h.score, h.segId, h.docId)).take(k)
}
