package graft.query

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one segment collect-and-merge stage the top-k executors share — the
  * reference's collector contract, `collect_segment` per segment then
  * `merge_fruits` on the driver (`collector/mod.rs:165-204`,
  * `top_collector.rs:102-122`). A kernel reads one (segId, docId chunk)
  * [[Group]] — the one in-memory posting layout, flat term-sorted arrays —
  * in place, at its query terms' ranges, and maps it to a (top-k hits,
  * count) fruit, as the reference's scorers read posting blocks where they
  * sit (`term_scorer.rs:9-135`); [[collect]], the only way a kernel
  * reaches posting blocks, runs it per group and [[merge]]s the fruits.
  * The groups come from one of two sources, chosen inside [[collect]]:
  *
  *  - **The resident copy**: the Searcher's cached copy of its field's
  *    alive postings ([[buildResident]]), one partition per (segId, chunk)
  *    holding every term's blocks — the reference's per-segment collector
  *    over an already open index (`searcher.rs:220`). The Searcher builds
  *    it on its first collector query when it fits in memory (its gate).
  *  - **The scan path**, when there is no copy: one pruned Parquet scan of
  *    the query terms' blocks ([[scan]], row groups pruned on the (field,
  *    term) predicate). One distinct term needs no gather — a doc's
  *    entries for one term never span blocks, so each scan partition's
  *    blocks, grouped per segment, hold complete docs. Several terms go
  *    through the same [[gather]] that builds the copy.
  *
  * The gather cuts blocks into docId-range chunks of the Searcher's chunk
  * width ([[slice]]), packs each scan partition's blocks per (segId, chunk)
  * into a [[Group]] before its shuffle, and merges a group's packed pieces
  * after it. Chunking is sound because a doc's score and match are
  * computed entirely from that doc's block entries: its entries for every
  * term land in the same chunk, so each chunk's kernel sees complete docs,
  * each chunk's top-k contains every doc of that chunk that can reach the
  * global top-k (the same decomposability argument as the per-segment
  * merge), and counts add across disjoint chunks. The chunk width bounds a
  * kernel's block residency at ~`terms * chunkDocs / 128` blocks however
  * large a segment grows, and lets several tasks work one giant segment in
  * parallel.
  *
  * A query's task count follows its work, not its group count, as the
  * reference runs its segment collectors on a fixed executor pool
  * (`executor.rs:11-45`) rather than a thread per segment: [[taskCount]]
  * gives one task per [[MinTaskPostings]] postings of the query terms'
  * summed dfs, at least one and at most the cluster's task slots. The copy
  * keeps each group in its own partition, its caching unit, and a query
  * coalesces those partitions into its tasks with Spark's default,
  * locality-aware coalescer; the scan path's gather reduces into that many
  * partitions. Each task merges its groups' fruits, so the driver merges
  * one fruit per task. Both sources feed a kernel complete docs, so they
  * give bit-identical answers at any task count.
  */
object SegmentCollect {

  /** One posting block as the scan reads it, before [[Group.pack]] packs
    * it into a group. Positions ride in CSR form, one flat array plus
    * per-doc lengths, because the nested `Array[Array[Int]]` shape pays a
    * per-inner-array encoder cost for every posting of a hot term; both
    * are empty when positions were not requested.
    */
  final case class BlockRow(segId: Int, term: String, blockId: Int, lastDoc: Int,
                            maxNormId: Int, maxTf: Int,
                            docIds: Array[Int], tfs: Array[Int], normIds: Array[Int],
                            posFlat: Array[Int], posLens: Array[Int])

  /** A segment (or chunk) kernel's result: its top-k hits, unordered, and
    * its match count.
    */
  type Fruit = (Array[Hit], Long)

  /** A kernel: one group and each query term's index in it
    * ([[Group.termIndex]], -1 when the group holds none of its blocks), in
    * the order of [[collect]]'s `terms`, to the group's fruit. It reads the
    * group's arrays in place.
    */
  type Kernel = (Group, Array[Int]) => Fruit

  /** One (segId, chunk) group's blocks, packed term-sorted into flat
    * primitive arrays — the reference's contiguous posting blocks
    * (`serializer.rs:339-451`) and the columnar in-memory posting layout of
    * "Columnar Formatted Inverted Index" (ICDE 2025, PAPERS.md). It is the
    * one in-memory posting layout: the resident copy caches, sizes and
    * ships a handful of arrays per group instead of an object per block,
    * and every kernel reads these arrays where they sit. Term `i`'s blocks
    * are `[termStart(i), termStart(i + 1))` in blockId order; block `b`'s
    * entries are `[docStart(b), docStart(b + 1))` of `docIds`/`tfs`/
    * `normIds`, so term `i`'s entries are the one range `[entryStart(i),
    * entryEnd(i))`, ascending by docId; with positions, entry `e`'s are
    * `[posStart(e), posStart(e + 1))` of `posFlat` (CSR), and `posStart`
    * is empty without. Kernels must not write to the arrays: the resident
    * copy's groups serve every query.
    */
  final class Group private (val segId: Int, val hasPositions: Boolean,
                             terms: Array[String], val termStart: Array[Int],
                             val blockIds: Array[Int], val lastDocs: Array[Int],
                             val maxNormIds: Array[Int], val maxTfs: Array[Int],
                             val docStart: Array[Int], val docIds: Array[Int], val tfs: Array[Int],
                             val normIds: Array[Int], val posStart: Array[Int], val posFlat: Array[Int])
      extends Serializable {

    /** Term `t`'s index, or -1 when the group holds no block of `t`. */
    def termIndex(t: String): Int =
      math.max(-1, java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t))

    /** The first of term `i`'s entries. */
    def entryStart(i: Int): Int = docStart(termStart(i))

    /** One past the last of term `i`'s entries. */
    def entryEnd(i: Int): Int = docStart(termStart(i + 1))

    /** Every block, term by term, copied out with its positions when held:
      * what [[Group.merge]] repacks.
      */
    def rows: Iterator[BlockRow] =
      terms.indices.iterator.flatMap(i => (termStart(i) until termStart(i + 1)).iterator.map(row(terms(i), _)))

    private def row(t: String, b: Int): BlockRow = {
      import java.util.Arrays.copyOfRange
      val (from, until) = (docStart(b), docStart(b + 1))
      val (pf, pl) =
        if (!hasPositions) (Array.emptyIntArray, Array.emptyIntArray)
        else (copyOfRange(posFlat, posStart(from), posStart(until)),
          Array.tabulate(until - from)(e => posStart(from + e + 1) - posStart(from + e)))
      BlockRow(segId, t, blockIds(b), lastDocs(b), maxNormIds(b), maxTfs(b),
        copyOfRange(docIds, from, until), copyOfRange(tfs, from, until),
        copyOfRange(normIds, from, until), pf, pl)
    }
  }

  object Group {
    /** Pack `rows` of one segment, distinct by (term, blockId), into a
      * group; with `positions`, a row without positions holds none per
      * entry.
      */
    def pack(segId: Int, positions: Boolean, rows: Array[BlockRow]): Group = {
      val bs = rows.sortWith((a, b) => a.term.compareTo(b.term) match {
        case 0 => a.blockId < b.blockId
        case c => c < 0
      })
      val has = bs.map(r => positions && r.posLens.length == r.docIds.length)
      val n = bs.length
      val nDocs = bs.map(_.docIds.length).sum
      val terms = Array.newBuilder[String]
      val termStart = new scala.collection.mutable.ArrayBuilder.ofInt
      val (blockIds, lastDocs, maxNormIds, maxTfs) = (new Array[Int](n), new Array[Int](n), new Array[Int](n), new Array[Int](n))
      val docStart = new Array[Int](n + 1)
      val (docIds, tfs, normIds) = (new Array[Int](nDocs), new Array[Int](nDocs), new Array[Int](nDocs))
      val posStart = new Array[Int](if (positions) nDocs + 1 else 0)
      val posFlat = new Array[Int](bs.indices.map(b => if (has(b)) bs(b).posFlat.length else 0).sum)
      var b = 0
      while (b < n) {
        val r = bs(b)
        if (b == 0 || r.term != bs(b - 1).term) { terms += r.term; termStart += b }
        blockIds(b) = r.blockId; lastDocs(b) = r.lastDoc; maxNormIds(b) = r.maxNormId; maxTfs(b) = r.maxTf
        val (from, len) = (docStart(b), r.docIds.length)
        System.arraycopy(r.docIds, 0, docIds, from, len)
        System.arraycopy(r.tfs, 0, tfs, from, len)
        System.arraycopy(r.normIds, 0, normIds, from, len)
        docStart(b + 1) = from + len
        if (positions) {
          val p0 = posStart(from)
          var e = 0
          while (e < len) { posStart(from + e + 1) = posStart(from + e) + (if (has(b)) r.posLens(e) else 0); e += 1 }
          if (has(b)) System.arraycopy(r.posFlat, 0, posFlat, p0, r.posFlat.length)
        }
        b += 1
      }
      termStart += n
      new Group(segId, positions, terms.result(), termStart.result(), blockIds, lastDocs,
        maxNormIds, maxTfs, docStart, docIds, tfs, normIds, posStart, posFlat)
    }

    /** One group from packed pieces of it: the reduce side of the gather. */
    def merge(pieces: Iterable[Group]): Group =
      if (pieces.size == 1) pieces.head
      else pack(pieces.head.segId, pieces.head.hasPositions, pieces.iterator.flatMap(_.rows).toArray)
  }

  /** Groups as a kernel reads them. The resident copy is one such RDD,
    * cached.
    */
  type Groups = RDD[Group]

  /** DocId-range width of one group (see above): 2^20 docs keeps every
    * realistic segment in one chunk at test scale while capping the worst
    * case (8-term query, saturated postings) near ~100 MB per task.
    */
  final val DefaultChunkDocs: Int = 1 << 20

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

  /** The docId-range chunk a sliced row belongs to: the group key's second
    * half.
    */
  def chunkOf(r: BlockRow, chunkDocs: Int): Int = r.docIds(0) / chunkDocs

  /** Slice a block into its docId-range chunk(s). A block inside one chunk
    * passes through untouched; a straddling block is cut into exact
    * docId/tf/normId subarrays and CSR position slices, each with its own
    * `lastDoc`, keeping the parent block's (maxNormId, maxTf): an upper
    * bound over a block is one over any part of it. An empty block yields
    * nothing.
    */
  def slice(r: BlockRow, chunkDocs: Int): Iterator[BlockRow] = {
    val ds = r.docIds
    if (ds.isEmpty) Iterator.empty
    else if (ds(0) / chunkDocs == r.lastDoc / chunkDocs) Iterator.single(r)
    else {
      import java.util.Arrays.copyOfRange
      val off = new Array[Int](r.posLens.length + 1) // CSR offsets
      var i = 0
      while (i < r.posLens.length) { off(i + 1) = off(i) + r.posLens(i); i += 1 }
      Iterator.unfold(0) { from =>
        if (from >= ds.length) None
        else {
          val until = lowerBound(ds, (ds(from) / chunkDocs + 1L) * chunkDocs)
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

  /** First index in the sorted array with value >= target. */
  private def lowerBound(a: Array[Int], target: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Each `key` group of `rows` packed: a scan partition's pieces. */
  private def pack[K](rows: Iterator[BlockRow], positions: Boolean)(key: BlockRow => K): Iterator[(K, Group)] =
    rows.toArray.groupBy(key).iterator.map { case (k, rs) => k -> Group.pack(rs(0).segId, positions, rs) }

  /** Slice `rows` at `searcher`'s chunk width, pack them per (segId, chunk)
    * in each partition, and merge each group's pieces, in at most
    * `maxParts` partitions. The keys come from the manifest's per-segment
    * row counts: docIds are dense in [0, rows). A Searcher without a
    * manifest hashes the groups over `maxParts` partitions instead.
    */
  private def gather(searcher: Searcher, rows: RDD[BlockRow], positions: Boolean, maxParts: Int): Groups = {
    val cw = searcher.chunkDocs
    val part = searcher.indexMeta.fold[Partitioner](new HashPartitioner(maxParts)) { m =>
      new GroupPartitioner(m.segments.flatMap { s =>
        (0L to math.max(0L, s.rows - 1) / cw).map(c => (s.segId, c.toInt))
      }.zipWithIndex.toMap, maxParts)
    }
    rows.mapPartitions(it => pack(it.flatMap(slice(_, cw)), positions)(r => (r.segId, chunkOf(r, cw))))
      .groupByKey(part)
      .map { case (_, pieces) => Group.merge(pieces) }
  }

  /** The manifest's (segId, chunk) keys dealt round-robin over at most
    * `maxParts` partitions; any other key is an error.
    */
  private final class GroupPartitioner(keys: Map[(Int, Int), Int], maxParts: Int) extends Partitioner {
    def numPartitions: Int = math.max(1, math.min(keys.size, maxParts))
    def getPartition(key: Any): Int = keys(key.asInstanceOf[(Int, Int)]) % numPartitions
  }

  /** Postings (summed dfs of the query terms) per query task: below it one
    * more task costs more in launch and wait than it saves in kernel
    * time. Measured on a 20k-doc, 8-segment index with positions on 4
    * cores (BENCH.md): one task was as fast as two or faster up to ~30k
    * postings, for single terms, conjunctions and phrases alike, and two
    * beat one from ~37k.
    */
  final val MinTaskPostings: Long = 1L << 15

  /** The sizing rule: tasks for a query of `work` postings, one per
    * [[MinTaskPostings]], at least one and at most `slots`.
    */
  def taskCount(work: Long, slots: Int): Int =
    if (work <= 0) 1 else math.max(1L, math.min(slots.toLong, (work - 1) / MinTaskPostings + 1)).toInt

  /** Build the resident copy of `searcher`'s field: the [[gather]] of its
    * alive postings (with CSR positions when `positions`), cached
    * `MEMORY_ONLY` — one job, which this runs.
    */
  def buildResident(searcher: Searcher, positions: Boolean): Groups = {
    import searcher.spark.implicits._
    val copy = gather(searcher, blockRows(searcher.postings.where($"field" === searcher.field), positions).rdd,
      positions, maxParts = Int.MaxValue)
      .setName(s"resident postings ${searcher.indexDir} ${searcher.field}")
      .persist(StorageLevel.MEMORY_ONLY)
    copy.count()
    copy
  }

  /** The one way a kernel reaches posting blocks: run `kernel(group, the
    * index in it of each of terms)` per group of `searcher`'s resident
    * copy, or, when it has none, of the scan path's groups (`positions`
    * shapes the scan); a group holding none of the terms yields no fruit.
    * The groups run in `tasks` tasks, by default [[taskCount]]'s, sized by
    * the terms' summed dfs when the Searcher knows them without a job
    * ([[Searcher.postingsWork]]), else one per slot: the copy's partitions
    * coalesce into them (a narrow dependency, so a resident query is still
    * one job of one stage over the cached blocks), the scan path's gather
    * reduces into them. Each task [[merge]]s its fruits, and the driver
    * folds the tasks' into the global top `k` and the summed count.
    */
  def collect(searcher: Searcher, terms: Seq[String], positions: Boolean, k: Int,
              tasks: Option[Int] = None)(kernel: Kernel): Fruit = {
    def n: Int = tasks.getOrElse {
      val slots = searcher.spark.sparkContext.defaultParallelism
      searcher.postingsWork(terms).fold(slots)(taskCount(_, slots))
    }
    val groups = searcher.resident match {
      case Some(copy) => copy.coalesce(n)
      case None =>
        val rows = scan(searcher, terms, positions).rdd
        if (terms.distinct.length == 1) rows.mapPartitions(pack(_, positions)(_.segId).map(_._2))
        else gather(searcher, rows, positions, n)
    }
    val fruits = groups.mapPartitions { gs =>
      Iterator.single(merge(gs.flatMap { g =>
        val at = terms.iterator.map(g.termIndex).toArray
        if (at.forall(_ < 0)) None else Some(kernel(g, at))
      }.toArray, k))
    }.collect()
    merge(fruits, k)
  }

  /** The driver merge (`top_collector.rs:102-122`): global top-k by (score
    * desc, segId asc, docId asc), counts summed.
    */
  def merge(fruits: Array[Fruit], k: Int): Fruit =
    (fruits.flatMap(_._1).sortBy(h => (-h.score, h.segId, h.docId)).take(k), fruits.map(_._2).sum)
}
