package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.index.{Deletes, IndexBuilder, IndexConfig, Manifest, Merger}
import graft.query.{Query, Searcher}

/** User-facing facade mirroring the reference's `Index` API
  * (`src/index/index.rs:323-580`: create/open, writer, reader/searcher).
  *
  * {{{
  * val idx = Graft.create(spark, "/data/idx", IndexConfig(numSegments = 256))
  * idx.add(docsDf)                       // IndexWriter::add_document batch + commit
  * val sr = idx.searcher                 // pinned snapshot
  * sr.topDocs(QueryParser.parse("error handling"), 10) // block-max WAND
  * idx.delete(TermQ("deprecated"))       // delete_term (tombstones)
  * idx.compact()                         // merge policy (LogMergePolicy defaults)
  * }}}
  */
/** User warming hook (`src/reader/warming.rs:14-20` `Warmer`): runs against
  * every new pinned Searcher before it is returned (preload caches, run hot
  * queries, build auxiliary state), keyed by [[Searcher.generation]];
  * `garbageCollect` tells the warmer which generations are still live so it
  * can discard per-generation state.
  */
trait Warmer {
  def warm(searcher: Searcher): Unit
  def garbageCollect(liveGenerations: Seq[Long]): Unit = ()
}

object Graft {

  /** `Index::create_in_dir` — new empty index rooted at `dir`. */
  def create(spark: SparkSession, dir: String, cfg: IndexConfig = IndexConfig()): GraftIndex = {
    Manifest.write(dir, Manifest.IndexMeta(cfg.configHash, Seq.empty, cfg.withPositions))
    new GraftIndex(spark, dir, cfg)
  }

  /** `Index::open_in_dir` — open an existing index (manifest must exist). */
  def open(spark: SparkSession, dir: String, cfg: IndexConfig = IndexConfig()): GraftIndex = {
    require(Manifest.exists(dir), s"no index manifest at $dir")
    new GraftIndex(spark, dir, cfg)
  }

  /** Build-from-scratch convenience (batch ingestion + commit in one). */
  def build(spark: SparkSession, input: DataFrame, dir: String,
            cfg: IndexConfig = IndexConfig()): GraftIndex = {
    IndexBuilder.build(spark, input, dir, cfg)
    new GraftIndex(spark, dir, cfg)
  }
}

/** One index. Writer-side methods commit atomically (each call is an
  * `IndexWriter::commit` boundary); `searcher` pins the latest commit.
  */
final class GraftIndex(val spark: SparkSession, val dir: String, val cfg: IndexConfig) {

  /** Append a batch of documents as new segments (add_document* + commit). */
  def add(docs: DataFrame): Manifest.IndexMeta =
    IndexBuilder.append(spark, docs, dir, cfg)

  /** Tombstone every doc matching `q`; visible to new searchers. */
  def delete(q: Query): Long = Deletes.deleteByQuery(spark, dir, q, cfg.field)

  /** `IndexWriter::rollback` (`src/indexer/index_writer.rs:564-577`):
    * discard everything since the last commit — orphan `batch=<b>` dirs
    * (from a killed [[add]]/build) and their resume checkpoints. The
    * committed manifest is untouched; returns the deleted paths.
    */
  def rollback(): Seq[String] = Manifest.rollback(dir)

  /** Run the LogMergePolicy until no candidates remain (compacts deletes). */
  def compact(policy: Merger.LogMergePolicy = Merger.LogMergePolicy()): Manifest.IndexMeta =
    Merger.compact(spark, dir, cfg, policy)

  private val warmers = new java.util.concurrent.CopyOnWriteArrayList[Warmer]()

  /** Register a [[Warmer]] to run on every subsequently pinned Searcher
    * (`IndexReaderBuilder::warmers`, `reader/warming.rs`).
    */
  def registerWarmer(w: Warmer): Unit = warmers.add(w)

  /** A pinned snapshot over the current manifest (`Index::reader`). Opening
    * one reads only the manifest; the tables, the termdict/stats caches and
    * the resident copy load on the first query that needs them. Registered
    * warmers then run, and each is told the new generation is the only live
    * one (single-snapshot reader semantics — the reference GC's against all
    * inventoried generations); a warmer that queries loads those caches.
    */
  def searcher: Searcher = {
    val sr = new Searcher(spark, dir, cfg.field)
    if (!warmers.isEmpty) {
      warmers.forEach(_.warm(sr))
      warmers.forEach(_.garbageCollect(Seq(sr.generation)))
    }
    sr
  }

  def meta: Manifest.IndexMeta = Manifest.read(dir)
}
