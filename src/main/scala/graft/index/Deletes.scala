package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Delete tombstones (`IndexWriter::delete_term` / `delete_query`,
  * `src/indexer/index_writer.rs:680-698`).
  *
  * Deletes are term/query-driven and batch-applied, exactly the reference's
  * model: a delete materializes the matching `(segId, docId)` addresses into
  * the `deletes` table (the alive-bitset analog,
  * `src/fastfield/alive_bitset.rs`). A Searcher pinned after the delete
  * reads it once and applies it in its alive views (`Searcher.postings`),
  * so no query sees a tombstoned doc. Physical removal happens at
  * merge/compaction time, not at delete time — same batch-oriented design
  * as the reference (`ARCHITECTURE.md:31`).
  */
object Deletes {

  /** Record tombstones for every doc matched by `q` in `field` (delete_query).
    * The matching runs against the CURRENT index state (deletes already
    * applied — deleting twice is a no-op). Appends to the deletes table.
    * The query plan runs once, as the reference's `delete_query` runs its
    * query once (`index_writer.rs:680,698`): the matches are written to an
    * underscore-prefixed staging directory, counted on the way by an
    * [[Observation]], and their part files move into `deletes/` only when
    * the count is above 0, so a delete that matches nothing leaves the
    * table, and with it [[stamp]], untouched.
    */
  def deleteByQuery(spark: SparkSession, indexDir: String,
                    q: graft.query.Query, field: String): Long = {
    val sr = new graft.query.Searcher(spark, indexDir, field)
    val seen = Observation()
    val staging = new Path(s"$indexDir/_deletes-${java.util.UUID.randomUUID()}")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      sr.compile(q).select(col("segId"), col("docId")).distinct()
        .observe(seen, count(lit(1)).as("n"))
        .write.parquet(staging.toString)
      val n = seen.get("n").asInstanceOf[Long]
      if (n > 0) {
        val table = new Path(s"$indexDir/deletes")
        fs.mkdirs(table)
        fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
          .foreach(p => require(fs.rename(p, new Path(table, p.getName)), s"cannot move $p into $table"))
      }
      n
    } finally fs.delete(staging, true)
  }

  /** Fingerprint of the tombstone state (file names + lengths), folded into
    * Searcher generation ids; 0 when no deletes exist. Driver-side FS
    * metadata only — no Spark job.
    */
  def stamp(indexDir: String): Long = {
    val p = new java.io.File(s"$indexDir/deletes")
    if (!p.exists()) 0L
    else Option(p.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).sortBy(_.getName)
      .foldLeft(1L)((h, f) =>
        (h * 1000003L + f.getName.hashCode.toLong) * 1000003L + f.length())
  }
}
