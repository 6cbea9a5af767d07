package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Storage seam promised by SURVEY §7 — the analog of the reference's
  * `Directory` abstraction (`src/directory/mod.rs`): the query side
  * resolves index COMPONENTS (logical tables: postings / docmap / termdict
  * / stats / deletes) through this trait instead of hard-coding Parquet
  * paths, so a deployment can swap the physical table format (e.g. Iceberg
  * tables addressed by name, or Parquet over an object store) without
  * touching the engine. The default [[ParquetSegmentStore]] is the layout
  * `IndexBuilder` writes: `<indexDir>/<component>/batch=<b>/...parquet`.
  */
trait SegmentStore {
  /** Resolve one component to its DataFrame (all batches). */
  def read(spark: SparkSession, component: String): DataFrame

  /** Whether the component exists (e.g. the optional `deletes` table). */
  def exists(spark: SparkSession, component: String): Boolean

  /** On-storage size of the component, for size-aware decisions
    * (termdict caching, merge planning).
    */
  def bytes(spark: SparkSession, component: String): Long
}

object SegmentStore {
  /** The schema the builder, `Merger` and `Deletes` write a component's
    * files with (the reference keeps it in `meta.json`,
    * `index_meta.rs:301-312`), without the `batch` partition column, which
    * the read discovers from the paths; None for docmap.
    */
  def schemaOf(component: String): Option[StructType] = component match {
    case "postings" => Some(Encoders.product[PostingBlock].schema)
    case "termdict" => Some(Encoders.product[TermDictRow].schema)
    case "stats" => Some(Encoders.product[StatsRow].schema)
    case "deletes" => Some(StructType(Seq(
      StructField("segId", IntegerType), StructField("docId", IntegerType))))
    case _ => None
  }
}

/** The default store: the builder's Parquet directory layout, sized and
  * probed through the Hadoop FS abstraction (local disk, HDFS, or s3a —
  * whatever the path's scheme resolves to).
  */
class ParquetSegmentStore(val indexDir: String) extends SegmentStore {
  protected def path(component: String) = s"$indexDir/$component"

  /** Reads with the component's declared schema ([[SegmentStore.schemaOf]]),
    * so opening a table runs no schema-inference job; docmap, whose
    * extra-field columns vary per index, is inferred.
    */
  override def read(spark: SparkSession, component: String): DataFrame =
    SegmentStore.schemaOf(component).fold(spark.read)(spark.read.schema(_)).parquet(path(component))

  override def exists(spark: SparkSession, component: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path(component))
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  override def bytes(spark: SparkSession, component: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path(component))
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
  }
}
