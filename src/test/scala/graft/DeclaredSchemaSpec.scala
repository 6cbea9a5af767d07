package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.bench.CorpusGen
import graft.index.{Deletes, FieldDef, IndexBuilder, IndexConfig, Merger, ParquetSegmentStore, SegmentStore}
import graft.query.TermQ

/** The declared table schemas ([[SegmentStore.schemaOf]]) cannot drift from
  * the writers: on freshly built indexes, every batch directory and every
  * deletes file of each declared table has exactly the declared schema as
  * Spark infers it from the file, and the store's read of the whole table
  * has the inferred table schema, `batch` partition column included. Covers
  * positions on and off, one extra field, an index after a delete and one
  * after a compaction.
  */
class DeclaredSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private val declared = Seq("postings", "termdict", "stats", "deletes")

  /** The files of `component` Spark infers a schema from one at a time:
    * each batch directory, or each deletes part file.
    */
  private def units(dir: String, component: String): Seq[String] =
    Option(new java.io.File(s"$dir/$component").listFiles()).toSeq.flatten
      .filter(f => if (component == "deletes") f.getName.startsWith("part-") else f.getName.startsWith("batch="))
      .map(_.getPath).sorted

  private def check(dir: String, what: String): Unit = {
    val store = new ParquetSegmentStore(dir)
    for (c <- declared if store.exists(spark, c)) {
      val schema = SegmentStore.schemaOf(c).get
      val files = units(dir, c)
      assert(files.nonEmpty, s"$what: no $c files")
      for (f <- files)
        assert(spark.read.schema(schema).parquet(f).schema == spark.read.parquet(f).schema,
          s"$what: $f has ${spark.read.parquet(f).schema.simpleString}, declared ${schema.simpleString}")
      assert(store.read(spark, c).schema == spark.read.parquet(s"$dir/$c").schema, s"$what: $c table")
    }
    assert(SegmentStore.schemaOf("docmap").isEmpty, "docmap keeps inference")
  }

  private lazy val corpus = CorpusGen.corpus(spark, 200, seed = 5L).toDF()

  test("positions on and off, one extra field") {
    for ((name, cfg) <- Seq(
        "positions" -> IndexConfig(numSegments = 2, withPositions = true),
        "no positions" -> IndexConfig(numSegments = 2, withPositions = false),
        "extra field" -> IndexConfig(numSegments = 2, withPositions = false,
          extraFields = Seq(FieldDef.STRING("lang"))))) {
      val dir = tmpDir("schema")
      IndexBuilder.build(spark, corpus, dir, cfg)
      check(dir, name)
    }
  }

  test("after a delete, and after a compaction that drops its tombstones") {
    val dir = tmpDir("schema-del")
    val cfg = IndexConfig(numSegments = 2, buildBatches = 2, withPositions = true)
    IndexBuilder.build(spark, corpus, dir, cfg)
    assert(Deletes.deleteByQuery(spark, dir, TermQ("error"), "content") > 0)
    check(dir, "after a delete")
    Merger.compact(spark, dir, cfg, Merger.LogMergePolicy(minNumSegments = 2))
    check(dir, "after a compaction")
    val merged = new java.io.File(s"$dir/postings").listFiles().count(_.getName.startsWith("batch="))
    assert(merged == 3, s"$merged postings batches")
  }
}
