package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.FieldNorm
import graft.query.Wand
import graft.score.Bm25

/** Guards the `ft_wand_topk` driver entry: the production f32 WAND path's
  * top-10, projected at `round(score, 4)`, must equal the f64 twin the
  * DuckDB oracle computes (same formula, double precision, quantized
  * fieldnorm dl) — and the query's top-10 boundary gap must dwarf f32
  * rounding error so the doc-set cut is tie-safe.
  */
class WandOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.01"
  private val terms = Seq("spark", "merge", "order")

  private def haveData = new java.io.File(s"$sfDir/documents.parquet").exists()

  /** Per-doc f64 disjunction scores from the INDEX tables with the
    * fieldnorm-quantized dl — the Scala twin of the entry's oracle SQL.
    */
  private def f64Scores(sr: graft.query.Searcher): Map[Long, Double] = {
    val dfs = sr.docFreqs(terms)
    val n = sr.totalNumDocs
    val avgdl = sr.totalNumTokens.toDouble / n
    val weights = dfs.map { case (t, df) => t -> (Bm25.F64.idf(df, n) * 2.2d) }
    val rows = sr.postings
      .where($"field" === sr.field && $"term".isin(terms: _*))
      .select($"segId", $"term",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.arrays_zip($"docIds", $"tfs")).as("p"))
      .select($"segId", $"term", $"p.docIds".as("docId"), $"p.tfs".as("tf"))
      .join(sr.docmap.select($"segId", $"docId", $"path", $"tokenCount"),
        Seq("segId", "docId"))
      .select($"path".cast("long"), $"term", $"tf", $"tokenCount")
      .as[(Long, String, Int, Long)].collect()
    rows.groupBy(_._1).map { case (docId, rs) =>
      val score = rs.sortBy(_._2).map { case (_, t, tf, dl) =>
        val qdl = FieldNorm.idToFieldnorm(FieldNorm.fieldnormToId(dl))
        weights(t) * (tf.toDouble / (tf.toDouble +
          1.2d * (0.25d + 0.75d * qdl.toDouble / avgdl)))
      }.sum
      docId -> score
    }
  }

  test("f32 WAND top-10 == f64 twin at round(4), with a tie-safe boundary gap") {
    assume(haveData)
    val sr = Engine.searcher(spark, sfDir)
    val hits = Wand.topK(sr, terms.map(_ -> 1.0f), 10)._1
    assert(hits.length == 10)
    val docmap = sr.docmap.select($"segId", $"docId", $"path".cast("long").as("doc_id"))
      .as[(Int, Int, Long)].collect()
      .map { case (s, d, p) => (s, d) -> p }.toMap
    val f32Top = hits.map(h => (docmap((h.segId, h.docId)), h.score))

    val f64 = f64Scores(sr)
    val f64Sorted = f64.toSeq.sortBy { case (id, sc) => (-sc, id) }
    // same doc set and per-doc rounded-score agreement
    assert(f32Top.map(_._1).toSet == f64Sorted.take(10).map(_._1).toSet,
      "top-10 doc sets diverge between f32 WAND and the f64 twin")
    f32Top.foreach { case (id, s32) =>
      val r32 = BigDecimal(s32.toDouble).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val r64 = BigDecimal(f64(id)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      assert(r32 == r64, s"doc $id: f32 $s32 rounds to $r32, f64 ${f64(id)} to $r64")
    }
    // the 10th-vs-11th f64 gap must dwarf f32 representation error (~1e-6
    // at these magnitudes), so the f32 cut can never pick a different set
    val gap = f64Sorted(9)._2 - f64Sorted(10)._2
    assert(gap > 1e-4, s"boundary gap $gap too small for a tie-safe f32 cut")
    // and no f32 top-10 score may sit within f32-error of a 4th-decimal
    // rounding boundary (else round(f32,4) could differ from round(f64,4))
    f32Top.foreach { case (id, _) =>
      val frac = (f64(id) * 1e4) % 1.0
      val distToHalf = math.abs(frac - 0.5)
      assert(distToHalf > 1e-2, s"doc $id f64 score ${f64(id)} too close to a .00005 boundary")
    }
  }
}
