package graft.query

import org.apache.spark.sql.functions._
import graft.analysis.FieldNorm
import graft.score.Bm25

/** Score explanation tree (`src/query/explanation.rs:18-25`): a node holds
  * the score value, a human description, child `details` explaining the
  * formula's factors, and free-form `context` strings; rendered like the
  * reference's `to_pretty_json` (serde pretty JSON, absent fields skipped).
  */
final case class Explanation(
    value: Float,
    description: String,
    details: Seq[Explanation] = Nil,
    context: Seq[String] = Nil) {

  def toPrettyJson: String = { val sb = new StringBuilder; render(sb, 0); sb.toString }

  private def render(sb: StringBuilder, indent: Int): Unit = {
    val pad = "  " * indent; val pad1 = "  " * (indent + 1)
    sb.append("{\n")
    sb.append(pad1).append("\"value\": ").append(Explanation.num(value)).append(",\n")
    sb.append(pad1).append("\"description\": ").append(Explanation.str(description))
    if (details.nonEmpty) {
      sb.append(",\n").append(pad1).append("\"details\": [\n")
      details.zipWithIndex.foreach { case (d, i) =>
        sb.append("  " * (indent + 2))
        d.render(sb, indent + 2)
        if (i < details.length - 1) sb.append(",")
        sb.append("\n")
      }
      sb.append(pad1).append("]")
    }
    if (context.nonEmpty) {
      sb.append(",\n").append(pad1).append("\"context\": [\n")
      context.zipWithIndex.foreach { case (c, i) =>
        sb.append("  " * (indent + 2)).append(Explanation.str(c))
        if (i < context.length - 1) sb.append(",")
        sb.append("\n")
      }
      sb.append(pad1).append("]")
    }
    sb.append("\n").append(pad).append("}")
  }
}

object Explanation {
  private def num(v: Float): String = {
    val s = v.toString // shortest-roundtrip, like serde_json's f32 output
    if (s.endsWith(".0")) s.dropRight(2) else s
  }
  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }
  /** Rust `{}` Display of an f32 boost: 2.0 prints as "2". */
  private[query] def fmtF32(v: Float): String = num(v)
}

/** Per-doc score explanation — the reference's `Weight::explain` surface
  * (`weight.rs:75`, per-weight impls cited on each branch). A debug API:
  * one small Spark lookup job per leaf, never on a scoring hot path.
  */
object Explain {

  /** Explain `q`'s score on one document; throws like the reference's
    * `does_not_match` (`explanation.rs:8-10`) if the doc doesn't match.
    */
  def explain(sr: Searcher, q: Query, segId: Int, docId: Int): Explanation =
    explainOpt(sr, q, segId, docId, sr.field).getOrElse(
      throw new IllegalArgumentException(s"Document #($segId,$docId) does not match"))

  private def explainOpt(sr: Searcher, q: Query, segId: Int, docId: Int,
                         fld: String): Option[Explanation] = q match {
    case FieldQ(f, inner) => explainOpt(sr, inner, segId, docId, f)

    case TermQ(t) =>
      // term_weight.rs:26-34 + bm25.rs:191-221 (Lucene-format breakdown)
      termData(sr, fld, t, segId, docId).map { case (tf, normId) =>
        val df = sr.docFreqs(Seq(t), fld).getOrElse(t, 0L)
        val (_, n) = sr.fieldStats(fld)
        val w = Bm25.forOneTerm(df, n, sr.avgFieldnormFor(fld))
        bm25Tree(w, df, n, normId, tf, "TermQuery, product of...",
          context = Seq(s"""Term=Term(field=$fld, type=Str, "$t")"""))
      }

    case BoolQ(clauses, minShould) =>
      // boolean_weight.rs:285-303: sum node over the positive clauses that
      // match; Must/MustNot/minShouldMatch gate whether the doc matches at all
      val kids = clauses.map { case (occ, c) => (occ, explainOpt(sr, c, segId, docId, fld)) }
      val mustsOk = kids.forall { case (o, e) => o != Occur.Must || e.isDefined }
      val noMustNot = kids.forall { case (o, e) => o != Occur.MustNot || e.isEmpty }
      val shouldHits = kids.count { case (o, e) => o == Occur.Should && e.isDefined }
      val numMusts = clauses.count(_._1 == Occur.Must)
      val needShould =
        if (numMusts > 0) minShould // explicit value honored alongside Musts
        else math.max(1, minShould) // pure-should: at least one
      val hasShoulds = clauses.exists(_._1 == Occur.Should)
      val ok = mustsOk && noMustNot &&
        (!hasShoulds || shouldHits >= needShould || (numMusts > 0 && minShould == 0))
      if (!ok) None
      else {
        val pos = kids.collect { case (o, Some(e)) if o != Occur.MustNot => e }
        var sum = 0.0f
        pos.foreach(e => sum += e.value) // f32 sum in clause order
        Some(Explanation(sum, "BooleanClause. sum of ...", pos))
      }

    case BoostQ(inner, boost) =>
      // boost_query.rs:74-81
      explainOpt(sr, inner, segId, docId, fld).map(e =>
        Explanation(e.value * boost, s"Boost x${Explanation.fmtF32(boost)} of ...", Seq(e)))

    case ConstScoreQ(inner, score) =>
      // const_score_query.rs:71-81
      explainOpt(sr, inner, segId, docId, fld).map(e =>
        Explanation(score, "Const", Seq(e)))

    case PhraseQ(terms, slop) =>
      // phrase_weight.rs:85-107: "Phrase Scorer" over the bm25 explain with
      // phrase_count as the term frequency
      val perSlot = terms.map { case (_, t) => termData(sr, fld, t, segId, docId) }
      if (perSlot.exists(_.isEmpty)) None
      else {
        val posArrays = terms.map { case (_, t) => positionsOf(sr, fld, t, segId, docId) }
        if (posArrays.exists(_.isEmpty)) None
        else {
          val count = PhraseMatcher.phraseCount(
            terms.map(_._1).toArray, posArrays.map(_.get).toArray, slop)
          if (count == 0) None
          else {
            val normId = perSlot.head.get._2
            val dfs = sr.docFreqs(terms.map(_._2), fld)
            val (_, n) = sr.fieldStats(fld)
            val w = Bm25.forTerms(terms.map(t => dfs.getOrElse(t._2, 0L)), n,
              sr.avgFieldnormFor(fld))
            Some(Explanation(w.score(normId, count.toLong), "Phrase Scorer",
              Seq(bm25Tree(w, -1, n, normId, count.toLong, "TermQuery, product of...",
                idfValue = Some(w.weight / (1.0f + Bm25.K1))))))
          }
        }
      }

    case AllQ => Some(Explanation(1.0f, "AllQuery"))

    case other =>
      throw new IllegalArgumentException(
        s"explain: unsupported query node ${other.getClass.getSimpleName} " +
          "(supported: Term, Bool, Boost, ConstScore, Phrase, Field, All)")
  }

  /** The Lucene-format BM25 product node (`bm25.rs:191-221`). */
  private def bm25Tree(w: Bm25.Weight, df: Long, n: Long, normId: Int, tf: Long,
                       desc: String, context: Seq[String] = Nil,
                       idfValue: Option[Float] = None): Explanation = {
    def const(d: String, v: Float) = Explanation(v, d)
    val tfExp = Explanation(w.tfFactor(normId, tf),
      "freq / (freq + k1 * (1 - b + b * dl / avgdl))",
      Seq(
        const("freq, occurrences of term within document", tf.toFloat),
        const("k1, term saturation parameter", Bm25.K1),
        const("b, length normalization parameter", Bm25.B),
        const("dl, length of field", FieldNorm.idToFieldnorm(normId).toFloat),
        const("avgdl, average length of field", w.avgFieldnorm)))
    // single term: the formula node with n/N consts (bm25.rs:133-140);
    // multi-term (phrase): the bare summed "idf" node (bm25.rs:121)
    val idfExp =
      if (df >= 0)
        Explanation(Bm25.idf(df, n),
          "idf, computed as log(1 + (N - n + 0.5) / (n + 0.5))",
          Seq(
            const("n, number of docs containing this term", df.toFloat),
            const("N, total number of docs", n.toFloat)))
      else Explanation(idfValue.getOrElse(0.0f), "idf")
    Explanation(w.score(normId, tf), desc,
      Seq(const("(K1+1)", Bm25.K1 + 1.0f), idfExp, tfExp), context)
  }

  /** (tf, normId) of one (field, term) posting on one doc, or None. */
  private def termData(sr: Searcher, fld: String, t: String,
                       segId: Int, docId: Int): Option[(Long, Int)] = {
    import sr.spark.implicits._
    sr.allPostings
      .where($"field" === fld && $"term" === t && $"segId" === segId)
      .select(explode(arrays_zip($"docIds", $"tfs", $"normIds")).as("p"))
      .where($"p.docIds" === docId)
      .select($"p.tfs".cast("long"), $"p.normIds")
      .as[(Long, Int)].collect().headOption
  }

  /** This doc's position list for one (field, term), or None. */
  private def positionsOf(sr: Searcher, fld: String, t: String,
                          segId: Int, docId: Int): Option[Array[Int]] = {
    import sr.spark.implicits._
    sr.allPostings
      .where($"field" === fld && $"term" === t && $"segId" === segId)
      .select(explode(arrays_zip($"docIds", $"positions")).as("p"))
      .where($"p.docIds" === docId)
      .select($"p.positions")
      .as[Array[Int]].collect().headOption
  }
}
