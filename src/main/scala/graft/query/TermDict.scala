package graft.query

import org.apache.spark.sql.Dataset

/** One field's term dictionary held on the driver — the in-process read of
  * the reference's term dictionary, an FST seek plus a TermInfo read
  * (`termdict/mod.rs:1-35`), so a df lookup costs no Spark job. Terms are
  * sorted and distinct; `dfs(i)` is term `i`'s global doc_freq, its
  * per-segment dfs summed (`bm25.rs:45-48`), tombstoned docs counted until
  * merge, exactly like the termdict table it is read from.
  */
private[query] final class TermDict private (private val terms: Array[String],
                                             private val dfs: Array[Long]) extends Serializable {
  /** Global doc_freq; 0 for an absent term. */
  def docFreq(t: String): Long = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], t)
    if (i >= 0) dfs(i) else 0L
  }
}

private[query] object TermDict {
  /** The dictionary of the (term, docFreq) rows, one row per segment
    * holding the term, in one job with no shuffle: each partition becomes a
    * sorted dictionary on its executor, and the driver merges those as they
    * arrive, so it never holds the rows. Its peak is the dictionary so far,
    * one partition's dictionary, still serialized and decoded, and their
    * merge.
    */
  def load(rows: Dataset[(String, Long)]): TermDict =
    rows.rdd.mapPartitions { it =>
      val b = new Builder
      it.toArray.sortBy(_._1).foreach { case (t, n) => b.add(t, n) }
      Iterator(b.result())
    }.fold(new TermDict(Array.empty, Array.empty))(merge)

  /** `a`'s and `b`'s terms in order, the dfs of a term in both summed. */
  private def merge(a: TermDict, b: TermDict): TermDict =
    if (a.terms.isEmpty) b
    else if (b.terms.isEmpty) a
    else {
      val out = new Builder
      var i = 0
      var j = 0
      while (i < a.terms.length || j < b.terms.length) {
        if (j == b.terms.length || (i < a.terms.length && a.terms(i).compareTo(b.terms(j)) <= 0)) {
          out.add(a.terms(i), a.dfs(i)); i += 1
        } else {
          out.add(b.terms(j), b.dfs(j)); j += 1
        }
      }
      out.result()
    }

  /** Builds a dictionary from (term, df) pairs in term order, summing the
    * dfs of a repeated term.
    */
  private final class Builder {
    private val terms = Array.newBuilder[String]
    private val dfs = Array.newBuilder[Long]
    private var term: String = null
    private var df = 0L

    def add(t: String, n: Long): Unit = {
      if (t != term) { flush(); term = t }
      df += n
    }

    private def flush(): Unit =
      if (term != null) { terms += term; dfs += df; df = 0L }

    def result(): TermDict = { flush(); new TermDict(terms.result(), dfs.result()) }
  }
}
