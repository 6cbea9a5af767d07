package perfbench

import graft.bench.{CorpusGen, QuerySet}
import graft.bench.QuerySet.{Cmd, Entry}

/** The seeded query log, in the search-benchmark-game protocol
  * (TOP_10 / TOP_10_COUNT / COUNT lines).
  *
  * The default seed replays `bench/queries.txt` (`QuerySet.generate`) byte
  * for byte. Any other seed samples the same strata with the same commands
  * and the same keyword bands: 10 hot terms, 10 tail identifiers, 20
  * keyword-or-identifier disjunctions, 10 keyword conjunctions and 10
  * keyword-identifier phrases. Each stratum's share of the log, and the
  * command of each entry, are the same for every seed.
  */
object QueryLog {

  val DefaultSeed = 42L

  /** The strata of `bench/queries.txt`, in file order, with their sizes. */
  val strata: Seq[(String, Int)] =
    Seq("term_hot" -> 10, "term_tail" -> 10, "disj" -> 20, "conj" -> 10, "phrase" -> 10)

  final case class Query(qid: Int, stratum: String, entry: Entry) {
    def cmd: Cmd = entry.cmd
    def text: String = entry.text
    /** Metric key of the counting collectors, if this query uses one. */
    def collector: Option[String] = cmd match {
      case Cmd.Top10Count => Some("top10_count")
      case Cmd.Count => Some("count")
      case Cmd.Top10 => None
    }
  }

  /** The log for `seed`. Other seeds than the default draw their tail
    * identifiers from `idents`, the identifiers that occur in the indexed
    * corpus, so every seed's tail terms match some document.
    */
  def sample(seed: Long, idents: IndexedSeq[String]): Seq[Query] = {
    val entries = if (seed == DefaultSeed) QuerySet.generate() else seeded(seed, idents)
    val labels = strata.flatMap { case (s, n) => Seq.fill(n)(s) }
    entries.zip(labels).zipWithIndex.map { case ((e, s), i) => Query(i, s, e) }
  }

  /** The identifier bases of CorpusGen's style-0 and style-2 identifiers. */
  private val bases = Array("parser", "handler", "writer", "reader", "codec",
    "merge", "scorer", "field", "block", "segment", "term", "doc")

  /** The one-token CorpusGen identifiers ("parserImpl1234") in `texts`. */
  def identifiers(texts: Iterable[String]): IndexedSeq[String] =
    texts.flatMap(t => "[a-z]+Impl\\d+".r.findAllIn(t)).toSet.toIndexedSeq.sorted

  private def seeded(seed: Long, idents: IndexedSeq[String]): Seq[Entry] = {
    require(idents.nonEmpty, "no identifiers to sample tail terms from")
    val rng = new java.util.Random(seed)
    val kw = CorpusGen.keywords
    def pick[A](xs: Array[A]): A = xs(rng.nextInt(xs.length))
    def band(from: Int, until: Int): String = kw(from + rng.nextInt(until - from))
    def ident(): String = idents(rng.nextInt(idents.size))
    // two adjacent tokens ("parser_03"): phrase stratum only
    def ident0(): String = f"${pick(bases)}_${rng.nextInt(100)}%02d"
    // the Zipf head: 10 distinct keywords among the 15 hottest
    val hot = rng.ints(0, 15).distinct().limit(10).toArray.toSeq.map(kw(_))
    val single = (hot ++ Seq.fill(10)(ident())).map(Entry(Cmd.Top10, _))
    val disj = (0 until 20).map { i =>
      Entry(if (i % 2 == 0) Cmd.Top10 else Cmd.Top10Count, s"${pick(kw)} ${ident()}")
    }
    val conj = (0 until 10).map { i =>
      Entry(if (i % 2 == 0) Cmd.Top10 else Cmd.Count, s"+${band(0, 10)} +${band(13, 23)}")
    }
    val phrase = Seq.fill(10)(Entry(Cmd.Top10, "\"" + s"${band(0, 10)} ${ident0()}" + "\""))
    single ++ disj ++ conj ++ phrase
  }

  def render(log: Seq[Query]): String = QuerySet.render(log.map(_.entry))
}
