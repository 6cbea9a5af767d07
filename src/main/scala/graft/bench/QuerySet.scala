package graft.bench

import graft.query._

/** The search-benchmark-game-style query set (FIXTURES.md §3).
  *
  * The reference's published latency numbers come from the external
  * search-benchmark-game harness (`README.md:21-26`), which drives an engine
  * with `<COMMAND>\t<query>` lines over commands COUNT / TOP_10 /
  * TOP_10_COUNT and AOL-derived query strings. This module replays that
  * protocol over the deterministic CorpusGen vocabulary: 60 queries,
  * stratified per FIXTURES.md — single terms (hot keywords and tail
  * identifiers), two-term disjunctions, `+a +b` conjunctions, and quoted
  * phrases — written to `bench/queries.txt` and parsed back with the
  * engine's own QueryParser (`query_parser.rs` semantics).
  */
object QuerySet {

  sealed trait Cmd
  object Cmd {
    case object Top10 extends Cmd       // TOP_10: top-10 by BM25
    case object Top10Count extends Cmd  // TOP_10_COUNT: top-10 + total hit count
    case object Count extends Cmd       // COUNT: hit count only
    def parse(s: String): Cmd = s match {
      case "TOP_10" => Top10
      case "TOP_10_COUNT" => Top10Count
      case "COUNT" => Count
      case other => throw new IllegalArgumentException(s"unknown command $other")
    }
  }

  final case class Entry(cmd: Cmd, text: String) {
    lazy val query: Query = QueryParser.parse(text)
    override def toString: String = {
      val c = cmd match {
        case Cmd.Top10 => "TOP_10"; case Cmd.Top10Count => "TOP_10_COUNT"
        case Cmd.Count => "COUNT"
      }
      s"$c\t$text"
    }
  }

  /** Deterministic 60-query set over the CorpusGen vocabulary (seed-free:
    * fixed index arithmetic into the keyword table and the identifier
    * templates, so the file regenerates byte-identical).
    */
  def generate(): Seq[Entry] = {
    val kw = CorpusGen.keywords
    val bases = Array("parser", "handler", "writer", "reader", "codec",
      "merge", "scorer", "field", "block", "segment", "term", "doc")
    // style-2 identifiers ("parserImpl1234") survive the default analyzer as
    // ONE token; style-0 ("parser_03") splits at the underscore into two
    // adjacent tokens and is used only in the phrase stratum
    def ident(i: Int): String =
      s"${bases(i % bases.length)}Impl${(i * 1237) % 20000}"
    def ident0(i: Int): String =
      f"${bases(i % bases.length)}_${(i * 7) % 100}%02d"
    val hotTerms = (0 until 10).map(i => kw(i))                         // Zipf head
    val tailTerms = (0 until 10).map(ident)                             // identifiers
    val single = (hotTerms ++ tailTerms).map(t => Entry(Cmd.Top10, t))
    val disj = (0 until 20).map { i =>
      Entry(if (i % 2 == 0) Cmd.Top10 else Cmd.Top10Count,
        s"${kw((i * 3) % kw.length)} ${ident(i + 10)}")
    }
    val conj = (0 until 10).map { i =>
      Entry(if (i % 2 == 0) Cmd.Top10 else Cmd.Count,
        s"+${kw(i % kw.length)} +${kw((i + 13) % kw.length)}")
    }
    val phrase = (0 until 10).map { i =>
      Entry(Cmd.Top10, "\"" + s"${kw(i)} ${ident0(i * 3)}" + "\"")
    }
    single ++ disj ++ conj ++ phrase
  }

  def render(entries: Seq[Entry]): String = entries.mkString("", "\n", "\n")

  def parseFile(content: String): Seq[Entry] =
    content.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(c, q) = line.split("\t", 2)
      Entry(Cmd.parse(c), q)
    }.toSeq

  def load(path: String = "bench/queries.txt"): Seq[Entry] =
    parseFile(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** Execute one entry against a Searcher's collectors (which route pure
    * disjunctions through the block-max WAND executor, like the reference's
    * pruned TOP_10 path). Returns (hits, count) — count only for the counting
    * commands.
    */
  def run(sr: graft.query.Searcher, e: Entry): (Array[Hit], Long) = {
    val q = e.query
    e.cmd match {
      case Cmd.Count => (Array.empty, sr.count(q))
      case Cmd.Top10 => (sr.topDocs(q, 10), -1L)
      case Cmd.Top10Count =>
        // one pass, no pruning: a count collector must see every match
        // (MultiCollector semantics, `multi_collector.rs:166`)
        sr.topDocsWithCount(q, 10)
    }
  }

  /** Regenerate bench/queries.txt (run from the repo root). */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("bench/queries.txt")
    new java.io.File(out).getParentFile.mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      render(generate()).getBytes("UTF-8"))
    System.err.println(s"[queryset] wrote ${generate().length} queries to $out")
  }
}
