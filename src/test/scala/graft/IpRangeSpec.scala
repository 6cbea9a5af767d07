package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{FieldDef, IndexBuilder, IndexConfig}
import graft.query._

/** IP range semantics (`src/query/range_query/range_query.rs:71-170`): the
  * reference ranges ip fields over u128 address bits
  * (`MonotonicallyMappableToU128`), not over the canonical RFC 5952 text —
  * "::10" sorts before "::9" as a string but after it as a value. The test
  * addresses are chosen so the two orders DISAGREE: a string-order range
  * would return the complement / nothing.
  */
class IpRangeSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val sr = {
    val d = java.nio.file.Files.createTempDirectory("graft-iprange").toString
    val docs = Seq(
      ("r0", "p9",  "c0", "x", "a", "2001:db8::9"),
      ("r0", "p10", "c0", "x", "a", "2001:db8::10"),   // 0x10 = 16
      ("r0", "p11", "c0", "x", "a", "2001:db8::11"),   // 0x11 = 17
      ("r0", "pa",  "c0", "x", "a", "2001:db8::a"),    // 0xa  = 10
      ("r0", "pv4", "c0", "x", "a", "10.0.0.1"),       // ::ffff:10.0.0.1
      ("r0", "pnone", "c0", "x", "a", null))
      .toDF("repo", "path", "commit", "lang", "content", "ipaddr")
    IndexBuilder.build(spark, docs, d, IndexConfig(numSegments = 2,
      extraFields = Seq(FieldDef.IPADDR("ipaddr"))))
    new Searcher(spark, d)
  }

  private def paths(q: Query): Set[String] =
    sr.compile(q)
      .join(sr.docmap.select($"segId", $"docId", $"path"), Seq("segId", "docId"))
      .select($"path").as[String].collect().toSet

  test("u128 order where text order disagrees: [::9 TO ::10] = {9, a, 10}") {
    // string order calls this range empty (lo > hi); value order gives
    // 0x9 <= v <= 0x10, i.e. ::9, ::a, ::10 but NOT ::11
    assert(paths(FieldQ("ipaddr", IpRangeQ(
      Some(("2001:db8::9", true)), Some(("2001:db8::10", true))))) ==
      Set("p9", "pa", "p10"))
  }

  test("exclusive bounds drop their endpoints") {
    assert(paths(FieldQ("ipaddr", IpRangeQ(
      Some(("2001:db8::9", false)), Some(("2001:db8::10", false))))) == Set("pa"))
  }

  test("open bounds: everything at/above ::11 includes the v4-mapped doc") {
    // ::ffff:10.0.0.1 = 0xffff0a000001... sits far above 2001:db8::/32?
    // No: 2001:... > ::ffff:... (0x2001... > 0x0000ffff...), so the v4 doc
    // is BELOW every 2001:db8:: address in u128 order
    assert(paths(FieldQ("ipaddr", IpRangeQ(None, Some(("2001:db8::", false))))) ==
      Set("pv4"))
    assert(paths(FieldQ("ipaddr", IpRangeQ(Some(("2001:db8::11", true)), None))) ==
      Set("p11"))
  }

  test("const score 1.0, null field unmatched, unparseable bound is an error") {
    val scores = sr.compile(FieldQ("ipaddr",
      IpRangeQ(None, None))).collect().map(_.score).toSet
    assert(scores == Set(1.0f))
    assert(!paths(FieldQ("ipaddr", IpRangeQ(None, None))).contains("pnone"))
    // the reference fails the query (`IpAddr::from_str(..)?`,
    // `query_parser.rs:524`) instead of matching nothing
    intercept[IllegalArgumentException](
      paths(FieldQ("ipaddr", IpRangeQ(Some(("zzz", true)), None))))
    intercept[IllegalArgumentException](
      paths(FieldQ("ipaddr", IpRangeQ(None, Some(("2001:db8::zz", false))))))
  }

  test("parsed: an ip-chain range bound that is not an address is a parse error") {
    val opts = Grammar.CompileOpts(fieldTokenizers =
      Map("content" -> "default", "ipaddr" -> "ip"))
    intercept[Grammar.ParseException](QueryParser.parse("ipaddr:[zzz TO 2001:db8::10]", opts = opts))
    intercept[Grammar.ParseException](QueryParser.parse("ipaddr:[2001:db8::9 TO 300.1.1.1}", opts = opts))
    // an open bound stays open
    assert(paths(QueryParser.parse("ipaddr:[* TO 2001:db8::9]", opts = opts)) == Set("p9", "pv4"))
  }

  test("parsed end-to-end: ipaddr:[2001:0db8::0009 TO 2001:db8::10} via the ip chain") {
    val opts = Grammar.CompileOpts(fieldTokenizers =
      Map("content" -> "default", "ipaddr" -> "ip"))
    val q = QueryParser.parse("ipaddr:[2001:0db8::0009 TO 2001:db8::10}", opts = opts)
    assert(paths(q) == Set("p9", "pa"))
  }
}
