package graft.query

import graft.analysis.Analysis

/** The full query language (reference `query-grammar/src/query_grammar.rs`
  * strict parser + `user_input_ast.rs`): field-qualified literals, quoted
  * phrases with slop/prefix, AND/OR/NOT + parens, +/- occur prefixes,
  * `[a TO b]` / `{a TO b}` / elastic `>=x` ranges, `IN [..]` sets, `^boost`,
  * `/regex/`, `*` (all) and `field:*` (exists).
  *
  * `render` mirrors the reference AST's Debug format exactly, so the
  * reference grammar's own test vectors assert byte-identical output
  * (GrammarSpec).
  */
object Grammar {

  // ------------------------------------------------------------- AST

  sealed trait UAst { def render: String }
  final case class UClause(clauses: Seq[(Option[Occur], UAst)]) extends UAst {
    def render: String =
      if (clauses.isEmpty) "<emptyclause>"
      else clauses.map { case (occ, ast) =>
        val sym = occ match {
          case Some(Occur.Must) => "+"
          case Some(Occur.MustNot) => "-"
          case Some(Occur.Should) => "?"
          case None => "*"
        }
        sym + ast.render
      }.mkString("(", " ", ")")
  }
  final case class UBoost(inner: UAst, boost: Double) extends UAst {
    def render: String = {
      val b = if (boost == boost.toLong.toDouble) boost.toLong.toString else boost.toString
      s"(${inner.render})^$b"
    }
  }
  final case class ULeafA(leaf: ULeaf) extends UAst { def render: String = leaf.render }

  sealed trait Delim
  object Delim {
    case object None extends Delim
    case object Single extends Delim
    case object Double extends Delim
  }

  sealed trait ULeaf { def render: String; def withField(f: Option[String]): ULeaf }
  final case class ULiteral(field: Option[String], phrase: String, delim: Delim,
      slop: Int, prefix: Boolean) extends ULeaf {
    def render: String = {
      val f = field.map(n => s""""$n":""").getOrElse("")
      val p = delim match {
        case Delim.Single => s"'$phrase'"
        case Delim.Double => s""""$phrase""""
        case Delim.None => phrase
      }
      val tail = if (slop > 0) s"~$slop" else if (prefix) "*" else ""
      f + p + tail
    }
    def withField(f: Option[String]): ULeaf = copy(field = f)
  }
  case object UAll extends ULeaf {
    def render: String = "*"
    def withField(f: Option[String]): ULeaf = this
  }
  /** Bound value None = unbounded (`*`). */
  final case class UBound(value: Option[String], inclusive: Boolean)
  final case class URange(field: Option[String], lower: UBound, upper: UBound) extends ULeaf {
    def render: String = {
      val f = field.map(n => s""""$n":""").getOrElse("")
      val lo = lower.value match {
        case Some(v) if lower.inclusive => s"""["$v""""
        case Some(v) => s"""{"$v""""
        case None => "{\"*\""
      }
      val hi = upper.value match {
        case Some(v) if upper.inclusive => s""""$v"]"""
        case Some(v) => s""""$v"}"""
        case None => "\"*\"}"
      }
      s"$f$lo TO $hi"
    }
    def withField(f: Option[String]): ULeaf = copy(field = f)
  }
  final case class USet(field: Option[String], elements: Seq[String]) extends ULeaf {
    def render: String = {
      val f = field.map(n => s""""$n": """).getOrElse("")
      f + elements.map(e => s""""$e"""").mkString("IN [", " ", "]")
    }
    def withField(f: Option[String]): ULeaf = copy(field = f)
  }
  final case class UExists(field: String) extends ULeaf {
    def render: String = s"""$$exists("$field")"""
    def withField(f: Option[String]): ULeaf =
      UExists(f.getOrElse(throw new ParseException("Exists query without a field isn't allowed", 0)))
  }
  final case class URegex(field: Option[String], pattern: String) extends ULeaf {
    def render: String = field.map(n => s""""$n":""").getOrElse("") + s"/$pattern/"
    def withField(f: Option[String]): ULeaf = copy(field = f)
  }

  final class ParseException(msg: String, val pos: Int) extends IllegalArgumentException(msg)

  // ------------------------------------------------------------- parser

  private val SpecialChars = "+^`:{}\"'[]()!\\* ".toSet
  private val EscapeInWord = "^`:{}\"'[]()\\".toSet

  private final class Cur(val s: String) {
    var i: Int = 0
    def eof: Boolean = i >= s.length
    def peek: Char = s.charAt(i)
    def lit(t: String): Boolean = if (s.startsWith(t, i)) { i += t.length; true } else false
    def ws0(): Unit = { while (!eof && peek.isWhitespace) i += 1 }
    def ws1(): Boolean = { val p = i; ws0(); i > p }
  }

  /** try a rule; restore the cursor if it returns None */
  @inline private def attempt[T](c: Cur)(rule: => Option[T]): Option[T] = {
    val p = c.i
    val r = rule
    if (r.isEmpty) c.i = p
    r
  }

  /** `interpret_escape` (`query_grammar.rs:48-68`): `\x` unescapes only when
    * x requires escaping (whitespace, ESCAPE_IN_WORD, '-'); otherwise the
    * backslash is kept.
    */
  private def interpretEscape(src: String): String = {
    val sb = new StringBuilder(src.length)
    var inEsc = false
    src.foreach { ch =>
      if (inEsc) {
        if (!(ch.isWhitespace || EscapeInWord.contains(ch) || ch == '-')) sb += '\\'
        sb += ch; inEsc = false
      } else if (ch == '\\') inEsc = true
      else sb += ch
    }
    sb.toString
  }

  /** field_name: non-special first char (also not '-'), escapes allowed,
    * terminated by ws* ':' ws*.
    */
  private def fieldName(c: Cur): Option[String] = attempt(c) {
    val sb = new StringBuilder
    def escapeSeq(): Boolean =
      if (!c.eof && c.peek == '\\' && c.i + 1 < c.s.length &&
          SpecialChars.contains(c.s.charAt(c.i + 1))) {
        sb += c.s.charAt(c.i + 1); c.i += 2; true
      } else false
    // first char
    if (c.eof) return None
    if (!escapeSeq()) {
      val ch = c.peek
      if (ch.isWhitespace || SpecialChars.contains(ch) || ch == '-') return None
      sb += ch; c.i += 1
    }
    var more = true
    while (more) {
      if (escapeSeq()) ()
      else if (!c.eof && c.peek == '\\') { sb += '\\'; c.i += 1 }
      else if (!c.eof && !c.peek.isWhitespace && !SpecialChars.contains(c.peek)) {
        sb += c.peek; c.i += 1
      } else more = false
    }
    c.ws0()
    if (!c.eof && c.peek == ':') { c.i += 1; c.ws0(); Some(sb.toString) } else None
  }

  /** word: text until whitespace/ESCAPE_IN_WORD, '\' escapes anything,
    * first char must not be '-'; the keywords OR/AND/NOT/IN are rejected.
    */
  private def word(c: Cur): Option[String] = attempt(c) {
    val start = c.i
    def wordChar(first: Boolean): Boolean = {
      if (c.eof) return false
      if (c.peek == '\\' && c.i + 1 < c.s.length) { c.i += 2; return true }
      val ch = c.peek
      if (ch.isWhitespace || EscapeInWord.contains(ch) || (first && ch == '-') ||
          ch == '\\') return false
      c.i += 1; true
    }
    if (!wordChar(first = true)) return None
    while (wordChar(first = false)) ()
    val raw = c.s.substring(start, c.i)
    if (raw == "OR" || raw == "AND" || raw == "NOT" || raw == "IN") None
    else Some(if (raw.contains('\\')) interpretEscape(raw) else raw)
  }

  /** relaxed_word (range context): more chars allowed. */
  private def relaxedWord(c: Cur): Option[String] = attempt(c) {
    val start = c.i
    val firstBan = "`{}\"[]()".toSet
    val restBan = "{}\"[]()".toSet
    if (c.eof || c.peek.isWhitespace || firstBan.contains(c.peek)) return None
    c.i += 1
    while (!c.eof && !c.peek.isWhitespace && !restBan.contains(c.peek)) c.i += 1
    Some(c.s.substring(start, c.i))
  }

  private def negativeNumber(c: Cur): Option[String] = attempt(c) {
    val start = c.i
    if (c.eof || c.peek != '-') return None
    c.i += 1
    if (c.eof || !c.peek.isDigit) return None
    while (!c.eof && c.peek.isDigit) c.i += 1
    if (!c.eof && c.peek == '.') {
      if (c.i + 1 < c.s.length && c.s.charAt(c.i + 1).isDigit) {
        c.i += 1
        while (!c.eof && c.peek.isDigit) c.i += 1
      }
    }
    Some(c.s.substring(start, c.i))
  }

  /** quoted string with `\x` -> x escapes (any char). */
  private def quoted(c: Cur, delim: Char): Option[String] = attempt(c) {
    if (c.eof || c.peek != delim) return None
    c.i += 1
    val sb = new StringBuilder
    while (!c.eof && c.peek != delim) {
      if (c.peek == '\\' && c.i + 1 < c.s.length) { sb += c.s.charAt(c.i + 1); c.i += 2 }
      else { sb += c.peek; c.i += 1 }
    }
    if (c.eof) None else { c.i += 1; Some(sb.toString) }
  }

  private def simpleTerm(c: Cur): Option[(Delim, String)] =
    negativeNumber(c).map(n => (Delim.None: Delim, n))
      .orElse(quoted(c, '\'').map(p => (Delim.Single: Delim, p)))
      .orElse(quoted(c, '"').map(p => (Delim.Double: Delim, p)))
      .orElse(word(c).map(w => (Delim.None: Delim, w)))

  /** `~N` slop or `*` prefix. */
  private def slopOrPrefix(c: Cur): (Int, Boolean) = {
    if (!c.eof && c.peek == '*') { c.i += 1; (0, true) }
    else if (!c.eof && c.peek == '~') {
      attempt(c) {
        c.i += 1
        val start = c.i
        while (!c.eof && c.peek.isDigit) c.i += 1
        if (c.i == start) None
        else Some((java.lang.Long.parseLong(c.s.substring(start, c.i)).min(Int.MaxValue).toInt, false))
      }.getOrElse((0, false))
    } else (0, false)
  }

  private def termOrPhrase(c: Cur): Option[ULeaf] =
    simpleTerm(c).map { case (delim, phrase) =>
      val (slop, prefix) = slopOrPrefix(c)
      ULiteral(None, phrase, delim, slop, prefix)
    }

  private def rangeVal(c: Cur): Option[String] =
    negativeNumber(c).orElse(relaxedWord(c)).orElse(attempt(c) {
      if (!c.eof && c.peek == '*') { c.i += 1; Some("*") } else None
    })

  private def bound(v: String, inclusiveChar: Boolean): UBound =
    if (v == "*") UBound(None, inclusive = false)
    else UBound(Some(v), inclusiveChar)

  /** ranges: `>=x <=x >x <x` (elastic) or `[a TO b]` / `{a TO b}`. */
  private def range(c: Cur): Option[ULeaf] = attempt(c) {
    c.ws0()
    // elastic comparison form
    val cmp = Seq(">=", "<=", ">", "<").find(op => c.s.startsWith(op, c.i))
    if (cmp.isDefined) {
      c.i += cmp.get.length
      c.ws0()
      return rangeVal(c).map { v =>
        cmp.get match {
          case ">=" => URange(None, UBound(Some(v), inclusive = true), UBound(None, false))
          case ">"  => URange(None, UBound(Some(v), inclusive = false), UBound(None, false))
          case "<=" => URange(None, UBound(None, false), UBound(Some(v), inclusive = true))
          case _    => URange(None, UBound(None, false), UBound(Some(v), inclusive = false))
        }
      }
    }
    // [a TO b] form
    if (c.eof || (c.peek != '[' && c.peek != '{')) return None
    val loInc = c.peek == '['
    c.i += 1; c.ws0()
    val lo = rangeVal(c).getOrElse(return None)
    if (!c.ws1()) return None
    if (!c.lit("TO")) return None
    if (!c.ws1()) return None
    val hi = rangeVal(c).getOrElse(return None)
    c.ws0()
    if (c.eof || (c.peek != ']' && c.peek != '}')) return None
    val hiInc = c.peek == ']'
    c.i += 1
    Some(URange(None, bound(lo, loInc), bound(hi, hiInc)))
  }

  /** `IN [a b c]` sets. */
  private def set(c: Cur): Option[ULeaf] = attempt(c) {
    c.ws0()
    if (!c.lit("IN")) return None
    if (!c.ws1()) return None
    if (c.eof || c.peek != '[') return None
    c.i += 1; c.ws0()
    val elems = scala.collection.mutable.ArrayBuffer.empty[String]
    var more = true
    while (more) {
      simpleTerm(c) match {
        case Some((_, t)) => elems += t; val p = c.i; c.ws0(); if (c.i == p && !(!c.eof && c.peek == ']')) more = false
        case None => more = false
      }
    }
    c.ws0()
    if (c.eof || c.peek != ']') None else { c.i += 1; Some(USet(None, elems.toSeq)) }
  }

  /** `*` (after a field) with a boundary peek -> Exists. */
  private def exists(c: Cur): Option[ULeaf] = attempt(c) {
    c.ws0()
    if (c.eof || c.peek != '*') return None
    c.i += 1
    if (c.eof || c.peek.isWhitespace || EscapeInWord.contains(c.peek))
      Some(UExists(""))
    else None
  }

  /** `/pattern/` with `\/` escapes. */
  private def regex(c: Cur): Option[ULeaf] = attempt(c) {
    if (c.eof || c.peek != '/') return None
    c.i += 1
    val sb = new StringBuilder
    var n = 0
    while (!c.eof && c.peek != '/') {
      // `\/` passes through VERBATIM (backslash kept): the pattern text is
      // handed to the regex engine as written, per the reference's own
      // test vectors (pattern == "\\/cgi-bin\\/luci.*")
      if (c.peek == '\\' && c.i + 1 < c.s.length && c.s.charAt(c.i + 1) == '/') {
        sb += '\\'; sb += '/'; c.i += 2
      } else { sb += c.peek; c.i += 1 }
      n += 1
    }
    if (c.eof || n == 0) None else { c.i += 1; Some(URegex(None, sb.toString)) }
  }

  /** literal: opt(field) + (range|set|exists|regex|term_or_phrase), or a
    * field-scoped group `field:(...)`.
    */
  private def literal(c: Cur): Option[UAst] = {
    val withLeaf = attempt(c) {
      val f = fieldName(c)
      val leaf = range(c).orElse(set(c)).orElse(exists(c)).orElse(regex(c))
        .orElse(termOrPhrase(c))
      leaf.map { l =>
        if (l.isInstanceOf[UExists] && f.isEmpty)
          throw new ParseException("exists query requires a field", c.i)
        ULeafA(if (f.isDefined) l.withField(f) else l): UAst
      }
    }
    withLeaf.orElse(termGroup(c))
  }

  /** `field:( ast )` — the field becomes the group's default field. */
  private def termGroup(c: Cur): Option[UAst] = attempt(c) {
    fieldName(c).flatMap { f =>
      if (c.eof || c.peek != '(') None
      else {
        c.i += 1; c.ws0()
        ast(c).flatMap { a =>
          if (c.eof || c.peek != ')') None
          else { c.i += 1; Some(setDefaultField(a, f)) }
        }
      }
    }
  }

  private def setDefaultField(a: UAst, f: String): UAst = a match {
    case UClause(cs) => UClause(cs.map { case (o, sub) => (o, setDefaultField(sub, f)) })
    case UBoost(inner, b) => UBoost(setDefaultField(inner, f), b)
    case ULeafA(l: ULiteral) if l.field.isEmpty => ULeafA(l.copy(field = Some(f)))
    case ULeafA(UAll) => ULeafA(UExists(f))
    case ULeafA(r: URange) if r.field.isEmpty => ULeafA(r.copy(field = Some(f)))
    case ULeafA(s: USet) if s.field.isEmpty => ULeafA(s.copy(field = Some(f)))
    case ULeafA(r: URegex) if r.field.isEmpty => ULeafA(r.copy(field = Some(f)))
    case other => other
  }

  /** leaf: parens group | `*` (all) | NOT <leaf> | literal. */
  private def leaf(c: Cur): Option[UAst] = {
    attempt(c) {
      if (!c.eof && c.peek == '(') {
        c.i += 1
        ast(c).flatMap { a =>
          if (!c.eof && c.peek == ')') { c.i += 1; Some(a) } else None
        }
      } else None
    }.orElse(attempt(c) {
      if (!c.eof && c.peek == '*') { c.i += 1; Some(ULeafA(UAll): UAst) } else None
    }).orElse(attempt(c) {
      if (c.lit("NOT") && c.ws1()) leaf(c).map(negate) else None
    }).orElse(literal(c))
  }

  private def negate(a: UAst): UAst = UClause(Seq((Some(Occur.MustNot), a)))

  private def positiveFloat(c: Cur): Option[Double] = attempt(c) {
    val start = c.i
    while (!c.eof && c.peek.isDigit) c.i += 1
    if (c.i == start) return None
    if (!c.eof && c.peek == '.' && c.i + 1 < c.s.length && c.s.charAt(c.i + 1).isDigit) {
      c.i += 1
      while (!c.eof && c.peek.isDigit) c.i += 1
    }
    Some(c.s.substring(start, c.i).toDouble)
  }

  private def boostedLeaf(c: Cur): Option[UAst] =
    leaf(c).map { l =>
      val b = attempt(c) {
        if (!c.eof && c.peek == '^') { c.i += 1; positiveFloat(c) } else None
      }
      b match {
        case Some(x) if x != 1.0 => UBoost(l, x)
        case _ => l
      }
    }

  private def occurSymbol(c: Cur): Option[Occur] =
    if (!c.eof && c.peek == '-') { c.i += 1; Some(Occur.MustNot) }
    else if (!c.eof && c.peek == '+') { c.i += 1; Some(Occur.Must) }
    else None

  private def occurLeaf(c: Cur): Option[(Option[Occur], UAst)] = attempt(c) {
    val occ = occurSymbol(c)
    boostedLeaf(c).map(a => (occ, a))
  }

  private sealed trait BinOp
  private case object OpAnd extends BinOp
  private case object OpOr extends BinOp

  private def binaryOperand(c: Cur): Option[BinOp] = attempt(c) {
    if (c.lit("AND ")) Some(OpAnd)
    else if (c.lit("OR ")) Some(OpOr)
    else None
  }

  private def operandLeaf(c: Cur): Option[(Option[BinOp], Option[Occur], UAst)] = attempt(c) {
    val op = binaryOperand(c)
    c.ws0()
    occurLeaf(c).map { case (occ, a) => c.ws0(); (op, occ, a) }
  }

  /** `aggregate_binary_expressions`/`aggregate_infallible_expressions`
    * (`query_grammar.rs:874-1010`): fuse leading occur syntax with AND/OR
    * chains; AND groups bind tighter than the surrounding mixed clause.
    */
  private def aggregate(leafs0: Seq[(Option[BinOp], Option[Occur], UAst)]): UAst = {
    val leafs = leafs0
    if (leafs.isEmpty) return UClause(Nil)
    if (leafs.head._1.isDefined)
      throw new ParseException("unexpected boolean operator before term", 0)

    val clauses = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ArrayBuffer[(Option[Occur], UAst)]]

    def pushOr(occ: Option[Occur], ast: UAst, defaultOp: Option[Occur]): Unit = {
      if (occ.contains(Occur.MustNot) && defaultOp.contains(Occur.Should))
        clauses += scala.collection.mutable.ArrayBuffer((Some(Occur.Should): Option[Occur], negate(ast)))
      else
        clauses += scala.collection.mutable.ArrayBuffer((occ.orElse(defaultOp), ast))
    }

    for (((prevOp, occ, ast), idx) <- leafs.zipWithIndex.dropRight(1)) {
      val nextOp = leafs(idx + 1)._1
      prevOp match {
        case Some(OpAnd) =>
          val entry = (occ.orElse(Some(Occur.Must)), ast)
          if (clauses.nonEmpty) clauses.last += entry
          else clauses += scala.collection.mutable.ArrayBuffer(entry)
        case Some(OpOr) =>
          val defaultOp: Option[Occur] =
            if (nextOp.contains(OpAnd)) Some(Occur.Must) else Some(Occur.Should)
          pushOr(occ, ast, defaultOp)
        case None =>
          val defaultOp: Option[Occur] = nextOp match {
            case Some(OpAnd) => Some(Occur.Must)
            case Some(OpOr) => Some(Occur.Should)
            case None => None
          }
          pushOr(occ, ast, defaultOp)
      }
    }

    val (lastOp, lastOcc, lastAst) = leafs.last
    lastOp match {
      case Some(OpAnd) =>
        val entry = (lastOcc.orElse(Some(Occur.Must)), lastAst)
        if (clauses.nonEmpty) clauses.last += entry
        else clauses += scala.collection.mutable.ArrayBuffer(entry)
      case Some(OpOr) =>
        if (lastOcc.contains(Occur.MustNot))
          clauses += scala.collection.mutable.ArrayBuffer((Some(Occur.Should): Option[Occur], negate(lastAst)))
        else
          clauses += scala.collection.mutable.ArrayBuffer((lastOcc.orElse(Some(Occur.Should)), lastAst))
      case None =>
        clauses += scala.collection.mutable.ArrayBuffer((lastOcc, lastAst))
    }

    if (clauses.length == 1) {
      val clause = clauses.head
      if (clause.length == 1 && clause.head._1 != Some(Occur.MustNot)) clause.head._2
      else UClause(clause.toSeq)
    } else {
      val finalClauses = clauses.map { sub =>
        if (sub.length == 1) sub.head
        else (Some(Occur.Should): Option[Occur], UClause(sub.toSeq))
      }
      UClause(finalClauses.toSeq)
    }
  }

  private def ast(c: Cur): Option[UAst] = {
    c.ws0()
    val boolExpr = attempt(c) {
      occurLeaf(c).flatMap { left =>
        if (!c.ws1()) None
        else {
          val rest = scala.collection.mutable.ArrayBuffer.empty[(Option[BinOp], Option[Occur], UAst)]
          var more = true
          while (more) operandLeaf(c) match {
            case Some(x) => rest += x
            case None => more = false
          }
          if (rest.isEmpty) None
          else Some(aggregate((None, left._1, left._2) +: rest.toSeq))
        }
      }
    }
    val r = boolExpr.orElse(occurLeaf(c).map {
      case (Some(Occur.MustNot), a) => negate(a)
      case (_, a) => a
    })
    c.ws0()
    r
  }

  /** `rewrite_ast` (`query_grammar.rs:1080-1113`): dedup identical sibling
    * clauses, unwrap single-child unmarked clauses.
    */
  private def rewrite(a: UAst): UAst = a match {
    case UClause(subs0) =>
      val rewritten = subs0.map { case (o, s) => (o, rewrite(s)) }
      val seen = scala.collection.mutable.LinkedHashSet.empty[(Option[Occur], UAst)]
      rewritten.foreach(seen += _)
      val deduped = seen.toSeq.map {
        case (None, UClause(inner)) if inner.length == 1 => inner.head
        case other => other
      }
      UClause(deduped)
    case UBoost(inner, b) => UBoost(rewrite(inner), b)
    case other => other
  }

  /** Strict parse to the user-input AST; throws ParseException on leftover
    * input (the reference's `parse_to_ast` + eof).
    */
  def parseToAst(input: String): UAst = {
    val c = new Cur(input)
    c.ws0()
    if (c.eof) return UClause(Nil)
    val a = ast(c).getOrElse(throw new ParseException(s"cannot parse query at ${c.i}", c.i))
    c.ws0()
    if (!c.eof) throw new ParseException(s"unparsed input at ${c.i}: '${c.s.substring(c.i)}'", c.i)
    rewrite(a)
  }

  // ------------------------------------------------------------- compile

  /** Compile options: which fields exist, their analyzer chains, which are
    * numeric docmap fast-field columns (range/exists target), and the
    * default field(s) an unqualified literal fans out to
    * (`query_parser.rs:728-737`).
    */
  final case class CompileOpts(
      defaultFields: Seq[String] = Seq("content"),
      fieldTokenizers: Map[String, String] = Map("content" -> "default"),
      numericFields: Set[String] = Set("contentLen", "tokenCount", "normId"),
      conjunctionByDefault: Boolean = false)

  /** Compile the user-input AST to the engine Query ADT (semantics of
    * `query_parser.rs:336-1080`).
    */
  def compile(a: UAst, opts: CompileOpts): Query = {
    val q = compileAst(a, opts)
    q.getOrElse(EmptyQ)
  }

  private def occurOf(o: Option[Occur], opts: CompileOpts): Occur =
    o.getOrElse(if (opts.conjunctionByDefault) Occur.Must else Occur.Should)

  private def compileAst(a: UAst, opts: CompileOpts): Option[Query] = a match {
    case UClause(Nil) => Some(EmptyQ)
    case UClause(subs) =>
      val clauses = subs.flatMap { case (o, sub) =>
        compileAst(sub, opts).map(q => (occurOf(o, opts), q))
      }
      clauses match {
        case Seq() => None
        case Seq((Occur.Must, q)) => Some(q)
        case Seq((Occur.Should, q)) => Some(q)
        case cs => Some(BoolQ(cs))
      }
    case UBoost(inner, b) => compileAst(inner, opts).map(q => BoostQ(q, b.toFloat))
    case ULeafA(l) => compileLeaf(l, opts)
  }

  /** Field scoping helper: wrap in FieldQ unless targeting the primary
    * default field.
    */
  private def scoped(field: String, q: Query, opts: CompileOpts): Query =
    if (field == opts.defaultFields.head && opts.defaultFields.length == 1) q
    else FieldQ(field, q)

  private def chainOf(field: String, opts: CompileOpts): String =
    opts.fieldTokenizers.getOrElse(field, "default")

  /** Longest-field-name resolution of dotted paths
    * (`query_parser.rs:712-740`): `a.b.c` resolves to the longest known
    * field-name prefix; when that field is a `"json"` field the remaining
    * segments are the JSON path inside it. Unknown names resolve to
    * themselves (plain scoped term, like before).
    */
  private def resolveField(f: String, opts: CompileOpts): (String, Seq[String]) = {
    if (opts.fieldTokenizers.contains(f)) return (f, Nil)
    val parts = f.split('.')
    var k = parts.length - 1
    while (k >= 1) {
      val cand = parts.take(k).mkString(".")
      if (opts.fieldTokenizers.contains(cand)) return (cand, parts.drop(k).toSeq)
      k -= 1
    }
    (f, Nil)
  }

  /** JSON-path literal compilation (`doc/src/json.md:68-85`): expand the
    * literal into every plausible typed term under the encoded path —
    * a Should of term variants, or a phrase for multi-token text.
    */
  private def jsonLiteral(fd: String, path: Seq[String], phrase: String,
                          slop: Int): Option[Query] =
    graft.index.JsonField.queryVariants(path, phrase, "default") match {
      case Left(Seq()) => None
      case Left(Seq(one)) => Some(FieldQ(fd, TermQ(one)))
      case Left(many) =>
        Some(FieldQ(fd, BoolQ(many.map(t => Occur.Should -> (TermQ(t): Query)))))
      case Right(terms) => Some(FieldQ(fd, PhraseQ(terms, slop)))
    }

  private def compileLeaf(l: ULeaf, opts: CompileOpts): Option[Query] = l match {
    case UAll => Some(AllQ)
    case UExists(f) => Some(ExistsQ(f))
    case URegex(f, pattern) =>
      val fields = f.map(Seq(_)).getOrElse(opts.defaultFields)
      combineFanout(fields.map(fd => scoped(fd, RegexQ(pattern), opts)))
    case USet(f, elements) =>
      val fields = f.map(Seq(_)).getOrElse(opts.defaultFields)
      combineFanout(fields.map { fd =>
        val terms = elements.flatMap(e =>
          Analysis.analyzeChain(chainOf(fd, opts), e).headOption.map(_.text))
        scoped(fd, TermSetQ(terms.toSet), opts)
      })
    case URange(f, lo, hi) =>
      // numeric fast-field column -> docmap RangeQ; otherwise a str range
      // over the (possibly default) indexed field's term dictionary, with
      // bounds normalized through the field's analyzer chain (the reference
      // computes range boundaries from typed terms, `query_parser.rs`
      // `compute_boundary_term`) — for typed fields (u64/date/...) the
      // canonical encoding is order-preserving, so the str range IS the
      // typed range
      val loV = lo.value.map(v => (v, lo.inclusive))
      val hiV = hi.value.map(v => (v, hi.inclusive))
      def numeric(s: String): Option[Double] = s.toDoubleOption
      def norm(fd: String, b: Option[(String, Boolean)]): Option[(String, Boolean)] =
        b.map { case (v, i) =>
          Analysis.analyzeChain(chainOf(fd, opts), v) match {
            case Seq(one) => (one.text, i)
            case _ => (v, i)
          }
        }
      // ip fields range in u128 value order, not canonical-text order
      // (`compute_boundary_term` parses ip bounds into addresses and the
      // range runs over the u128 fast field, `range_query.rs:71-170`); a
      // bound that is not an address is a parse error there
      // (`IpAddr::from_str(..)?`, `query_parser.rs:524`) and here
      def ipBound(fd: String, b: Option[(String, Boolean)]): Option[(String, Boolean)] =
        norm(fd, b).map { case (v, i) =>
          if (Analysis.ipv6Key(v).isEmpty)
            throw new ParseException(s"ip range bound is not an ip address: '$v'", 0)
          (v, i)
        }
      def strRange(fd: String): Query =
        if (chainOf(fd, opts) == "ip") IpRangeQ(ipBound(fd, loV), ipBound(fd, hiV))
        else TermRangeQ(norm(fd, loV), norm(fd, hiV))
      f match {
        case Some(col) if opts.numericFields.contains(col) &&
            loV.forall(v => numeric(v._1).isDefined) && hiV.forall(v => numeric(v._1).isDefined) =>
          Some(RangeQ(col,
            loV.map { case (v, i) => (numeric(v).get, i) },
            hiV.map { case (v, i) => (numeric(v).get, i) }))
        case Some(fd) => Some(scoped(fd, strRange(fd), opts))
        case None =>
          combineFanout(opts.defaultFields.map(fd =>
            scoped(fd, strRange(fd), opts)))
      }
    case ULiteral(f, phrase, _, slop, prefix) =>
      val fields = f.map(Seq(_)).getOrElse(opts.defaultFields)
      val qs = fields.flatMap { fd0 =>
        val (fd, jsonPath) = resolveField(fd0, opts)
        if (jsonPath.nonEmpty && chainOf(fd, opts) == "json")
          jsonLiteral(fd, jsonPath, phrase, slop)
        else {
          val toks = Analysis.analyzeChain(chainOf(fd, opts), phrase)
          val q: Option[Query] = toks.length match {
            case 0 => None
            case 1 if prefix =>
              Some(PhrasePrefixQ(Seq.empty, prefix = (toks.head.position, toks.head.text)))
            case 1 => Some(TermQ(toks.head.text))
            case _ if prefix =>
              Some(PhrasePrefixQ(toks.init.map(t => (t.position, t.text)),
                prefix = (toks.last.position, toks.last.text)))
            case _ => Some(PhraseQ(toks.map(t => (t.position, t.text)), slop))
          }
          q.map(scoped(fd, _, opts))
        }
      }
      combineFanout(qs)
  }

  /** Multiple default fields fan out as a Should clause
    * (`query_parser.rs:728-737`).
    */
  private def combineFanout(qs: Seq[Query]): Option[Query] = qs match {
    case Seq() => None
    case Seq(q) => Some(q)
    case many => Some(BoolQ(many.map(q => Occur.Should -> q)))
  }
}
