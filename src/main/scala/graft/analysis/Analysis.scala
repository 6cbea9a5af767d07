package graft.analysis

import java.util.Locale

/** A token produced by an analyzer chain.
  *
  * Mirrors the reference token model (`tokenizer-api/src/lib.rs:15-56`):
  * byte offsets into the original UTF-8 text, token ordinal position.
  *
  * @param text     token text (post-filter)
  * @param position token ordinal, starting at 0
  * @param offsetFrom UTF-8 byte offset of the first byte of the token
  * @param offsetTo   UTF-8 byte offset one past the last byte of the token
  */
final case class Token(text: String, position: Int, offsetFrom: Int, offsetTo: Int)

/** Text analysis kernel — pure Scala (no Spark), used from `Dataset.flatMap`
  * on the build side and on the query side (query literals are re-tokenized
  * with the same chain, reference `query_parser.rs:958-996`).
  *
  * Semantics replicate the reference analyzer chain exactly
  * (`src/tokenizer/tokenizer_manager.rs:60-66`):
  * SimpleTokenizer -> RemoveLongFilter(40) -> LowerCaser.
  */
object Analysis {

  /** Rust `char::is_alphanumeric` parity: Alphabetic OR general category in
    * {Nd, Nl, No}. Java `Character.isAlphabetic` tests the Unicode Alphabetic
    * property (L* + Nl + Other_Alphabetic), same as Rust `is_alphabetic`;
    * the numeric categories are added explicitly.
    * Reference: `src/tokenizer/simple_tokenizer.rs:33-37`.
    */
  @inline def isAlphanumeric(cp: Int): Boolean = {
    if (cp < 128) { // ASCII fast path
      (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') || (cp >= '0' && cp <= '9')
    } else {
      val t = Character.getType(cp)
      Character.isAlphabetic(cp) ||
      t == Character.DECIMAL_DIGIT_NUMBER ||
      t == Character.LETTER_NUMBER ||
      t == Character.OTHER_NUMBER
    }
  }

  /** UTF-8 encoded length of a code point. */
  @inline def utf8Len(cp: Int): Int =
    if (cp < 0x80) 1 else if (cp < 0x800) 2 else if (cp < 0x10000) 3 else 4

  /** UTF-8 byte length of a string without materializing the bytes. */
  def utf8Length(s: String): Int = {
    var i = 0; var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      n += utf8Len(cp)
      i += Character.charCount(cp)
    }
    n
  }

  /** SimpleTokenizer: maximal runs of alphanumeric code points; positions are
    * token ordinals from 0; offsets are UTF-8 byte offsets.
    * Reference: `src/tokenizer/simple_tokenizer.rs:18-64`.
    */
  def simpleTokenize(text: String): Seq[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0            // UTF-16 index
    var byteOff = 0      // UTF-8 byte offset
    var pos = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isAlphanumeric(cp)) {
        val startI = i
        val startB = byteOff
        var j = i
        var b = byteOff
        var continue = true
        while (j < n && continue) {
          val c = text.codePointAt(j)
          if (isAlphanumeric(c)) { b += utf8Len(c); j += Character.charCount(c) }
          else continue = false
        }
        out += Token(text.substring(startI, j), pos, startB, b)
        pos += 1
        i = j; byteOff = b
      } else {
        byteOff += utf8Len(cp)
        i += Character.charCount(cp)
      }
    }
    out.result()
  }

  /** WhitespaceTokenizer: maximal runs of non-whitespace code points.
    * Reference: `src/tokenizer/whitespace_tokenizer.rs`. Rust
    * `char::is_whitespace` = Unicode White_Space property; Java's
    * `Character.isWhitespace` differs on NBSP etc., so we test the Unicode
    * property via the space categories + the fixed tab/newline set.
    */
  @inline private def isUnicodeWhitespace(cp: Int): Boolean = {
    // Unicode White_Space: Zs, Zl, Zp categories plus U+0009..U+000D, U+0085
    if (cp == 0x09 || cp == 0x0A || cp == 0x0B || cp == 0x0C || cp == 0x0D || cp == 0x85) true
    else {
      val t = Character.getType(cp)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR
    }
  }

  def whitespaceTokenize(text: String): Seq[Token] = {
    val out = Vector.newBuilder[Token]
    var i = 0; var byteOff = 0; var pos = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (!isUnicodeWhitespace(cp)) {
        val startI = i; val startB = byteOff
        var j = i; var b = byteOff; var continue = true
        while (j < n && continue) {
          val c = text.codePointAt(j)
          if (!isUnicodeWhitespace(c)) { b += utf8Len(c); j += Character.charCount(c) }
          else continue = false
        }
        out += Token(text.substring(startI, j), pos, startB, b)
        pos += 1
        i = j; byteOff = b
      } else {
        byteOff += utf8Len(cp); i += Character.charCount(cp)
      }
    }
    out.result()
  }

  /** RawTokenizer: the whole input as one token (reference
    * `src/tokenizer/raw_tokenizer.rs`). Used for STRING (untokenized) fields.
    */
  def rawTokenize(text: String): Seq[Token] =
    if (text.isEmpty) Seq(Token(text, 0, 0, utf8Length(text)))
    else Seq(Token(text, 0, 0, utf8Length(text)))

  /** Character n-gram tokenizer over code points (reference
    * `src/tokenizer/ngram_tokenizer.rs:10-88`): emits all grams with length in
    * [minGram, maxGram]; `prefixOnly` restricts to grams starting at offset 0.
    * All emitted tokens have position 0 (the reference keeps position 0 for
    * every gram).
    */
  def ngramTokenize(text: String, minGram: Int, maxGram: Int, prefixOnly: Boolean = false): Seq[Token] = {
    require(minGram > 0 && minGram <= maxGram, "invalid ngram bounds")
    // index code point boundaries once
    val bounds = {
      val b = Vector.newBuilder[Int]
      var i = 0
      while (i < text.length) { b += i; i += Character.charCount(text.codePointAt(i)) }
      b += text.length
      b.result()
    }
    val nCp = bounds.length - 1
    val out = Vector.newBuilder[Token]
    var start = 0
    while (start < nCp && (!prefixOnly || start == 0)) {
      var len = minGram
      while (len <= maxGram && start + len <= nCp) {
        val s = bounds(start); val e = bounds(start + len)
        out += Token(text.substring(s, e), 0,
          utf8Length(text.substring(0, s)), utf8Length(text.substring(0, e)))
        len += 1
      }
      start += 1
    }
    out.result()
  }

  /** Facet tokenizer: a facet path `/a/b/c` emits each ancestor prefix
    * `/a`, `/a/b`, `/a/b/c` (reference `src/tokenizer/facet_tokenizer.rs`).
    */
  def facetTokenize(path: String): Seq[String] = {
    val parts = path.split("/").filter(_.nonEmpty)
    (1 to parts.length).map(i => "/" + parts.take(i).mkString("/"))
  }

  /** LowerCaser parity with Rust `char::to_lowercase` applied per code point:
    * full Unicode mapping including 1:N expansions, NO final-sigma special
    * case (the reference explicitly skips it, `src/tokenizer/lower_caser.rs:44-51`).
    * Java's per-isolated-codepoint `String.toLowerCase(Locale.ROOT)` has no
    * preceding cased context, so the Final_Sigma condition never fires and the
    * result matches Rust's unconditional mapping.
    */
  def lowercase(s: String): String = {
    // ASCII fast path (reference lower_caser.rs:60-62)
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 128) ascii = false; i += 1 }
    if (ascii) {
      val sb = new java.lang.StringBuilder(s.length)
      i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
        i += 1
      }
      sb.toString
    } else {
      val sb = new java.lang.StringBuilder(s.length + 4)
      i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        sb.append(new String(Character.toChars(cp)).toLowerCase(Locale.ROOT))
        i += Character.charCount(cp)
      }
      sb.toString
    }
  }

  /** RemoveLongFilter: drop tokens whose UTF-8 byte length >= limit
    * (keeps strictly shorter). Reference `src/tokenizer/remove_long.rs:17-37`,
    * default limit 40 in the "default" chain (`tokenizer_manager.rs:62-65`).
    */
  @inline def keepUnderLimit(tok: Token, limit: Int): Boolean = utf8Length(tok.text) < limit

  val DefaultRemoveLongLimit = 40

  /** MAX_TOKEN_LEN (`src/tokenizer/mod.rs:166` = u16::MAX - 5): the postings
    * writer drops any token whose UTF-8 byte length exceeds this at
    * subscribe time, regardless of the analyzer chain
    * (`postings_writer.rs:139-147`) — dropped tokens keep later tokens'
    * positions unchanged and do NOT count toward the fieldnorm or
    * total_num_tokens (num_tokens increments only for subscribed tokens).
    */
  val MaxTokenLen = 65535 - 5

  /** Fast indexing-time check: chars*3 bounds UTF-8 bytes for the BMP, so
    * ordinary tokens skip the exact byte count entirely (supplementary
    * chars are 2 `Char`s for 4 bytes, still within 3x).
    */
  @inline def withinMaxTokenLen(s: String): Boolean =
    s.length * 3 <= MaxTokenLen || utf8Length(s) <= MaxTokenLen

  /** The "default" analyzer chain — Simple -> RemoveLong(40) -> Lower.
    * This one function is used identically at index and query time.
    */
  def defaultAnalyze(text: String): Seq[Token] =
    simpleTokenize(text)
      .filter(keepUnderLimit(_, DefaultRemoveLongLimit))
      .map(t => t.copy(text = lowercase(t.text)))

  /** Term stream convenience: (term, position) pairs from the default chain. */
  def defaultTerms(text: String): Seq[(String, Int)] =
    defaultAnalyze(text).map(t => (t.text, t.position))

  /** `defaultAnalyze(text).length` without materializing any token: one
    * pass counting alphanumeric runs whose UTF-8 byte length passes the
    * RemoveLong filter (lowercasing never changes the count). The build's
    * fieldnorm pass calls this per document — the substring/lowercase
    * allocations of the full chain are pure garbage there. Lockstep with
    * the chain by construction; AnalysisSpec fuzzes the equivalence.
    */
  def defaultTermCount(text: String): Int = {
    var i = 0; var count = 0
    val n = text.length
    while (i < n) {
      val cp = text.codePointAt(i)
      if (isAlphanumeric(cp)) {
        var bytes = 0
        var j = i
        var continue = true
        while (j < n && continue) {
          val c = text.codePointAt(j)
          if (isAlphanumeric(c)) { bytes += utf8Len(c); j += Character.charCount(c) }
          else continue = false
        }
        if (bytes < DefaultRemoveLongLimit) count += 1
        i = j
      } else i += Character.charCount(cp)
    }
    count
  }

  /** Multi-valued field analysis (`postings_writer.rs:136-160`): each value
    * runs through the chain, and the next value's positions continue from
    * `max(start + position_length) + POSITION_GAP` of the previous one
    * (POSITION_GAP = 1, `postings_writer.rs:17,157`) — so a phrase can
    * never match across a value boundary at slop 0, but does at slop >= 1.
    * A value with no tokens still advances the gap (end_position is
    * unchanged by tokens, then +GAP). Null elements are skipped entirely
    * (a reference document simply wouldn't contain them).
    */
  def multiValueTerms(chain: String, values: Seq[String]): Seq[(String, Int)] = {
    var end = 0
    val out = Seq.newBuilder[(String, Int)]
    values.foreach { v =>
      if (v != null) {
        var maxEnd = end
        analyzeChain(chain, v).foreach { t =>
          // over-long tokens are dropped BEFORE position bookkeeping
          // (postings_writer.rs:140-147 returns before updating
          // end_position), so they advance neither maxEnd nor the gap
          if (withinMaxTokenLen(t.text)) {
            val p = end + t.position
            out += ((t.text, p))
            if (p + 1 > maxEnd) maxEnd = p + 1
          }
        }
        end = maxEnd + 1
      }
    }
    out.result()
  }

  /** Named analyzer registry (`src/tokenizer/tokenizer_manager.rs:83-104`,
    * the chains registered by default): dispatch for `FieldDef.tokenizer`.
    * Used identically at index and query time for field-scoped literals.
    */
  def analyzeChain(name: String, text: String): Seq[Token] = name match {
    case "default"    => defaultAnalyze(text)
    case "raw"        => rawTokenize(text)
    case "whitespace" => whitespaceTokenize(text)
    case "simple"     => simpleTokenize(text)
    case "en_stem"    => defaultAnalyze(text).map(t => t.copy(text = Stemmer.stemEnglish(t.text)))
    // per-language Snowball chains (`src/tokenizer/stemmer.rs:12-31` exposes
    // Language::* through the Stemmer filter; we register one chain each)
    case "de_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemGerman(t.text)))
    case "sv_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemSwedish(t.text)))
    case "no_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemNorwegian(t.text)))
    case "da_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemDanish(t.text)))
    case "nl_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemDutch(t.text)))
    case "ru_stem" => defaultAnalyze(text).map(t => t.copy(text = Stemmers.stemRussian(t.text)))
    case "fr_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersRomance.stemFrench(t.text)))
    case "es_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersRomance.stemSpanish(t.text)))
    case "it_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersRomance.stemItalian(t.text)))
    case "pt_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersRomance.stemPortuguese(t.text)))
    case "fi_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersUralic.stemFinnish(t.text)))
    case "hu_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersUralic.stemHungarian(t.text)))
    case "ro_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersEastern.stemRomanian(t.text)))
    case "tr_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersEastern.stemTurkish(t.text)))
    case "el_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersEastern.stemGreek(t.text)))
    case "ar_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersArabic.stemArabic(t.text)))
    case "ta_stem" => defaultAnalyze(text).map(t => t.copy(text = StemmersTamil.stemTamil(t.text)))
    case "ascii"      => simpleTokenize(text).map(t => t.copy(text = asciiFold(t.text)))
    case "ip"         => rawTokenize(text).flatMap(t =>
      canonicalIpv6(t.text).map(c => t.copy(text = c)))
    // typed single-term fields (`field_type.rs:170-190`): the raw value
    // canonicalizes to one order-preserving term, or none if unparseable
    case "u64"   => rawTokenize(text).flatMap(t => canonicalU64(t.text).map(c => t.copy(text = c)))
    case "i64"   => rawTokenize(text).flatMap(t => canonicalI64(t.text).map(c => t.copy(text = c)))
    case "f64"   => rawTokenize(text).flatMap(t => canonicalF64(t.text).map(c => t.copy(text = c)))
    case "bool"  => rawTokenize(text).flatMap(t => canonicalBool(t.text).map(c => t.copy(text = c)))
    case "date"  => rawTokenize(text).flatMap(t => canonicalDate(t.text).map(c => t.copy(text = c)))
    // DatePrecision variants (`date_time_options.rs`): same canonical form,
    // truncated to milliseconds / microseconds instead of whole seconds
    case "date_millis" => rawTokenize(text).flatMap(t =>
      canonicalDate(t.text, "millis").map(c => t.copy(text = c)))
    case "date_micros" => rawTokenize(text).flatMap(t =>
      canonicalDate(t.text, "micros").map(c => t.copy(text = c)))
    case "date_nanos" => rawTokenize(text).flatMap(t =>
      canonicalDate(t.text, "nanos").map(c => t.copy(text = c)))
    case "bytes" => rawTokenize(text).flatMap(t => canonicalBytesHex(t.text).map(c => t.copy(text = c)))
    case other => throw new IllegalArgumentException(s"unknown tokenizer chain: $other")
  }

  /** IpAddr field normalization (`src/schema/ip_options.rs:9-21`): every
    * address indexes as its IPv6 form — IPv4 maps to `::ffff:a.b.c.d`
    * (`into_ipv6_addr`) — rendered in RFC 5952 canonical text like Rust's
    * `Ipv6Addr` Display. Unparseable values emit no term. Literal-only
    * parsing (no DNS), via guava's InetAddresses on the Spark classpath.
    */
  def canonicalIpv6(s: String): Option[String] =
    if (!com.google.common.net.InetAddresses.isInetAddress(s)) None
    else com.google.common.net.InetAddresses.forString(s) match {
      case v4: java.net.Inet4Address => Some("::ffff:" + v4.getHostAddress)
      case v6: java.net.Inet6Address =>
        Some(com.google.common.net.InetAddresses.toAddrString(v6))
      case _ => None
    }

  /** The u128 comparison key of an IP term (`common/src/lib.rs` maps every
    * address to a u128 via `Ipv6Addr::to_bits`; RangeQuery over an ip field
    * compares in THAT space, `range_query.rs:71-170`). The canonical RFC
    * 5952 TEXT of a term is not order-preserving ("::10" < "::9"
    * lexicographically while 0x10 > 0x9), so ip ranges must compare these
    * keys, never the term strings. None for non-IP input.
    */
  def ipv6Key(s: String): Option[java.math.BigInteger] =
    if (!com.google.common.net.InetAddresses.isInetAddress(s)) None
    else {
      val a = com.google.common.net.InetAddresses.forString(s)
      val b16 = a match {
        case v4: java.net.Inet4Address => // ::ffff:a.b.c.d, into_ipv6_addr
          val b = new Array[Byte](16)
          b(10) = -1; b(11) = -1
          System.arraycopy(v4.getAddress, 0, b, 12, 4); b
        case v6 => v6.getAddress
      }
      Some(new java.math.BigInteger(1, b16))
    }

  // ---------- typed-field canonical term encodings ----------
  // The reference indexes non-text field values as fixed-width big-endian
  // keys whose byte order equals value order (`common/src/lib.rs`:
  // u64 identity, i64 sign-flip `i64_to_u64`, f64 monotone bit trick
  // `f64_to_u64`; dates as i64 seconds, `src/schema/field_type.rs:170-190`).
  // Here the same order-preserving keys are rendered as 16-hex-digit terms
  // so the TERM DICTIONARY's string order equals numeric order — TermRangeQ
  // over a typed field is then a numeric/date range with no extra machinery.

  /** u64 term: value as 16 lowercase hex digits (order-preserving). */
  def canonicalU64(s: String): Option[String] =
    try Some(f"${java.lang.Long.parseUnsignedLong(s.trim)}%016x")
    catch { case _: NumberFormatException => None }

  /** i64 term: sign-bit flip then hex (the reference's `i64_to_u64`). */
  def canonicalI64(s: String): Option[String] =
    s.trim.toLongOption.map(v => f"${v ^ Long.MinValue}%016x")

  /** f64 term: IEEE monotone map then hex (the reference's `f64_to_u64`):
    * positive doubles flip the sign bit, negatives flip all bits.
    */
  def canonicalF64(s: String): Option[String] =
    s.trim.toDoubleOption.map { d =>
      val bits = java.lang.Double.doubleToLongBits(d)
      val key = if (bits < 0) ~bits else bits | Long.MinValue
      f"$key%016x"
    }

  /** bool term: `true` / `false` (`field_type.rs` Bool; parse like Rust's
    * `bool::from_str` — exactly these two words, case-sensitive).
    */
  def canonicalBool(s: String): Option[String] =
    s.trim match { case t @ ("true" | "false") => Some(t); case _ => None }

  /** Date term: RFC-3339 text normalized to UTC, truncated to the field's
    * `DatePrecision` (`common/src/datetime.rs:16-25`: Seconds — the
    * reference default — Milliseconds, Microseconds, or Nanoseconds),
    * rendered fixed-width so lexicographic == chronological WITHIN a
    * precision: seconds `uuuu-MM-ddTHH:mm:ssZ`, millis `...ss.SSSZ`,
    * micros `...ss.SSSSSSZ`, nanos `...ss.SSSSSSSSSZ` (the canonical
    * 9-digit width). Sub-precision digits are truncated (not rounded),
    * like the reference's `truncate(precision)`; nanos is the reference
    * DateTime's native resolution, so its truncation is the identity.
    */
  def canonicalDate(s: String, precision: String = "seconds"): Option[String] = {
    val (unit, pattern) = precision match {
      case "seconds" => (java.time.temporal.ChronoUnit.SECONDS,
        "uuuu-MM-dd'T'HH:mm:ss'Z'")
      case "millis" => (java.time.temporal.ChronoUnit.MILLIS,
        "uuuu-MM-dd'T'HH:mm:ss.SSS'Z'")
      case "micros" => (java.time.temporal.ChronoUnit.MICROS,
        "uuuu-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      case "nanos" => (java.time.temporal.ChronoUnit.NANOS,
        "uuuu-MM-dd'T'HH:mm:ss.SSSSSSSSS'Z'")
      case other => throw new IllegalArgumentException(s"unknown DatePrecision: $other")
    }
    try {
      val odt = java.time.OffsetDateTime.parse(s.trim)
      Some(odt.withOffsetSameInstant(java.time.ZoneOffset.UTC)
        .truncatedTo(unit)
        .format(java.time.format.DateTimeFormatter.ofPattern(pattern)))
    } catch { case _: java.time.format.DateTimeParseException => None }
  }

  /** Bytes term: the hex rendering of the value, canonicalized to lowercase
    * (hex is order-preserving under bytewise comparison, unlike base64).
    * Non-hex input emits no term.
    */
  def canonicalBytesHex(s: String): Option[String] = {
    val t = s.trim
    if (t.length % 2 == 0 && t.nonEmpty &&
        t.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')))
      Some(t.toLowerCase)
    else None
  }

  /** SplitCompoundWords (`src/tokenizer/split_compound_words.rs:46-188`):
    * a token is replaced by its dictionary parts iff leftmost-longest
    * matches starting at offset 0 tile the ENTIRE token text; any gap or
    * uncovered tail leaves the token unchanged. Parts inherit the original
    * token's position and offsets (the reference's `Token {..*token}`).
    * Leftmost-longest Aho-Corasick over a word dictionary reduces to a
    * greedy longest-prefix match at each contiguous cut point.
    */
  def splitCompoundWords(tokens: Seq[Token], dict: Seq[String]): Seq[Token] = {
    val byLenDesc = dict.filter(_.nonEmpty).distinct.sortBy(-_.length)
    if (byLenDesc.isEmpty) return tokens
    tokens.flatMap { t =>
      val text = t.text
      val cuts = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = 0
      var stuck = false
      while (!stuck && pos < text.length) {
        byLenDesc.find(w => text.startsWith(w, pos)) match {
          case Some(w) => cuts += pos; pos += w.length
          case None    => stuck = true
        }
      }
      if (stuck || pos != text.length || cuts.isEmpty) Seq(t)
      else {
        val bounds = cuts.toSeq :+ text.length
        bounds.sliding(2).map { case Seq(a, b) =>
          t.copy(text = text.substring(a, b))
        }.toSeq
      }
    }
  }

  /** Exact ASCII folding (`src/tokenizer/ascii_folding_filter.rs:1550-1560`
    * `to_ascii`): each codepoint with a table entry is replaced by its ASCII
    * string; every other codepoint — ASCII or not — passes through
    * unchanged. Byte-parity with the reference's 1242-codepoint table
    * (generated into [[AsciiFoldingData]] by tools/gen_ascii_fold.py).
    */
  def asciiFold(s: String): String = {
    var i = 0
    var sb: java.lang.StringBuilder = null // allocate only if a fold fires
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val n = Character.charCount(cp)
      val rep = if (cp < 128) null else AsciiFoldingData.table.get(cp)
      if (rep != null && sb == null) {
        sb = new java.lang.StringBuilder(s.length + 8)
        sb.append(s, 0, i)
      }
      if (sb != null) { if (rep != null) sb.append(rep) else sb.appendCodePoint(cp) }
      i += n
    }
    if (sb == null) s else sb.toString
  }
}
