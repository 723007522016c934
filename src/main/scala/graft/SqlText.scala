package graft

import scala.util.matching.Regex

/** The one lexical scanner for SQL text: every quote-, comment- and
  * paren-aware scan in the engine goes through [[spans]] and the four
  * primitives built on it. No other file walks quote or comment state
  * by hand (SqlTextGuardSpec keeps that true). The dialect DECISIONS
  * stay at the call sites as knob settings; the MECHANICS live here.
  *
  * Primitives:
  *  - [[spans]] — partition the text into code / quoted / comment /
  *    dollar spans.
  *  - [[mask]] — the text with non-code spans blanked, length kept, so
  *    a regex runs on the masked copy and its offsets slice the
  *    original.
  *  - [[replaceCode]] — regex replace inside code spans only.
  *  - [[splitTop]] — split at top-level (paren depth 0, code-only)
  *    separators: commas, or the first occurrence of a keyword.
  *  - [[matchParen]] — the partner of a paren in masked text.
  *
  * Knobs, and the call sites that set them (everything else lexes with
  * the defaults):
  *
  * | knob                  | meaning                                | set by |
  * |-----------------------|----------------------------------------|--------|
  * | `hashComments`        | `#` starts a line comment (MySQL)      | stripLeadingComments, normalizeMysqlLiterals |
  * | `dollarQuotes`        | `$tag$...$tag$` is one span (PG)       | splitStatements (off when the DELIMITER holds `$`), foldDollarQuotes, stripComments, callHeads, rewriteAliasHaving, rewriteSysVars, observeDialectEvidence, splitReturning |
  * | `backslashInBacktick` | `\` escapes inside `` `...` ``         | normalizeMysqlLiterals |
  * | `standardStrings`     | `\` is literal in `'...'`/`"..."` (PG) | every PgCompat pass, PgCompat.quoteIdents (off for the MySQL ANSI_QUOTES fold), Partitioning's bound splits |
  * | `keep` ([[mask]] only) | quote kinds left unmasked             | PgCompat toSys/dropFunctionQualifiers/regexOps (`"`), isDumpFunction and joinRefs (`` ` `` `"`), observeDialectEvidence (`` ` ``) |
  *
  * Keep `hashComments` OFF wherever Postgres text can flow through: PG
  * spells JSON-path operators `#>` / `#>>`. Dollar tags start with a
  * letter/underscore so `$1` positional params never open a span.
  * MySQL backtick identifiers escape a backtick by doubling it, so the
  * default leaves `\` alone there.
  *
  * Shared rules (what mysqldump/pg_dump actually emit):
  *  - `--` opens a line comment anywhere in code, through end-of-line
  *    (newline included in the span).
  *  - Block comments do NOT nest (MySQL rule; PG nests — dump output
  *    never does) and an unterminated one runs to end of input.
  *  - `\` escapes the next character inside `'...'` and `"..."`
  *    unless `standardStrings`.
  *  - A doubled delimiter (`''`, `""`, ``` `` ```) stays inside its
  *    quoted span.
  *  - An unterminated quote runs to end of input.
  */
object SqlText {
  sealed trait Kind
  case object Code extends Kind
  /** A quoted span INCLUDING its delimiters: `'...'`, `"..."`, `` `...` ``. */
  case object Quoted extends Kind
  /** `--` (or `#`, when enabled) through end-of-line, newline included. */
  case object LineComment extends Kind
  /** A slash-star block, non-nesting; version conditionals included. */
  case object BlockComment extends Kind
  /** `$tag$ ... $tag$`, delimiters included. */
  case object Dollar extends Kind

  /** Half-open [start, end) into the scanned string. Spans partition
    * the input: concatenating them in order reproduces it exactly. */
  final case class Span(kind: Kind, start: Int, end: Int)

  def spans(s: String, hashComments: Boolean = false,
      dollarQuotes: Boolean = false,
      backslashInBacktick: Boolean = false,
      standardStrings: Boolean = false): Seq[Span] = {
    val out = Vector.newBuilder[Span]
    var i = 0
    var codeStart = 0
    def flushCode(until: Int): Unit =
      if (until > codeStart) out += Span(Code, codeStart, until)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        flushCode(i)
        val start = i
        val escapes = if (c == '`') backslashInBacktick else !standardStrings
        i += 1
        var closed = false
        while (!closed && i < s.length) {
          val d = s.charAt(i)
          if (d == '\\' && escapes && i + 1 < s.length) i += 2
          else if (d == c && i + 1 < s.length && s.charAt(i + 1) == c) i += 2
          else { if (d == c) closed = true; i += 1 }
        }
        out += Span(Quoted, start, i)
        codeStart = i
      } else if ((c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') ||
          (hashComments && c == '#')) {
        flushCode(i)
        val nl = s.indexOf('\n', i)
        val end = if (nl < 0) s.length else nl + 1
        out += Span(LineComment, i, end)
        i = end; codeStart = i
      } else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        flushCode(i)
        val close = s.indexOf("*/", i + 2)
        val end = if (close < 0) s.length else close + 2
        out += Span(BlockComment, i, end)
        i = end; codeStart = i
      } else if (dollarQuotes && c == '$') {
        var j = i + 1
        while (j < s.length && (s.charAt(j).isLetterOrDigit ||
          s.charAt(j) == '_')) j += 1
        val validTag = j < s.length && s.charAt(j) == '$' &&
          (j == i + 1 || s.charAt(i + 1).isLetter || s.charAt(i + 1) == '_')
        if (validTag) {
          flushCode(i)
          val tag = s.substring(i, j + 1)
          val close = s.indexOf(tag, j + 1)
          val end = if (close < 0) s.length else close + tag.length
          out += Span(Dollar, i, end)
          i = end; codeStart = i
        } else i += 1
      } else i += 1
    }
    flushCode(s.length)
    out.result()
  }

  /** `s` with every non-code span blanked to spaces, length kept.
    * Quoted and dollar spans keep their delimiters (a pattern can
    * still see that a literal sits there: `AS\s*'`); comments blank
    * whole. Quoted spans opened by a character in `keep` stay visible
    * (PG's `"ident"` for the table-name scanners). `sps` are the spans
    * of `s`; empty means `spans(s)` with default knobs. */
  def mask(s: String, sps: Seq[Span] = Nil, keep: String = ""): String = {
    val b = s.toCharArray
    (if (sps.isEmpty) spans(s) else sps).foreach { sp =>
      val delim = sp.kind match {
        case Quoted if keep.indexOf(s.charAt(sp.start)) >= 0 => -1
        case Quoted => 1
        case Dollar => s.indexOf('$', sp.start + 1) + 1 - sp.start
        case Code => -1
        case _ => 0
      }
      if (delim >= 0) {
        val len = sp.end - sp.start
        val closed = delim > 0 && len >= 2 * delim &&
          s.regionMatches(sp.end - delim, s, sp.start, delim)
        java.util.Arrays.fill(b, sp.start + delim,
          if (closed) sp.end - delim else sp.end, ' ')
      }
    }
    new String(b)
  }

  /** `re` replaced by `to(match)` inside code spans only; quoted,
    * comment and dollar spans copy through verbatim. Each code span is
    * matched on its own, so a match never straddles a literal. `sps`
    * as in [[mask]]. */
  def replaceCode(s: String, re: Regex, sps: Seq[Span] = Nil)(
      to: Regex.Match => String): String = {
    val b = new java.lang.StringBuilder(s.length)
    (if (sps.isEmpty) spans(s) else sps).foreach { sp =>
      val seg = s.substring(sp.start, sp.end)
      if (sp.kind != Code) b.append(seg)
      else b.append(re.replaceAllIn(seg, m => Regex.quoteReplacement(to(m))))
    }
    b.toString
  }

  /** `s` cut at top-level occurrences of `sep` — paren depth 0, code
    * spans only. `sep` is a punctuation character (`","`), cut at
    * EVERY top-level occurrence, or a keyword phrase
    * (`"ON DUPLICATE KEY UPDATE"`), cut at its FIRST one only: keywords
    * match case-insensitively as whole words, any whitespace run
    * between their words, and give `Seq(before, after)`, or `Seq(s)`
    * without one (`.head.length` is then the keyword's position, or
    * `s.length`). Pieces are raw (untrimmed) and exclude the separator;
    * an empty `s` gives none. `sps` as in [[mask]]. */
  def splitTop(s: String, sep: String = ",",
      sps: Seq[Span] = Nil): Seq[String] = {
    if (s.isEmpty) return Nil
    val masked = mask(s, sps)
    def ident(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    val words = sep.split(' ')
    val keyword = ident(sep.head)
    val first = Character.toLowerCase(sep.head)
    // end of the separator when it starts at i, else -1
    def sepEnd(i: Int): Int = {
      if (keyword && i > 0 && ident(masked.charAt(i - 1))) return -1
      var j = i
      var w = 0
      while (w < words.length) {
        if (w > 0) {
          val k = j
          while (j < masked.length && masked.charAt(j).isWhitespace) j += 1
          if (j == k) return -1
        }
        if (!masked.regionMatches(true, j, words(w), 0, words(w).length))
          return -1
        j += words(w).length
        w += 1
      }
      if (keyword && j < masked.length && ident(masked.charAt(j))) -1 else j
    }
    val out = Vector.newBuilder[String]
    var cut = false
    var depth = 0
    var start = 0
    var i = 0
    while (i < masked.length && !(keyword && cut)) {
      val c = masked.charAt(i)
      val end =
        if (depth == 0 && Character.toLowerCase(c) == first) sepEnd(i) else -1
      if (end >= 0) {
        out += s.substring(start, i)
        cut = true
        start = end
        i = end
      } else {
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        i += 1
      }
    }
    out += s.substring(start)
    out.result()
  }

  /** Index of the partner of the paren at `at` in MASKED text (forward
    * from `(`, backward from `)`), or -1 when it never balances. */
  def matchParen(masked: String, at: Int): Int = {
    val step = if (masked.charAt(at) == '(') 1 else -1
    var depth = 0
    var i = at
    while (i >= 0 && i < masked.length) {
      masked.charAt(i) match {
        case '(' => depth += step
        case ')' => depth -= step
        case _ =>
      }
      if (depth == 0) return i
      i += step
    }
    -1
  }
}
