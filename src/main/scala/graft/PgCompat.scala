package graft

/** A33–A35's rewrite half: the PostgreSQL spellings client tools emit
  * that Spark's parser doesn't own, folded to Spark SQL before Catalyst
  * sees the statement — the analog of the reference's regex rewrites in
  * `pgserver/stmt.go:266-314` (ConvertToSys, ConvertAnyOp) and its
  * compat macros in `catalog/internal_macro.go:48-81`.
  *
  * Applied only on the Catalyst-bound paths (SqlRouter's SELECT
  * fall-through, CTAS and CREATE VIEW bodies) — routed DDL/DML keeps
  * its original spelling, so dump-replay parsing is untouched. Every
  * scanner is quote-aware: single-quoted literals never rewrite, and
  * double-quoted spans are PG IDENTIFIERS (converted to backticks at
  * the end, after the table-reference rewrite has seen them).
  *
  * Coverage, in application order:
  *  1. `pg_catalog.x` / bare catalog names after FROM/JOIN/INTO →
  *     `__sys__x` ([[PgCatalog]] registers the frames).
  *  2. `pg_catalog.` / `information_schema.` prefixes on function
  *     calls dropped.
  *  3. Compat macros: `pg_get_indexdef(...)` → `''` (the reference
  *     macro's exact contract), `pg_get_expr(x, ...)` → `x`,
  *     `pg_table_is_visible(...)` → `TRUE`, `pg_is_in_recovery()` →
  *     `FALSE`, `pg_backend_pid()` → the JVM pid,
  *     `current_setting('x')` → its value as a literal,
  *     `current_schema()` → `'public'`, `current_schemas(b)` → the
  *     search-path array, `current_database()` → the engine db.
  *  4. `expr = ANY(...)` → `my_list_contains(...)` (array form) or
  *     `IN` (subquery form).
  *  5. `~ !~ ~* !~*` regex operators → (NOT) RLIKE.
  *  6. `expr::type` casts: the `::` stays (Spark parses it, operand
  *     and precedence included); only the PG type name is aliased to
  *     its Spark type. `'name'::regclass` resolves to the live
  *     relation oid, `'name'::regtype` to the type oid.
  *  7. Remaining double-quoted identifiers → backticks.
  *
  * Dialect caveat (documented, not hidden): set-returning functions in
  * the SELECT list (`(information_schema._pg_expandarray(x)).n`) have
  * no Spark equivalent — the LATERAL VIEW / inline(...) spelling over
  * the registered `_pg_expandarray` works instead.
  */
object PgCompat {

  /** Cheap gate: statements with none of the compat spellings return
    * unchanged without any scanning. */
  def rewriteQuery(engine: Engine, sql: String): String = {
    val lower = sql.toLowerCase
    if (!lower.contains("pg_") && !lower.contains("::") &&
      !lower.contains("~") && !lower.contains(" any") &&
      !lower.contains("current_s") && !lower.contains("current_database") &&
      !lower.contains("information_schema"))
      return sql
    var s = sql
    if (lower.contains("pg_") || lower.contains("information_schema"))
      s = dropFunctionQualifiers(toSys(s))
    if (s.toLowerCase.contains("_pg_expandarray")) s = expandSrf(s)
    s = macros(engine, s)
    if (s.toLowerCase.contains("any")) s = anyOp(s)
    if (s.contains("~")) s = regexOps(s)
    if (s.contains("::")) s = casts(engine, s)
    // identifier-quote conversion only for statements that showed a PG
    // signal (a rewrite fired, a `::` outside any quoted span, or a
    // catalog reference) — MySQL-dialect statements use double quotes
    // for STRINGS and must keep them, `"::1"` included
    if (s.contains("\"") &&
      (s != sql || lower.contains("pg_catalog") || lower.contains("__sys__") ||
        (lower.contains("::") && SqlText.mask(sql, pgSpans(sql)).contains("::"))))
      s = quoteIdents(s)
    s
  }

  // ------------------------------------------------------------------
  // A35 hardcoded psql intro queries (reference
  // full_match_handler.go:29-60): known-problematic client queries
  // matched whole (whitespace/case-insensitively) and replaced with a
  // corrected equivalent that then flows through rewriteQuery.

  private def normalizeFull(q: String): String =
    q.replaceAll("[\\s;]+", " ").trim.toLowerCase

  private val hardcodedQueries: Map[String, String] = Map(
    // psql's enum-introspection query selects an ambiguous bare `oid`;
    // the corrected form qualifies it (the reference's exact fix)
    normalizeFull("SELECT pg_type.oid, enumlabel FROM pg_enum JOIN " +
      "pg_type ON pg_type.oid=enumtypid ORDER BY oid, enumsortorder") ->
      ("SELECT pg_type.oid, pg_enum.enumlabel FROM pg_enum AS pg_enum " +
        "JOIN pg_type AS pg_type ON pg_type.oid=pg_enum.enumtypid " +
        "ORDER BY pg_type.oid, pg_enum.enumsortorder"))

  /** The corrected replacement for a hardcoded client query, if this is
    * one. */
  def fullMatch(q: String): Option[String] =
    hardcodedQueries.get(normalizeFull(q))

  // ------------------------------------------------------------------
  // lexing: every pass reads PG text (standard_conforming_strings: a
  // backslash is literal inside '...'), scanning a SqlText mask so no
  // rewrite fires inside a string literal or a comment. Double-quoted
  // spans are identifiers: visible to the table-name scanners, masked
  // for the operator scanners.

  private def pgSpans(s: String) = SqlText.spans(s, standardStrings = true)

  // ------------------------------------------------------------------
  // 1. table references → __sys__ (reference ConvertToSys,
  //    pgserver/stmt.go:287-295)

  private val sysNamesAlt = PgCatalog.tableNames.toSeq.sorted.mkString("|")
  private val ToSysRe =
    ("""(?i)\b(FROM|JOIN|INTO)(\s+)(?:"?pg_catalog"?\.)?"?(""" + sysNamesAlt + """)"?\b""").r
  private val QualifiedRe =
    ("""(?i)"?pg_catalog"?\."?(""" + sysNamesAlt + """)"?\b""").r
  // information_schema relations rewrite only when QUALIFIED — their
  // bare names (`tables`, `columns`) are ordinary identifiers a user
  // table could carry. The lookahead keeps function-call spellings
  // (`information_schema._pg_expandarray(...)`) for the qualifier-drop
  // rewrite instead.
  private val isNamesAlt = PgCatalog.infoSchemaNames.toSeq.sorted.mkString("|")
  private val InfoSchemaRe =
    ("""(?i)"?information_schema"?\."?(""" + isNamesAlt + """)"?\b(?!\s*\()""").r

  private[graft] def toSys(s: String): String = {
    val masked = SqlText.mask(s, pgSpans(s), keep = "\"")
    // collect replacement spans on the masked text, splice the original
    val spans = (ToSysRe.findAllMatchIn(masked).map(m =>
      (m.start, m.end, m.group(1) + m.group(2) + "__sys__" + m.group(3).toLowerCase)) ++
      QualifiedRe.findAllMatchIn(masked).map(m =>
        (m.start, m.end, "__sys__" + m.group(1).toLowerCase)) ++
      InfoSchemaRe.findAllMatchIn(masked).map(m =>
        (m.start, m.end, "__is__" + m.group(1).toLowerCase)))
      .toSeq.sortBy(_._1)
    if (spans.isEmpty) return s
    val b = new java.lang.StringBuilder
    var pos = 0
    spans.foreach { case (st, en, rep) =>
      if (st >= pos) { // overlapping matches: first (FROM-form) wins
        b.append(s, pos, st).append(rep)
        pos = en
      }
    }
    b.append(s, pos, s.length)
    b.toString
  }

  // 2. qualifier drop on function calls: pg_catalog.f( / information_schema.f(
  private val FnQualRe =
    """(?i)\b"?(?:pg_catalog|information_schema)"?\."?(\w+)"?(\s*\()""".r

  private[graft] def dropFunctionQualifiers(s: String): String = {
    val masked = SqlText.mask(s, pgSpans(s), keep = "\"")
    val spans = FnQualRe.findAllMatchIn(masked)
      .filterNot(m => m.group(1).toLowerCase.startsWith("__sys__"))
      .map(m => (m.start, m.end, m.group(1) + m.group(2))).toSeq
    splice(s, spans)
  }

  private def splice(s: String, spans: Seq[(Int, Int, String)]): String = {
    if (spans.isEmpty) return s
    val b = new java.lang.StringBuilder
    var pos = 0
    spans.sortBy(_._1).foreach { case (st, en, rep) =>
      if (st >= pos) { b.append(s, pos, st).append(rep); pos = en }
    }
    b.append(s, pos, s.length)
    b.toString
  }

  // ------------------------------------------------------------------
  // 3. compat macros. Each rewrites `name(args)` as a whole span using
  //    balanced parens; repeated until no call remains (nested calls).

  private def replaceCall(s: String, fn: String,
      replace: Seq[String] => String): String = {
    var cur = s
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = SqlText.mask(cur, pgSpans(cur))
      val re = ("""(?i)\b""" + fn + """\s*\(""").r
      re.findFirstMatchIn(masked) match {
        case None => return cur
        case Some(m) =>
          val open = masked.indexOf('(', m.start)
          val close = SqlText.matchParen(masked, open)
          if (close < 0) return cur
          val inner = cur.substring(open + 1, close)
          val args = SqlText.splitTop(inner, sps = pgSpans(inner))
            .map(_.trim).filter(_.nonEmpty)
          cur = cur.substring(0, m.start) + replace(args) +
            cur.substring(close + 1)
      }
    }
    cur
  }

  private[graft] def macros(engine: Engine, s0: String): String = {
    var s = s0
    val lower = s.toLowerCase
    if (lower.contains("pg_get_indexdef"))
      s = replaceCall(s, "pg_get_indexdef", _ => "''")
    if (lower.contains("pg_get_expr"))
      s = replaceCall(s, "pg_get_expr", args => args.headOption.getOrElse("NULL"))
    if (lower.contains("pg_table_is_visible"))
      s = replaceCall(s, "pg_table_is_visible", _ => "TRUE")
    if (lower.contains("pg_is_in_recovery"))
      s = replaceCall(s, "pg_is_in_recovery", _ => "FALSE")
    if (lower.contains("pg_backend_pid"))
      s = replaceCall(s, "pg_backend_pid",
        _ => ProcessHandle.current().pid().toString)
    if (lower.contains("current_setting"))
      s = replaceCall(s, "current_setting", {
        case Seq(lit) if lit.startsWith("'") && lit.endsWith("'") =>
          val name = lit.substring(1, lit.length - 1)
          PgCatalog.setting(engine, name) match {
            case Some(v) => "'" + v.replace("'", "''") + "'"
            case None => throw new IllegalArgumentException(
              s"unrecognized configuration parameter \"$name\"")
          }
        case args => s"current_setting(${args.mkString(", ")})" // non-literal: surface as-is
      })
    if (lower.contains("current_schemas")) {
      s = replaceCall(s, "current_schemas", args =>
        if (args.headOption.exists(_.equalsIgnoreCase("true")))
          "array('pg_catalog', 'public')"
        else "array('public')")
    }
    // zero-arg forms: the () must be consumed too
    if (s.toLowerCase.contains("current_schema"))
      s = replaceCall(s, "current_schema", _ => "'public'")
    if (s.toLowerCase.contains("current_database"))
      s = replaceCall(s, "current_database",
        _ => "'" + engine.currentDatabase + "'")
    s
  }

  // ------------------------------------------------------------------
  // 4. = ANY(...) (reference ConvertAnyOp, pgserver/stmt.go:297-314):
  //    array operand → my_list_contains(arr, x) (the registered A30
  //    shim the reference also targets); subquery operand → IN.

  private val AnyRe = """(?i)([^\s(=]+)\s*=\s*ANY\s*\(""".r

  private[graft] def anyOp(s0: String): String = {
    var cur = s0
    var guard = 0
    while (guard < 32) {
      guard += 1
      val masked = SqlText.mask(cur, pgSpans(cur))
      AnyRe.findFirstMatchIn(masked) match {
        case None => return cur
        case Some(m) =>
          val open = masked.indexOf('(', m.end - 1)
          val close = SqlText.matchParen(masked, open)
          if (close < 0) return cur
          val lhs = cur.substring(m.start(1), m.end(1))
          val inner = cur.substring(open + 1, close).trim
          val rep =
            if (inner.toLowerCase.startsWith("select")) s"$lhs IN ($inner)"
            else s"my_list_contains($inner, $lhs)"
          cur = cur.substring(0, m.start) + rep + cur.substring(close + 1)
      }
    }
    cur
  }

  // ------------------------------------------------------------------
  // 5. POSIX regex operators. RHS must be a string literal (PG's
  //    patterns are RE2-compatible for the subset clients emit); `~`
  //    is search semantics, exactly Spark's RLIKE.

  private val RegexOpRe =
    """("[^"]+"|[\w.$]+)\s*(!~\*|!~|~\*|~)\s*('(?:[^']|'')*')""".r

  private[graft] def regexOps(s: String): String = {
    val masked = SqlText.mask(s, pgSpans(s), keep = "\"")
    val spans = RegexOpRe.findAllMatchIn(masked).map { m =>
      val lhs = s.substring(m.start(1), m.end(1))
      val rhs = s.substring(m.start(3), m.end(3))
      val (neg, ci) = m.group(2) match {
        case "!~*" => (true, true)
        case "!~" => (true, false)
        case "~*" => (false, true)
        case "~" => (false, false)
      }
      val pat = if (ci) {
        // fold the case flag into the pattern: '(?i)' || rhs
        if (rhs.length >= 2) "'(?i)" + rhs.substring(1) else rhs
      } else rhs
      val base = s"$lhs RLIKE $pat"
      (m.start, m.end, if (neg) s"NOT ($base)" else base)
    }.toSeq
    splice(s, spans)
  }

  // ------------------------------------------------------------------
  // 6. ::type casts. Spark parses `expr::type` itself, with PG's
  //    precedence, so the operand is Catalyst's to find: this pass
  //    rewrites only the type phrase after each `::` — PG names Spark
  //    rejects (int4, text, ...), the ones Spark would read differently
  //    (bare numeric, interval, timestamp's precision argument) — and
  //    drops a `[]` array suffix. Names Spark parses as spelled (int,
  //    bigint, boolean, date, `timestamp without time zone` as
  //    timestamp_ntz, ...) stay Catalyst's.
  //    regclass/regtype literals resolve against the live catalog at
  //    rewrite time — settings and oids are statement-time constants,
  //    the same contract the reference's rewrites rely on.

  private val castTypeMap = Map(
    "text" -> "STRING", "varchar" -> "STRING", "name" -> "STRING",
    "char" -> "STRING", "bpchar" -> "STRING", "character" -> "STRING",
    "int2" -> "SMALLINT", "int4" -> "INT", "int8" -> "BIGINT", "oid" -> "BIGINT",
    "float4" -> "FLOAT", "real" -> "FLOAT",
    "float8" -> "DOUBLE", "numeric" -> "DECIMAL(38,18)",
    "decimal" -> "DECIMAL(38,18)", "bool" -> "BOOLEAN", "timestamp" -> "TIMESTAMP",
    "timestamptz" -> "TIMESTAMP", "json" -> "STRING", "jsonb" -> "STRING",
    "uuid" -> "STRING", "bytea" -> "BINARY",
    "character varying" -> "STRING", "double precision" -> "DOUBLE",
    "timestamp with time zone" -> "TIMESTAMP",
    "interval" -> "INTERVAL DAY TO SECOND")

  // `::`, the type word (or a multi-word PG spelling), optional (args),
  // optional []
  private val CastTypeRe = ("""(?i)::\s*(character\s+varying|double\s+precision|""" +
    """timestamp\s+with(?:out)?\s+time\s+zone|\w+)(\([^()]*\))?(\[\])?""").r

  private[graft] def casts(engine: Engine, s: String): String = {
    val sps = pgSpans(s)
    val masked = SqlText.mask(s, sps)
    val spans = CastTypeRe.findAllMatchIn(masked).flatMap { m =>
      val args = Option(m.group(2)).getOrElse("")
      def to(t: String) = // no span where the text already says `t`
        if (m.matched.drop(2).trim.equalsIgnoreCase(t)) None
        else Some((m.start, m.end, "::" + t))
      m.group(1).toLowerCase.split("\\s+").mkString(" ") match {
        case w @ ("regclass" | "regtype") =>
          // a literal operand (`'t'::` or `'t' ::`) resolves now; any
          // other is an oid already
          sps.find(sp => sp.kind == SqlText.Quoted && sp.end <= m.start &&
              s.charAt(sp.start) == '\'' && s.substring(sp.end, m.start).isBlank) match {
            case Some(lit) =>
              val name = s.substring(lit.start + 1, lit.end - 1)
              val oid =
                if (w == "regclass") PgCatalog.relOid(engine, name)
                else PgCatalog.typeOidByName.get(name.toLowerCase)
              Some((lit.start, m.end, oid.fold("NULL")(_.toString) + "::BIGINT"))
            case None => to("BIGINT")
          }
        case w => castTypeMap.get(w) match {
          case Some("DECIMAL(38,18)") if args.nonEmpty => to("DECIMAL" + args)
          case Some(t) => to(t)
          case None => // unknown: Catalyst judges it; only [] goes
            Option(m.group(3)).map(_ => (m.start(3), m.end(3), ""))
        }
      }
    }.toSeq
    splice(s, spans)
  }

  // ------------------------------------------------------------------
  // 8. set-returning function in the SELECT list. PG multiplies rows
  //    when an SRF sits in the select list — pgjdbc's getPrimaryKeys
  //    emits `(information_schema._pg_expandarray(i.indkey)).n` and a
  //    bare `_pg_expandarray(i.indkey) AS KEYS` in one list (reference
  //    surface `pgserver/in_place_handler_test.go:92-117`). Spark has
  //    no select-list generators for this shape, so every select-list
  //    occurrence folds to a field of ONE shared
  //    `LATERAL VIEW explode(_pg_expandarray(arg)) AS __srf` appended
  //    to the same subselect's FROM clause: `(f(a)).n` → `__srf.n`,
  //    bare `f(a)` → `__srf` (a struct — outer `(alias.KEYS).x`
  //    field access keeps working). All occurrences must share one
  //    argument (they do in the JDBC shape; PG 10+ runs same-arity
  //    SRFs in lockstep, so differing args are refused loudly rather
  //    than silently cross-joined). FROM-clause spellings (the
  //    already-working LATERAL VIEW inline(...) form) are left alone.

  private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_' || c == '$'

  private[graft] def expandSrf(s: String): String = {
    if (!s.toLowerCase.contains("_pg_expandarray")) return s
    val masked = SqlText.mask(s, pgSpans(s))
    val mlower = masked.toLowerCase
    val n = s.length
    def wordAt(j: Int, w: String): Boolean =
      mlower.regionMatches(j, w, 0, w.length) &&
        (j == 0 || !isWordChar(mlower.charAt(j - 1))) &&
        (j + w.length >= n || !isWordChar(mlower.charAt(j + w.length)))
    // (replaceStart, replaceEnd, replacement, clauseDepth,
    //  owning-SELECT position, argText)
    final case class Occ(start: Int, end: Int, repl: String,
      selDepth: Int, selAt: Int, arg: String)
    val occs = scala.collection.mutable.ArrayBuffer.empty[Occ]
    val state = scala.collection.mutable.Map.empty[Int, Char] // 's'|'o'
    // position of the SELECT that set state(d)='s' — the subselect's
    // IDENTITY (two sibling subselects share a depth but not this)
    val selPos = scala.collection.mutable.Map.empty[Int, Int]
    var depth = 0
    var i = 0
    val clauseWords = Seq("from", "where", "group", "order", "having", "limit")
    while (i < n) {
      val c = masked.charAt(i)
      if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { state.remove(depth); selPos.remove(depth); depth -= 1; i += 1 }
      else if (wordAt(i, "select")) { state(depth) = 's'; selPos(depth) = i; i += 6 }
      else if (clauseWords.exists(wordAt(i, _))) { state(depth) = 'o'; i += 4 }
      else if (wordAt(i, "_pg_expandarray")) {
        var j = i + 15
        while (j < n && masked.charAt(j).isWhitespace) j += 1
        if (j < n && masked.charAt(j) == '(') {
          val close = SqlText.matchParen(masked, j)
          val k2 = if (close < 0) n else close + 1
          val arg = s.substring(j + 1, k2 - 1).trim
          // nearest enclosing depth with a clause state decides whether
          // this occurrence is in a select list (the LATERAL VIEW
          // inline(...) spelling resolves to 'o' and stays untouched)
          var dd = depth; var st = 'o'; var found = false
          while (dd >= 0 && !found) state.get(dd) match {
            case Some(x) => st = x; found = true
            case None => dd -= 1
          }
          if (st == 's') {
            val at = selPos.getOrElse(dd, -1)
            var p = i - 1
            while (p >= 0 && s.charAt(p).isWhitespace) p -= 1
            var q = k2
            while (q < n && s.charAt(q).isWhitespace) q += 1
            if (p >= 0 && s.charAt(p) == '(' && q < n && s.charAt(q) == ')') {
              var r = q + 1
              while (r < n && s.charAt(r).isWhitespace) r += 1
              if (r < n && s.charAt(r) == '.') {
                var e2 = r + 1
                while (e2 < n && isWordChar(s.charAt(e2))) e2 += 1
                occs += Occ(p, e2, "__srf." + s.substring(r + 1, e2), dd, at, arg)
              } else occs += Occ(p, q + 1, "__srf", dd, at, arg)
            } else occs += Occ(i, k2, "__srf", dd, at, arg)
          }
          i = k2
        } else i += 15
      } else i += 1
    }
    if (occs.isEmpty) return s
    require(occs.map(_.arg).distinct.size == 1 &&
      occs.map(o => (o.selDepth, o.selAt)).distinct.size == 1,
      "select-list _pg_expandarray occurrences must share one argument " +
        "and one subselect")
    val arg = occs.head.arg
    val selDepth = occs.head.selDepth
    // insertion point: end of the SAME subselect's FROM clause — the
    // first boundary keyword at selDepth after it, or where the depth
    // drops below selDepth, or end of statement
    var insertAt = -1
    var sawFrom = false
    depth = 0; i = occs.last.end
    // depth at resume point: recompute from scratch (cheap — one pass)
    depth = masked.substring(0, i).count(_ == '(') -
      masked.substring(0, i).count(_ == ')')
    while (i < n && insertAt < 0) {
      val c = masked.charAt(i)
      if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') {
        depth -= 1
        if (sawFrom && depth < selDepth) insertAt = i
        i += 1
      }
      else if (depth == selDepth && wordAt(i, "from")) { sawFrom = true; i += 4 }
      else if (sawFrom && depth == selDepth &&
        Seq("where", "group", "order", "having", "limit").exists(wordAt(i, _)))
        insertAt = i
      else i += 1
    }
    if (insertAt < 0) insertAt = n
    require(sawFrom, "select-list _pg_expandarray needs a FROM clause")
    val lateral = s" LATERAL VIEW explode(_pg_expandarray($arg)) __graft_srf AS __srf "
    val b = new java.lang.StringBuilder
    var pos = 0
    occs.sortBy(_.start).foreach { o =>
      b.append(s, pos, o.start).append(o.repl)
      pos = o.end
    }
    b.append(s, pos, insertAt).append(lateral).append(s, insertAt, n)
    b.toString
  }

  // ------------------------------------------------------------------
  // 7. double-quoted identifiers → backticks (PG quoting → Spark
  //    quoting; "" inside an identifier unescapes to ").

  /** `standardStrings = false` for MySQL-lexed input (the ANSI_QUOTES
    * sql_mode fold): `\'` inside a single-quoted literal must not
    * close it. PG callers keep the default. */
  private[graft] def quoteIdents(s: String,
      standardStrings: Boolean = true): String =
    SqlText.spans(s, standardStrings = standardStrings).map { sp =>
      val seg = s.substring(sp.start, sp.end)
      if (sp.kind != SqlText.Quoted || seg.head != '"') seg
      else {
        val closed = seg.length > 1 && seg.last == '"'
        "`" + seg.substring(1, if (closed) seg.length - 1 else seg.length)
          .replace("\"\"", "\"") + "`"
      }
    }.mkString
}
