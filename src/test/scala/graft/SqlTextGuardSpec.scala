package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps "SqlText is the only quote/comment scanner" true: a
  * character-level quote or comment state machine anywhere else in the
  * main sources fails this spec. The shape it looks for is a state
  * variable named like one (`var inQ`, `var quote`, ...) declared within
  * a few lines of a comparison against a quote character. */
class SqlTextGuardSpec extends AnyFunSuite {
  import SqlTextGuardSpec.matchingLines

  private val StateVar =
    """\bvar\s+(inQ|q|quote|inQuote|inStr|inString|inSingle|inDouble|inComment|inBlock)\b""".r
  private val QuoteCompare = """(==|!=|case)\s*'(\\'|"|`)'""".r

  /** `file:line` of every quote state machine under `root` outside
    * SqlText.scala. */
  private[graft] def stateMachines(root: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.toList finally st.close()
    files.filter(f => f.toString.endsWith(".scala") &&
        f.getFileName.toString != "SqlText.scala")
      .sortBy(_.toString).flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter { i =>
          StateVar.findFirstIn(lines(i)).isDefined &&
            lines.slice(i, i + 12).exists(QuoteCompare.findFirstIn(_).isDefined)
        }.map(i => s"${root.relativize(f)}:${i + 1}")
      }
  }

  private val DmlRender = "s\"(UPDATE|DELETE FROM) \\$".r
  private val CastRender = "s\"CAST\\(\\$".r

  // a statement-head keyword probed on raw text, or a letter-run head read
  private val HeadProbe = ("""regionMatches\(true,[^"]*"(SELECT|WITH|TABLE|""" +
    """VALUES|EXPLAIN|INSERT|REPLACE|UPDATE|DELETE|TRUNCATE|CREATE|DROP|""" +
    """ALTER|RENAME|SHOW|SET|USE|RESET|BEGIN|START|COMMIT|ROLLBACK|LOCK|""" +
    """UNLOCK|COPY|LOAD|CHECK)"|takeWhile\((_\.isLetter|c => c\.isLetter)\)""").r

  private val BacktickKnob = """\bbackslashInBacktick\b""".r
  private val SpansCall = """\bSqlText\.spans\(""".r
  /** `SqlText.spans(` call sites in SqlRouter.scala: `execute` lexes a
    * statement once, in `normalizeStatement`; a new walker adds one. */
  private val RouterSpansCalls = 10

  /** Every `SqlText.spans(` call site in `file` once there are more
    * than [[RouterSpansCalls]] of them, else none. */
  private[graft] def extraWalks(file: java.nio.file.Path): Seq[String] = {
    val found = matchingLines(file, SpansCall)
    if (found.size > RouterSpansCalls) found else Nil
  }

  /** `file:line` of every `backslashInBacktick` under `root`. */
  private[graft] def knobUses(root: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.toList finally st.close()
    files.filter(_.toString.endsWith(".scala")).sortBy(_.toString)
      .flatMap(matchingLines(_, BacktickKnob))
  }

  private def mainSource(name: String): java.nio.file.Path = {
    val f = java.nio.file.Paths.get("src", "main", "scala", "graft", name)
    assert(java.nio.file.Files.isRegularFile(f), s"run from the repo root: $f")
    f
  }

  private def planted(lines: String*): java.nio.file.Path = {
    val f = java.nio.file.Files.createTempFile("render_guard", ".scala")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f
  }

  // Every UPDATE/DELETE form goes through one parsed mutation path.
  test("SqlRouter renders no UPDATE/DELETE text to re-route") {
    val found = matchingLines(mainSource("SqlRouter.scala"), DmlRender)
    assert(found.isEmpty, "UPDATE/DELETE text rendered for re-routing " +
      s"(hand the parsed Mutation to mutateRows): ${found.mkString(", ")}")
  }

  test("the render guard recognizes a re-rendered DELETE") {
    val f = planted(
      "object R {",
      "  def f(c: String, w: String) = s\"DELETE FROM $c WHERE $w\"",
      "  def g(c: String) = s\"UPDATE $c SET v = 1\"",
      "}")
    assert(matchingLines(f, DmlRender) === Seq(s"${f.getFileName}:2", s"${f.getFileName}:3"))
  }

  // Spark parses `expr::type` itself: PgCompat aliases the type name
  // and never carves the operand out of the text.
  test("PgCompat renders no CAST(operand AS type) text") {
    val found = matchingLines(mainSource("PgCompat.scala"), CastRender)
    assert(found.isEmpty, "cast operand rendered from text (alias the " +
      s"type after `::` instead): ${found.mkString(", ")}")
  }

  test("the cast guard recognizes a rendered CAST") {
    val f = planted(
      "object C {",
      "  def f(lhs: String, t: String) = s\"CAST($lhs AS $t)\"",
      "  def g(t: String) = s\"x::$t\"",
      "}")
    assert(matchingLines(f, CastRender) === Seq(s"${f.getFileName}:2"))
  }

  // A statement's head is read once, by Stmt; the router reads the Stmt.
  test("SqlRouter probes no statement head outside Stmt") {
    val found = matchingLines(mainSource("SqlRouter.scala"), HeadProbe)
    assert(found.isEmpty, "statement head re-read from text (read the " +
      s"statement's Stmt instead): ${found.mkString(", ")}")
  }

  test("the head guard recognizes a head probe, not a clause keyword") {
    val f = planted(
      "object H {",
      "  def f(s: String) = s.regionMatches(true, 0, \"SELECT\", 0, 6)",
      "  def g(s: String) = s.trim.takeWhile(_.isLetter).toUpperCase",
      "  def h(ob: String) = ob.regionMatches(true, 0, \"BY\", 0, 2)",
      "}")
    assert(matchingLines(f, HeadProbe) === Seq(s"${f.getFileName}:2", s"${f.getFileName}:3"))
  }

  // MySQL backticks escape only by doubling: no knob reads `\` there.
  test("no backslash-in-backtick knob under src/main") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val found = knobUses(root)
    assert(found.isEmpty, s"backslashInBacktick is back: ${found.mkString(", ")}")
  }

  // `execute` lexes each statement once; a second walker is a new call.
  test("SqlRouter's SqlText.spans call sites do not grow") {
    val found = extraWalks(mainSource("SqlRouter.scala"))
    assert(found.isEmpty, s"more than $RouterSpansCalls span walks in " +
      s"SqlRouter (extend normalizeStatement instead): ${found.mkString(", ")}")
  }

  test("the lexer guards recognize the knob and one spans call too many") {
    val dir = java.nio.file.Files.createTempDirectory("lexer_guard")
    java.nio.file.Files.write(dir.resolve("Walk.scala"), Seq(
      "object Walk {",
      "  def f(s: String) = SqlText.spans(s, backslashInBacktick = true)",
      "  def g(s: String) = SqlText.mask(s)",
      "}").mkString("\n").getBytes("UTF-8"))
    assert(knobUses(dir) === Seq("Walk.scala:2"))
    val calls = (1 to RouterSpansCalls).map(i => s"  val s$i = SqlText.spans(t)")
    assert(extraWalks(planted(calls: _*)).isEmpty)
    val over = planted(calls :+ "  val x = SqlText.spans(t, dollarQuotes = true)": _*)
    assert(extraWalks(over).size === RouterSpansCalls + 1)
  }

  test("no quote or comment state machine outside SqlText") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val found = stateMachines(root)
    assert(found.isEmpty, "hand-rolled quote scanners (use SqlText's " +
      s"primitives): ${found.mkString(", ")}")
  }

  test("the guard recognizes a hand-rolled quote scanner") {
    val dir = java.nio.file.Files.createTempDirectory("sqltext_guard")
    java.nio.file.Files.write(dir.resolve("Scan.scala"), Seq(
      "object Scan {",
      "  def f(s: String) = {",
      "    var inQ = false",
      "    s.foreach(c => if (c == '\\'') inQ = !inQ)",
      "  }",
      "}").mkString("\n").getBytes("UTF-8"))
    assert(stateMachines(dir) === Seq("Scan.scala:3"))
  }
}

object SqlTextGuardSpec {
  /** `file:line` of every line of `file` matching `pattern` (a rendered
    * SQL shape, a head probe). */
  def matchingLines(file: java.nio.file.Path,
      pattern: scala.util.matching.Regex): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(file).asScala.toIndexedSeq
    lines.indices.filter(i => pattern.findFirstIn(lines(i)).isDefined)
      .map(i => s"${file.getFileName}:${i + 1}")
  }
}
