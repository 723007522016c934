package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps "SqlText is the only quote/comment scanner" true: a
  * character-level quote or comment state machine anywhere else in the
  * main sources fails this spec. The shape it looks for is a state
  * variable named like one (`var inQ`, `var quote`, ...) declared within
  * a few lines of a comparison against a quote character. */
class SqlTextGuardSpec extends AnyFunSuite {
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
