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

  private val DmlRender = "s\"(UPDATE|DELETE FROM) \\$".r

  /** `file:line` of every UPDATE/DELETE text `file` builds by
    * interpolation: the shape of a statement rendered only to be routed
    * again. Every UPDATE/DELETE form goes through one parsed mutation
    * path instead. */
  private[graft] def dmlRenders(file: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val lines = java.nio.file.Files.readAllLines(file).asScala.toIndexedSeq
    lines.indices.filter(i => DmlRender.findFirstIn(lines(i)).isDefined)
      .map(i => s"${file.getFileName}:${i + 1}")
  }

  test("SqlRouter renders no UPDATE/DELETE text to re-route") {
    val f = java.nio.file.Paths.get("src", "main", "scala", "graft",
      "SqlRouter.scala")
    assert(java.nio.file.Files.isRegularFile(f), s"run from the repo root: $f")
    val found = dmlRenders(f)
    assert(found.isEmpty, "UPDATE/DELETE text rendered for re-routing " +
      s"(hand the parsed Mutation to mutateRows): ${found.mkString(", ")}")
  }

  test("the render guard recognizes a re-rendered DELETE") {
    val f = java.nio.file.Files.createTempFile("dml_guard", ".scala")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, Seq(
      "object R {",
      "  def f(c: String, w: String) = s\"DELETE FROM $c WHERE $w\"",
      "  def g(c: String) = s\"UPDATE $c SET v = 1\"",
      "}").mkString("\n").getBytes("UTF-8"))
    assert(dmlRenders(f) === Seq(s"${f.getFileName}:2", s"${f.getFileName}:3"))
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
