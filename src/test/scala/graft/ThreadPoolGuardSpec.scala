package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps "one fan-out helper" true: a thread pool built anywhere in the
  * main sources other than `Engine.fanOut` fails this spec. A hit is a
  * line naming `Executors` or `newFixedThreadPool`; it is allowed only
  * when the nearest `def` above it in Engine.scala is `def fanOut`. */
class ThreadPoolGuardSpec extends AnyFunSuite {
  private val PoolUse = """\bExecutors\b|\bnewFixedThreadPool\b""".r
  private val Def = """\bdef\s+(\w+)""".r

  /** `file:line` of every thread-pool construction under `root`
    * outside the fan-out helper. */
  private[graft] def poolSites(root: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.walk(root)
    val files = try st.iterator().asScala.toList finally st.close()
    files.filter(_.toString.endsWith(".scala")).sortBy(_.toString).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
      def inFanOut(i: Int) = f.getFileName.toString == "Engine.scala" &&
        (i to 0 by -1).iterator.flatMap(j => Def.findFirstMatchIn(lines(j)))
          .nextOption().exists(_.group(1) == "fanOut")
      lines.indices.filter(i =>
        PoolUse.findFirstIn(lines(i)).isDefined && !inFanOut(i))
        .map(i => s"${root.relativize(f)}:${i + 1}")
    }
  }

  test("no thread pool outside Engine.fanOut") {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val found = poolSites(root)
    assert(found.isEmpty, "thread pools outside Engine.fanOut (fan out " +
      s"through it instead): ${found.mkString(", ")}")
  }

  test("the guard recognizes a planted thread pool") {
    val dir = java.nio.file.Files.createTempDirectory("pool_guard")
    val body = Seq(
      "class Engine {",
      "  def fanOut() = java.util.concurrent.Executors",
      "    .newFixedThreadPool(2)",
      "  def other() = {",
      "    val p = java.util.concurrent.Executors.newCachedThreadPool()",
      "  }",
      "}").mkString("\n").getBytes("UTF-8")
    java.nio.file.Files.write(dir.resolve("Engine.scala"), body)
    // the same fanOut in another file is not the helper
    java.nio.file.Files.write(dir.resolve("Other.scala"), body)
    assert(poolSites(dir) ===
      Seq("Engine.scala:5", "Other.scala:2", "Other.scala:3", "Other.scala:5"))
  }
}
