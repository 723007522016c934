package graft

import org.scalatest.funsuite.AnyFunSuite
import SqlTextGuardSpec.matchingLines

/** Keeps the CDC apply written once: the slot scaffold (shuffle on the
  * slot, sort by offset) lives only in `SlotStreams`, no checksum knob
  * reaches the decoders (the frame log never holds CRC32 trailers),
  * and `Engine` merges a decoded window from a single place. */
class CdcApplyGuardSpec extends AnyFunSuite {
  private val SlotScaffold = """sortWithinPartitions|repartition\(""".r
  private val ChecksumKnob = """crc32Checksum""".r
  private val ApplyBatch = """CdcMerge\.applyBatch\(""".r

  private def mainSource(rel: String): java.nio.file.Path = {
    val f = java.nio.file.Paths.get("src", "main", "scala", "graft", rel)
    assert(java.nio.file.Files.isRegularFile(f), s"run from the repo root: $f")
    f
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src", "main")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val st = java.nio.file.Files.walk(root)
    try st.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally st.close()
  }

  test("the decoders leave the slot scaffold to SlotStreams") {
    val found = Seq("BinlogEventDecoder.scala", "PgOutputDecoder.scala")
      .flatMap(f => matchingLines(mainSource(s"streaming/$f"), SlotScaffold))
    assert(found.isEmpty, "per-slot shuffle/sort written in a decoder " +
      s"(build on SlotStreams.decode): ${found.mkString(", ")}")
  }

  test("no crc32Checksum knob under src/main") {
    val found = mainSources.flatMap(matchingLines(_, ChecksumKnob))
    assert(found.isEmpty, "frames are stored without CRC32 trailers " +
      s"(strip with ChecksumTrailers): ${found.mkString(", ")}")
  }

  test("Engine merges a decoded window from one place") {
    val found = matchingLines(mainSource("Engine.scala"), ApplyBatch)
    assert(found.size <= 1, "more than one CdcMerge.applyBatch call in " +
      s"Engine (route the window through applyWindow): ${found.mkString(", ")}")
  }

  test("the CDC guards recognize what they forbid") {
    val f = java.nio.file.Files.createTempFile("cdc_guard", ".scala")
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, Seq(
      "object D {",
      "  def f(e: DataFrame) = e.repartition(col(\"slot\"))",
      "    .sortWithinPartitions(col(\"slot\"), col(\"off\"))",
      "  def g(crc32Checksum: Boolean) = ()",
      "  def h(t: GraftTable, d: DataFrame) = CdcMerge.applyBatch(t, d)",
      "  def i(t: GraftTable, d: DataFrame) = CdcMerge.applyBatch(t, d)",
      "  def j(d: DataFrame) = d.repartitionByRange(col(\"k\"))",
      "}").mkString("\n").getBytes("UTF-8"))
    val n = f.getFileName
    assert(matchingLines(f, SlotScaffold) === Seq(s"$n:2", s"$n:3"))
    assert(matchingLines(f, ChecksumKnob) === Seq(s"$n:4"))
    assert(matchingLines(f, ApplyBatch) === Seq(s"$n:5", s"$n:6"))
  }
}
