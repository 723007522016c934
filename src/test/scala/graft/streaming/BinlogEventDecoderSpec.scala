package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.storage.GraftTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import BinlogRowDecoder.{ColSpec, Int64, Varchar}

/** Golden-bytes binlog event decode (reference C1,
  * `/root/reference/binlogreplication/binlog_replica_applier.go:490-737`):
  * events are built byte-for-byte to the public binlog v4 layout by an
  * independent encoder below, decoded by [[BinlogEventDecoder]], and
  * driven end-to-end through the framelog source + condense + merge. */
class BinlogEventDecoderSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------
  // independent event encoder (the spec's source of truth)

  private def le(n: Long, bytes: Int): Array[Byte] =
    (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray

  private def bytes(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  private def event(tpe: Int, logPos: Long, body: Array[Byte]): Array[Byte] =
    bytes(le(0L, 4), Array(tpe.toByte), le(1L, 4),
      le(19L + body.length, 4), le(logPos, 4), le(0L, 2), body)

  private def rotate(file: String): Array[Byte] =
    event(4, 0L, bytes(le(4L, 8), file.getBytes(StandardCharsets.UTF_8)))

  private val sid: Array[Byte] = (1 to 16).map(_.toByte).toArray
  private def gtid(gno: Long): Array[Byte] =
    event(33, 0L, bytes(Array(0.toByte), sid, le(gno, 8)))

  private def query(schema: String, q: String, logPos: Long = 0L,
      statusVars: Array[Byte] = Array.empty): Array[Byte] = {
    val s = schema.getBytes(StandardCharsets.UTF_8)
    event(2, logPos, bytes(le(7L, 4), le(0L, 4), Array(s.length.toByte),
      le(0L, 2), le(statusVars.length.toLong, 2), statusVars,
      s, Array(0.toByte), q.getBytes(StandardCharsets.UTF_8)))
  }

  private def xid(): Array[Byte] = event(16, 0L, le(99L, 8))

  private def tableMap(tableId: Long, db: String, table: String,
      ncols: Int): Array[Byte] = {
    val d = db.getBytes(StandardCharsets.UTF_8)
    val t = table.getBytes(StandardCharsets.UTF_8)
    // column types/metadata follow in the real event; the decoder
    // stops at the column count (catalog-driven cell decode), so the
    // trailing bytes here are representative filler
    event(19, 0L, bytes(le(tableId, 6), le(1L, 2),
      Array(d.length.toByte), d, Array(0.toByte),
      Array(t.length.toByte), t, Array(0.toByte),
      Array(ncols.toByte),
      Array.fill(ncols)(8.toByte), Array(0.toByte),
      Array.fill((ncols + 7) / 8)(0.toByte)))
  }

  /** Row image: [null bitmap][cells] — pk Int64 + val Varchar(40). */
  private def rowImg(pk: Option[Long], v: Option[String]): Array[Byte] = {
    val nullBits = (if (pk.isEmpty) 1 else 0) | (if (v.isEmpty) 2 else 0)
    bytes(Array(nullBits.toByte),
      pk.map(le(_, 8)).getOrElse(Array.empty),
      v.map { s =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        bytes(Array(b.length.toByte), b) // 1-byte len (maxLen <= 255)
      }.getOrElse(Array.empty))
  }

  private def rowsEvent(tpe: Int, tableId: Long, ncols: Int,
      images: Array[Byte]*): Array[Byte] = {
    val bitmaps = if (tpe == 31) 2 else 1
    event(tpe, 0L, bytes(
      (Seq(le(tableId, 6), le(1L, 2), le(2L, 2), // extra-len includes itself
        Array(ncols.toByte)) ++
        Seq.fill(bitmaps)(Array.fill((ncols + 7) / 8)(0xff.toByte)) ++
        images): _*))
  }

  private def writeRows(tid: Long, imgs: Array[Byte]*): Array[Byte] =
    rowsEvent(30, tid, 2, imgs: _*)
  private def updateRows(tid: Long, pairs: Array[Byte]*): Array[Byte] =
    rowsEvent(31, tid, 2, pairs: _*)
  private def deleteRows(tid: Long, imgs: Array[Byte]*): Array[Byte] =
    rowsEvent(32, tid, 2, imgs: _*)

  // ------------------------------------------------------------------

  private val specs = Seq(ColSpec("pk", Int64), ColSpec("val", Varchar(40)))
  private val Tid = 7L

  private def decode(msgs: Seq[Array[Byte]], slot: String = "s1"): DataFrame = {
    val df = msgs.zipWithIndex.map { case (m, i) => (slot, i.toLong, m) }
      .toDF("slot", "off", "payload")
    BinlogEventDecoder.decodeSlotStreams(df, "slot", "off", "payload",
      "db1.t", specs)
  }

  test("insert/update/delete with GTID txn coords") {
    val out = decode(Seq(
      rotate("binlog.000003"),
      gtid(100L), query("db1", "BEGIN"),
      tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(2L), None)),
      xid(),
      gtid(101L), query("db1", "BEGIN"),
      tableMap(Tid, "db1", "t", 2),
      updateRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(1L), Some("a2"))),
      deleteRows(Tid, rowImg(Some(2L), None)),
      xid()))
      .select("pk", "val", "action", "txn_group", "txn_seq", "txn_stmt")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getLong(4), r.getLong(5))).sortBy(t => (t._5, t._6))
    assert(out === Array(
      (1L, "a", CdcMerge.ActionInsert, "binlog.000003", 100L, 1L),
      (2L, null, CdcMerge.ActionInsert, "binlog.000003", 100L, 2L),
      (1L, "a", CdcMerge.ActionDelete, "binlog.000003", 101L, 1L),
      (1L, "a2", CdcMerge.ActionInsert, "binlog.000003", 101L, 2L),
      (2L, null, CdcMerge.ActionDelete, "binlog.000003", 101L, 3L)))
  }

  test("txn_server carries the GTID source id") {
    val out = decode(Seq(gtid(5L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("x")))))
      .select("txn_server").collect()
    assert(out.head.getAs[Array[Byte]](0).toSeq === sid.toSeq)
  }

  test("non-GTID upstream: BEGIN's log_pos orders transactions") {
    val out = decode(Seq(
      rotate("binlog.000001"),
      query("db1", "BEGIN", logPos = 500L),
      tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid(),
      query("db1", "BEGIN", logPos = 900L),
      tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid()))
      .select("pk", "txn_seq", "txn_server").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.get(2))).sortBy(_._1)
    assert(out === Array((1L, 500L, null), (2L, 900L, null)))
  }

  test("TRUNCATE TABLE DDL emits the table-wide action") {
    val out = decode(Seq(gtid(9L),
      query("db1", "TRUNCATE TABLE `t`"),
      query("db1", "TRUNCATE other_db.x"))) // unmapped: dropped
      .select("action", "txn_seq").collect()
    assert(out === Array(Row(CdcMerge.ActionTruncate, 9L)))
  }

  test("non-GTID TRUNCATE (autocommitted DDL, no BEGIN) is its own txn") {
    // MySQL writes DDL with no BEGIN wrapper: a segment whose first
    // data-relevant event is a TRUNCATE must not trip the
    // txn-boundary guard, and its seq is its own log position
    val out = decode(Seq(
      rotate("binlog.000005"),
      query("db1", "TRUNCATE TABLE t", logPos = 700L),
      query("db1", "BEGIN", logPos = 900L),
      tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid()))
      .select("action", "txn_seq").collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._2)
    assert(out === Array((CdcMerge.ActionTruncate, 700L),
      (CdcMerge.ActionInsert, 900L)))
  }

  test("events for other tables and unknown event types are skipped") {
    val heartbeat = event(27, 0L, Array[Byte](1, 2, 3))
    val out = decode(Seq(gtid(1L), heartbeat,
      tableMap(Tid, "db1", "t", 2),
      tableMap(8L, "db1", "other", 2),
      writeRows(8L, rowImg(Some(5L), Some("z"))),
      writeRows(Tid, rowImg(Some(1L), Some("a")))))
    assert(out.count() === 1L)
  }

  test("a rows event before its TABLE_MAP fails with a boundary hint") {
    val err = intercept[org.apache.spark.SparkException](
      decode(Seq(gtid(1L), writeRows(Tid, rowImg(Some(1L), Some("a"))))).collect())
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).map(x => x +: causes(x.getCause)).getOrElse(Nil)
    assert(causes(err).exists(c =>
      Option(c.getMessage).exists(_.contains("TABLE_MAP"))))
  }

  // ------------------------------------------------------------------
  // whole-file ingestion (splitFile / framesFromFiles)

  /** Patch the header's event_size to cover the trailer, then append a
    * REAL CRC32 — splitFile verifies the checksum, not just a length. */
  private def withCrc(e: Array[Byte]): Array[Byte] = {
    val sized = e.clone()
    val total = e.length + 4
    for (i <- 0 until 4) sized(9 + i) = ((total >> (8 * i)) & 0xff).toByte
    val crc = new java.util.zip.CRC32(); crc.update(sized, 0, sized.length)
    bytes(sized, le(crc.getValue, 4))
  }

  /** `alg` >= 0 appends the 5.6.1+ checksum-algorithm byte (1 = CRC32,
    * 0 = none) as the last body byte; -1 models a pre-5.6.1 FDE. */
  private def fde(alg: Int = -1): Array[Byte] =
    event(15, 0L, bytes(le(4L, 2), Array.fill(50)(0.toByte), le(0L, 4),
      Array(19.toByte), Array.fill(39)(0.toByte),
      if (alg >= 0) Array(alg.toByte) else Array.empty[Byte]))

  private val magic = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)

  test("splitFile: CRC32 trailers are detected via the FDE and stripped") {
    val evs = Seq(fde(1), gtid(7L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(4L), Some("d"))), xid())
    val file = bytes((magic +: evs.map(withCrc)): _*)
    val frames = BinlogEventDecoder.splitFile(file)
    assert(frames.size === evs.size)
    // offsets are the events' byte positions in the file
    assert(frames.head._1 === 4L)
    assert(frames.map(_._1) === frames.map(_._1).sorted)
    // trailers stripped: the frames decode as they are
    val out = decode(frames.map(_._2))
      .select("pk", "val", "txn_seq").collect()
    assert(out === Array(Row(4L, "d", 7L)))
  }

  test("splitFile: a checksum-free file passes frames through unchanged") {
    val evs = Seq(fde(), gtid(1L))
    val file = bytes((magic +: evs): _*)
    assert(BinlogEventDecoder.splitFile(file).map(_._2.toSeq) ===
      evs.map(_.toSeq))
  }

  test("splitFile: a CRC-colliding trailer alone does not strip (alg byte must agree)") {
    // adversarial 2^-32 case: the FDE's declared alg byte says "no
    // checksum" (0) yet its last 4 bytes happen to CRC-match — the
    // single-signal r6 detector would truncate every event in the file
    val f = withCrc(fde(0)) // CRC-valid trailer, alg byte = none
    val file = bytes(magic, f, gtid(1L))
    val frames = BinlogEventDecoder.splitFile(file)
    assert(frames.map(_._2.toSeq) === Seq(f.toSeq, gtid(1L).toSeq))
  }

  test("splitFile: torn tail yields the complete-event prefix") {
    val whole = Seq(fde(), gtid(1L), tableMap(Tid, "db1", "t", 2))
    val torn = writeRows(Tid, rowImg(Some(1L), Some("a"))).dropRight(3)
    val file = bytes((magic +: whole) :+ torn: _*)
    assert(BinlogEventDecoder.splitFile(file).size === whole.size)
  }

  test("splitFile rejects a non-binlog file") {
    val err = intercept[IllegalArgumentException](
      BinlogEventDecoder.splitFile("PAR1whatever".getBytes))
    assert(err.getMessage.contains("magic"))
  }

  test("framesFromFiles: parallel per-segment decode, LWW across files") {
    val dir = tmpDir("binlog_segments")
    // two self-contained segments, non-GTID (BEGIN log_pos = txn_seq):
    // the SECOND file's transaction has a SMALLER log_pos — only the
    // txn_group (file name) keeps last-writer-wins ordering right
    val seg1 = bytes((magic +: Seq(fde(1), query("db1", "BEGIN", logPos = 900L),
      tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(2L), Some("b"))),
      xid()).map(withCrc)): _*)
    val seg2 = bytes((magic +: Seq(fde(), query("db1", "BEGIN", logPos = 100L),
      tableMap(Tid, "db1", "t", 2),
      updateRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(1L), Some("z"))),
      xid())): _*) // second segment checksum-free: detection is per-file
    java.nio.file.Files.write(dir.resolve("binlog.000001"), seg1)
    java.nio.file.Files.write(dir.resolve("binlog.000002"), seg2)
    val frames = BinlogEventDecoder.framesFromFiles(
      spark.read.format("binaryFile").load(dir.toString))
    val changes = BinlogEventDecoder.decodeSlotStreams(
      frames, "slot", "off", "payload", "db1.t", specs)
    assert(changes.select("txn_group").distinct().collect().map(_.getString(0))
      .sorted === Array("binlog.000001", "binlog.000002"))
    val last = CdcMerge.condense(changes, Seq("pk"))
      .filter(col("action") =!= CdcMerge.ActionDelete)
      .select("pk", "val").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    assert(last === Array((1L, "z"), (2L, "b")))
  }

  test("executed-GTID watermark: an overlapping re-stream delivers nothing") {
    // segment 2 re-ships txns 100 and 101 (dump overlap) before the
    // new txn 102 — the watermark in the slot's serial state must
    // swallow the replays and deliver 102 once
    val out = decode(Seq(
      gtid(100L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid(),
      gtid(101L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid(),
      // overlap replay
      gtid(100L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid(),
      gtid(101L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid(),
      // genuinely new
      gtid(102L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(3L), Some("c"))), xid()))
      .select("pk", "txn_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(out === Array((1L, 100L), (2L, 101L), (3L, 102L)))
  }

  test("executed watermark survives the checkpoint snapshot") {
    val st = new BinlogEventDecoder.SlotState()
    val sp = Map("db1.t" -> specs)
    Seq(gtid(7L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid())
      .foreach(st.onEvent(_, sp))
    val resumed = BinlogEventDecoder.SlotState.restore(st.snapshot)
    val replay = Seq(gtid(7L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid())
      .flatMap(resumed.onEvent(_, sp))
    assert(replay.isEmpty)
    val fresh = Seq(gtid(8L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(9L), Some("z"))), xid())
      .flatMap(resumed.onEvent(_, sp))
    assert(fresh.map(_.seq) === Seq(8L))
  }

  test("a replayed txn split across the snapshot boundary stays skipped") {
    val sp = Map("db1.t" -> specs)
    val st = new BinlogEventDecoder.SlotState()
    Seq(gtid(7L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid())
      .foreach(st.onEvent(_, sp))
    // replay of txn 7 begins; the micro-batch ends AFTER its GTID —
    // the next batch restores from the snapshot and must keep skipping
    st.onEvent(gtid(7L), sp)
    val resumed = BinlogEventDecoder.SlotState.restore(st.snapshot)
    val rows = Seq(tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid())
      .flatMap(resumed.onEvent(_, sp))
    assert(rows.isEmpty)
    // the guard is txn-scoped: the NEXT gno decodes normally
    val next = Seq(gtid(8L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid())
      .flatMap(resumed.onEvent(_, sp))
    assert(next.map(_.seq) === Seq(8L))
  }

  private def gtidFrom(src: Array[Byte], gno: Long): Array[Byte] =
    event(33, 0L, bytes(Array(0.toByte), src, le(gno, 8)))

  /** PREVIOUS_GTIDS (35): n_sids(8), then per sid: sid(16),
    * n_intervals(8), then start(8) + end(8) with end EXCLUSIVE. */
  private def previousGtids(sets: (Array[Byte], Seq[(Long, Long)])*): Array[Byte] =
    event(35, 0L, bytes((le(sets.size.toLong, 8) +: sets.flatMap {
      case (src, ivs) =>
        bytes(src, le(ivs.size.toLong, 8)) +:
          ivs.map { case (a, bEx) => bytes(le(a, 8), le(bEx, 8)) }
    }): _*))

  test("MTS out-of-order commits: a high-water mark would wrongly skip") {
    // a logical-clock parallel applier commits gno 5 BEFORE gno 3; the
    // re-streamed overlap then ships 3 (never applied) and 5 (applied).
    // The interval set {5} lets 3 through once and swallows 5.
    val out = decode(Seq(
      gtid(5L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(5L), Some("e"))), xid(),
      gtid(3L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(3L), Some("c"))), xid(),
      gtid(5L), tableMap(Tid, "db1", "t", 2), // replay of the applied txn
      writeRows(Tid, rowImg(Some(5L), Some("e"))), xid(),
      gtid(3L), tableMap(Tid, "db1", "t", 2), // replay of the now-applied txn
      writeRows(Tid, rowImg(Some(3L), Some("c"))), xid()))
      .select("pk", "txn_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._2)
    assert(out === Array((3L, 3L), (5L, 5L))) // each exactly once
  }

  test("two sources keep independent executed interval sets") {
    val s2: Array[Byte] = (101 to 116).map(_.toByte).toArray
    val out = decode(Seq(
      gtidFrom(sid, 10L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid(),
      gtidFrom(s2, 5L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid(),
      // s2's gno 5 replays: skipped; s1's gno 9 never applied: delivered
      // (under a shared or high-water scheme either could go wrong)
      gtidFrom(s2, 5L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid(),
      gtidFrom(sid, 9L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(3L), Some("c"))), xid()))
      .select("pk", "txn_seq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out === Array((1L, 10L), (2L, 5L), (3L, 9L)))
  }

  test("PREVIOUS_GTIDS bootstraps the executed set (gtid_executed header)") {
    // the file header says sid has executed 1-3 (exclusive end 4):
    // txn 2 is a replay, txn 4 is new
    val out = decode(Seq(
      previousGtids(sid -> Seq((1L, 4L))),
      gtid(2L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("stale"))), xid(),
      gtid(4L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(2L), Some("new"))), xid()))
      .select("pk", "val", "txn_seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out === Array((2L, "new", 4L)))
  }

  test("single-slot segment mode: an overlapping later file replays nothing") {
    val dir = tmpDir("binlog_overlap_segments")
    def seg(evs: Seq[Array[Byte]]): Array[Byte] = bytes((magic +: evs): _*)
    def txn(gno: Long, pk: Long, v: String): Seq[Array[Byte]] =
      Seq(gtid(gno), tableMap(Tid, "db1", "t", 2),
        writeRows(Tid, rowImg(Some(pk), Some(v))), xid())
    // segment 2 re-ships txn 100 (with a STALE value) before new txn 102
    java.nio.file.Files.write(dir.resolve("binlog.000001"),
      seg(fde() +: (txn(100L, 1L, "fresh") ++ txn(101L, 2L, "b"))))
    java.nio.file.Files.write(dir.resolve("binlog.000002"),
      seg(fde() +: (txn(100L, 1L, "stale-replay") ++ txn(102L, 3L, "c"))))
    val frames = BinlogEventDecoder.framesFromFiles(
      spark.read.format("binaryFile").load(dir.toString), slot = Some("m"))
    assert(frames.select("slot").distinct().collect().map(_.getString(0))
      === Array("m"))
    val out = BinlogEventDecoder.decodeSlotStreams(
      frames, "slot", "off", "payload", "db1.t", specs)
      .select("pk", "val", "txn_seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._3)
    assert(out === Array((1L, "fresh", 100L), (2L, "b", 101L),
      (3L, "c", 102L)))
  }

  test("binaryFile readStream: segments landing mid-stream merge in order") {
    val dir = tmpDir("binlog_stream_segments")
    val ckpt = tmpDir("binlog_stream_ckpt")
    val table = GraftTable.create(spark, tmpDir("binlog_stream_tbl"),
      StructType(Seq(StructField("pk", LongType), StructField("val", StringType))),
      Seq("pk"))
    def seg(evs: Seq[Array[Byte]]): Array[Byte] =
      bytes((magic +: evs.map(withCrc)): _*)
    def run(): Unit = {
      val q = spark.readStream.format("binaryFile")
        .schema(StructType(Seq( // binaryFile's fixed schema, streaming form
          StructField("path", StringType), StructField("modificationTime", TimestampType),
          StructField("length", LongType), StructField("content", BinaryType))))
        .load(dir.toString)
        .transform(BinlogEventDecoder.framesFromFiles(_))
        .transform(BinlogEventDecoder.decodeSlotStreamsStateful(
          _, "slot", "off", "payload", "db1.t", specs))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          CdcMerge.applyBatch(table,
            batch.withColumn("action", col("action").cast("int")))
        }.start()
      q.awaitTermination()
    }
    java.nio.file.Files.write(dir.resolve("binlog.000001"), seg(Seq(
      fde(1), gtid(1L), tableMap(Tid, "db1", "t", 2),
      writeRows(Tid, rowImg(Some(1L), Some("a"))), xid())))
    run()
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a")))
    java.nio.file.Files.write(dir.resolve("binlog.000002"), seg(Seq(
      fde(1), gtid(2L), tableMap(Tid, "db1", "t", 2),
      updateRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(1L), Some("a2"))),
      writeRows(Tid, rowImg(Some(2L), Some("b"))), xid())))
    run() // restart: checkpoint skips segment 1, picks up segment 2
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a2"), (2L, "b")))
  }

  test("framelog → stateful binlog decode → merge, restart mid-transaction") {
    val dir = tmpDir("binlog_framelog")
    val ckpt = tmpDir("binlog_framelog_ckpt")
    val table = GraftTable.create(spark, tmpDir("binlog_framelog_tbl"),
      StructType(Seq(StructField("pk", LongType), StructField("val", StringType))),
      Seq("pk"))
    def run(): Unit = {
      val q = spark.readStream.format("framelog")
        .option("maxFramesPerTrigger", "2")
        .load(dir.toString)
        .transform(BinlogEventDecoder.decodeSlotStreamsStateful(
          _, "slot", "off", "payload", "db1.t", specs))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          CdcMerge.applyBatch(table,
            batch.withColumn("action", col("action").cast("int")))
        }.start()
      q.awaitTermination()
    }
    // TABLE_MAP and rows land in different micro-batches; txn 1 spans
    // the first run's end — its rows arrive after the restart
    FrameLog.append(dir, "s1", Seq(
      0L -> rotate("binlog.000001"),
      1L -> gtid(100L),
      2L -> tableMap(Tid, "db1", "t", 2),
      3L -> writeRows(Tid, rowImg(Some(1L), Some("a")))))
    run()
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a")))
    FrameLog.append(dir, "s1", Seq( // same txn continues: NO re-sends
      4L -> writeRows(Tid, rowImg(Some(2L), Some("b"))),
      5L -> xid(),
      6L -> gtid(101L),
      7L -> updateRows(Tid, rowImg(Some(1L), Some("a")), rowImg(Some(1L), Some("a9"))),
      8L -> xid()))
    run()
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a9"), (2L, "b")))
  }
}
