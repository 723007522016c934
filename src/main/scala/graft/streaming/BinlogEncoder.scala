package graft.streaming

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

import graft.streaming.BinlogRowDecoder._

/** Publisher-side MySQL binlog v4 event encoder — the local analog of
  * the primary the reference replicates from (its e2e suite runs a
  * real MySQL primary, `binlogreplication/binlog_replication_test.go`;
  * the event formats are MySQL's public replication protocol). The
  * twin of [[PgOutputEncoder]]: it lets a local publication write
  * GTID-framed transactions into a [[FrameLog]] that
  * [[BinlogEventDecoder.decodeSlotStreams]] consumes unchanged, so the
  * whole MySQL-side pipeline (framelog → event decode → row decode →
  * LWW condense → CoW merge) can be driven — and oracle-gated —
  * without a network.
  *
  * Events use the v4 header (19 bytes, no CRC32 trailer — the form
  * every logged frame has) and the
  * byte-for-byte layouts the decoder parses: TABLE_MAP with a
  * length-encoded column count, WRITE/UPDATE/DELETE_ROWS v2 with the
  * 2-byte inclusive extra-data length, full columns-present bitmaps,
  * and LSB-first null bitmaps per row image.
  */
object BinlogEncoder {

  private def le(n: Long, bytes: Int): Array[Byte] =
    (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray

  /** big-endian — the temporal TIME2/DATETIME2/TIMESTAMP2 layouts. */
  private def be(n: Long, bytes: Int): Array[Byte] =
    (0 until bytes).reverseIterator
      .map(i => ((n >> (8 * i)) & 0xff).toByte).toArray

  private def cat(parts: Seq[Array[Byte]]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    parts.foreach(out.write)
    out.toByteArray
  }

  /** v4 event: ts(4) type(1) server_id(4) event_len(4) log_pos(4)
    * flags(2) + body. */
  def event(tpe: Int, body: Array[Byte], serverId: Long = 1L): Array[Byte] =
    cat(Seq(le(0L, 4), Array(tpe.toByte), le(serverId, 4),
      le(19L + body.length, 4), le(0L, 4), le(0L, 2), body))

  /** FORMAT_DESCRIPTION (type 15): binlog v4, no checksum byte set. */
  def fde(): Array[Byte] =
    event(15, cat(Seq(le(4L, 2), Array.fill(50)(0.toByte), le(0L, 4),
      Array(19.toByte), Array.fill(39)(0.toByte))))

  /** GTID (type 33): flags(1) sid(16) gno(8). */
  def gtid(sid: Array[Byte], gno: Long): Array[Byte] = {
    require(sid.length == 16, "GTID sid is 16 bytes")
    event(33, cat(Seq(Array(0.toByte), sid, le(gno, 8))))
  }

  /** XID commit marker (type 16). */
  def xid(id: Long): Array[Byte] = event(16, le(id, 8))

  /** TABLE_MAP (type 19). Column-type bytes are advisory on this
    * decode path (the engine decodes rows with its declared ColSpecs);
    * LONGLONG with empty metadata keeps the frame well-formed. */
  def tableMap(tableId: Long, db: String, table: String,
      ncols: Int): Array[Byte] = {
    val d = db.getBytes(StandardCharsets.UTF_8)
    val t = table.getBytes(StandardCharsets.UTF_8)
    require(ncols < 251, "length-encoded column count kept to one byte")
    event(19, cat(Seq(le(tableId, 6), le(1L, 2),
      Array(d.length.toByte), d, Array(0.toByte),
      Array(t.length.toByte), t, Array(0.toByte),
      Array(ncols.toByte), Array.fill(ncols)(8.toByte), Array(0.toByte),
      Array.fill((ncols + 7) / 8)(0.toByte))))
  }

  /** One cell in binlog row-image encoding (the exact inverse of
    * [[BinlogRowDecoder.decodeCell]] for the supported types). */
  private def cell(tpe: BinlogType, v: Any): Array[Byte] = (tpe, v) match {
    case (Int64, x: Long) => le(x, 8)
    case (Int64, x: Int) => le(x.toLong, 8)
    case (Int32, x: Int) => le(x.toLong & 0xffffffffL, 4)
    case (Int32, x: Long) => le(x & 0xffffffffL, 4)
    case (ShortInt, x: Short) => le(x.toLong & 0xffffL, 2)
    case (TinyInt, x: Byte) => Array(x)
    case (Int24, x: Int) => le(x.toLong & 0xffffffL, 3)
    // unsigned tiers: natural wire widths (the decoder's exact inverse)
    case (UTinyInt, x: Short) => Array((x & 0xff).toByte)
    case (UTinyInt, x: Int) => Array((x & 0xff).toByte)
    case (USmallInt, x: Int) => le(x.toLong & 0xffffL, 2)
    case (UInt24, x: Int) => le(x.toLong & 0xffffffL, 3)
    case (UInt32, x: Long) => le(x & 0xffffffffL, 4)
    case (UInt32, x: Int) => le(x.toLong & 0xffffffffL, 4)
    case (UInt64, x: java.math.BigDecimal) =>
      le(x.toBigInteger.longValue(), 8)
    case (UInt64, x: BigDecimal) => le(x.toBigInt.longValue, 8)
    case (UInt64, x: Long) => le(x, 8)
    case (Float64, x: Double) =>
      le(java.lang.Double.doubleToLongBits(x), 8)
    case (Varchar(maxLen, cs), s: String) =>
      val b = s.getBytes(BinlogRowDecoder.charsetFor(cs))
      // the prefix width is decided by maxLen in CHARS but measures
      // BYTES — a multibyte string can exceed the 1-byte prefix while
      // honoring maxLen; a wrapped length would silently desync every
      // later cell in the row, so refuse loudly
      if (maxLen > 255) {
        require(b.length <= 0xffff,
          s"Varchar cell is ${b.length} bytes; 2-byte length prefix caps at 65535")
        cat(Seq(le(b.length.toLong, 2), b))
      } else {
        require(b.length <= 0xff,
          s"Varchar($maxLen) cell is ${b.length} BYTES (multibyte?); " +
            "declare the column Varchar(>255) for a 2-byte length prefix")
        cat(Seq(Array(b.length.toByte), b))
      }
    // temporal layouts (even fsp — odd fsp's half-byte packing is a
    // decode-only concern; fixtures declare even precisions)
    case (DateTime2(fsp), d: java.time.LocalDateTime) =>
      require(fsp % 2 == 0, s"BinlogEncoder: even DATETIME fsp only, got $fsp")
      val ymd = (d.getYear * 13L + d.getMonthValue) * 32L + d.getDayOfMonth
      val hms = (d.getHour.toLong << 12) | (d.getMinute << 6) | d.getSecond
      val frBytes = (fsp + 1) / 2
      val scale = math.pow(10, 6 - fsp).toLong
      val fr = (d.getNano / 1000L) / scale
      // the 0x8000000000 bias rides the 5-byte big-endian packed value
      cat(Seq(be(((ymd << 17) | hms) + 0x8000000000L, 5)) ++
        (if (frBytes > 0) Seq(be(fr, frBytes)) else Nil))
    case (Timestamp2(fsp), t: java.sql.Timestamp) =>
      require(fsp % 2 == 0, s"BinlogEncoder: even TIMESTAMP fsp only, got $fsp")
      val i = t.toInstant
      // TIMESTAMP's wire range is 4 unsigned epoch-second bytes —
      // refuse loudly instead of silently wrapping 136 years
      require(i.getEpochSecond >= 0 && i.getEpochSecond <= 0xffffffffL,
        s"TIMESTAMP out of the 1970..2106 wire range: $t")
      val frBytes = (fsp + 1) / 2
      val fr = (i.getNano / 1000L) / math.pow(10, 6 - fsp).toLong
      cat(Seq(be(i.getEpochSecond, 4)) ++
        (if (frBytes > 0) Seq(be(fr, frBytes)) else Nil))
    case (Time2(fsp), us0: Long) =>
      require(fsp % 2 == 0, s"BinlogEncoder: even TIME fsp only, got $fsp")
      val frBytes = (fsp + 1) / 2
      val scale = math.pow(10, 6 - fsp).toLong
      val neg = us0 < 0
      val us = math.abs(us0)
      val secs = us / 1000000L
      val fr = (us % 1000000L) / scale
      require(frBytes > 0 || us % 1000000L == 0,
        "TIME(0) cell carries sub-second precision")
      val packed = ((secs / 3600) << 12) | (((secs / 60) % 60) << 6) |
        (secs % 60)
      // negatives store the complement in packed-integer space; a
      // nonzero fraction borrows one packed unit — the decoder's exact
      // inverse, so the round trip is identity by construction
      if (!neg)
        cat(Seq(be(0x800000L + packed, 3)) ++
          (if (frBytes > 0) Seq(be(fr, frBytes)) else Nil))
      else if (fr == 0)
        cat(Seq(be(0x800000L - packed, 3)) ++
          (if (frBytes > 0) Seq(be(0L, frBytes)) else Nil))
      else
        cat(Seq(be(0x800000L - packed - 1, 3),
          be((1L << (8 * frBytes)) - fr, frBytes)))
    case (Text(lenBytes, cs), s: String) =>
      // the decoder's own charset table — encode must be its inverse
      val b = s.getBytes(BinlogRowDecoder.charsetFor(cs))
      require(lenBytes >= 4 || b.length < (1 << (8 * lenBytes)),
        s"Text($lenBytes) cell of ${b.length} bytes overflows its prefix")
      cat(Seq(le(b.length.toLong, lenBytes), b))
    case (Blob(lenBytes), b: Array[Byte]) =>
      require(lenBytes >= 4 || b.length < (1 << (8 * lenBytes)),
        s"Blob($lenBytes) cell of ${b.length} bytes overflows its prefix")
      cat(Seq(le(b.length.toLong, lenBytes), b))
    case (t, x) => throw new IllegalArgumentException(
      s"BinlogEncoder: unsupported cell $t <- ${Option(x).map(_.getClass)}")
  }

  /** One row image: LSB-first null bitmap + non-null cells in column
    * order. */
  def rowImage(specs: Seq[ColSpec], values: Seq[Any]): Array[Byte] = {
    require(values.size == specs.size,
      s"row carries ${values.size} values for ${specs.size} columns")
    val bitmap = Array.fill((specs.size + 7) / 8)(0.toByte)
    values.zipWithIndex.foreach { case (v, i) =>
      if (v == null)
        bitmap(i / 8) = (bitmap(i / 8) | (1 << (i % 8))).toByte
    }
    cat(bitmap +: values.zipWithIndex.collect {
      case (v, i) if v != null => cell(specs(i).tpe, v)
    })
  }

  private def rowsEvent(tpe: Int, tableId: Long, specs: Seq[ColSpec],
      images: Seq[Array[Byte]], twoBitmaps: Boolean): Array[Byte] = {
    // same one-byte length-encoded-int bound tableMap enforces: 251+
    // columns would silently emit a malformed event and desync decode
    require(specs.size < 251, "length-encoded column count kept to one byte")
    val bm = Array.fill((specs.size + 7) / 8)(0xff.toByte)
    val bitmaps = if (twoBitmaps) Seq(bm, bm) else Seq(bm)
    event(tpe, cat(Seq(le(tableId, 6), le(1L, 2), le(2L, 2),
      Array(specs.size.toByte)) ++ bitmaps ++ images))
  }

  def writeRows(tableId: Long, specs: Seq[ColSpec],
      rows: Seq[Seq[Any]]): Array[Byte] =
    rowsEvent(30, tableId, specs, rows.map(rowImage(specs, _)),
      twoBitmaps = false)

  def deleteRows(tableId: Long, specs: Seq[ColSpec],
      keyImages: Seq[Seq[Any]]): Array[Byte] =
    rowsEvent(32, tableId, specs, keyImages.map(rowImage(specs, _)),
      twoBitmaps = false)

  /** UPDATE_ROWS v2: (before, after) image pairs. */
  def updateRows(tableId: Long, specs: Seq[ColSpec],
      pairs: Seq[(Seq[Any], Seq[Any])]): Array[Byte] =
    rowsEvent(31, tableId, specs, pairs.flatMap { case (b, a) =>
      Seq(rowImage(specs, b), rowImage(specs, a))
    }, twoBitmaps = true)

  /** One change inside [[txn]] — delta actions ([[CdcMerge]]): insert
    * and delete carry one image (deletes may null non-key columns);
    * update carries (before, after). */
  sealed trait Change
  final case class Ins(values: Seq[Any]) extends Change
  final case class Del(key: Seq[Any]) extends Change
  final case class Upd(before: Seq[Any], after: Seq[Any]) extends Change

  /** Encode one whole GTID-framed transaction over ONE table as
    * framelog-ready `(off, frame)` pairs: GTID, TABLE_MAP (re-emitted
    * per txn so any suffix starting at a txn boundary decodes, like
    * [[PgOutputEncoder.txn]]), one ROWS event per change run, XID.
    * Offsets are distinct and monotone from `off0`; returns the frames
    * plus the next free offset. */
  def txn(off0: Long, sid: Array[Byte], gno: Long, tableId: Long,
      db: String, table: String, specs: Seq[ColSpec],
      changes: Seq[Change]): (Seq[(Long, Array[Byte])], Long) = {
    var off = off0
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    def add(frame: Array[Byte]): Unit = { out += ((off, frame)); off += 1 }
    add(gtid(sid, gno))
    add(tableMap(tableId, db, table, specs.size))
    changes.foreach {
      case Ins(v) => add(writeRows(tableId, specs, Seq(v)))
      case Del(k) => add(deleteRows(tableId, specs, Seq(k)))
      case Upd(b, a) => add(updateRows(tableId, specs, Seq((b, a))))
    }
    add(xid(gno))
    (out.toSeq, off)
  }
}
