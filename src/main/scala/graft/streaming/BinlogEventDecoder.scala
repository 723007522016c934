package graft.streaming

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._
import BinlogRowDecoder.ColSpec

/** MySQL binlog EVENT-envelope decode (reference C1: the replica
  * applier consumes the replication stream event-by-event,
  * `/root/reference/binlogreplication/binlog_replica_applier.go:490-737`
  * — TableMap registry, Write/Update/DeleteRows routing, GTID/Rotate
  * bookkeeping) — re-expressed as a pure byte-level decoder over the
  * PUBLIC binlog v4 event format, feeding the engine's delta schema.
  * The cell-level row-image decode is [[BinlogRowDecoder]]; this layer
  * adds the event framing, the per-slot TABLE_MAP registry, and the
  * transaction coordinates. [[FrameLogSource]] serves it one event
  * per frame.
  *
  * Event layout (little-endian; 19-byte common header):
  *  timestamp (4), event type (1), server_id (4), event_size (4),
  *  log_pos (4), flags (2), then the per-type body:
  *  - ROTATE (4): position (8), next binlog file name (rest)
  *  - QUERY (2): thread_id (4), exec_time (4), schema_len (1),
  *    error (2), status_len (2), status vars, schema, 0x00, query
  *  - XID (16): xid (8) — transaction commit marker
  *  - TABLE_MAP (19): table_id (6), flags (2), schema (1+len+0x00),
  *    table (1+len+0x00), column count (lenenc), ... (column types and
  *    metadata follow; the engine decodes against its own declared
  *    [[ColSpec]]s, the same catalog-driven choice the reference makes
  *    by looking the table up in its own schema registry)
  *  - GTID (33): flags (1), source id (16), gno (8)
  *  - WRITE/UPDATE/DELETE_ROWS v2 (30/31/32): table_id (6), flags (2),
  *    extra-data len (2, includes itself), column count (lenenc),
  *    columns-present bitmap(s) — one for WRITE/DELETE, before+after
  *    for UPDATE — then row images back-to-back, each
  *    `[null bitmap][cells]` ([[BinlogRowDecoder.decodeRowAt]])
  *
  * Transaction coordinates map onto the delta schema the way the
  * reference's applier persists GTID state
  * (`binlog_metadata_persistence.go`): `txn_group` = current binlog
  * file (ROTATE), `txn_server` = the GTID source id, `txn_seq` = the
  * GTID gno — or, on a non-GTID upstream, the BEGIN statement's
  * log_pos, monotone within a file — `txn_stmt` = row ordinal within
  * the transaction. TRUNCATE arrives as a QUERY DDL (the reference
  * flushes-then-applies it inline, C9) and emits the table-wide
  * truncate action.
  *
  * Unknown event types are SKIPPED, not errors — a live stream carries
  * heartbeats, format descriptions, and version-specific bookkeeping
  * events that a consumer must tolerate (the opposite contract from
  * pgoutput, whose message set is closed). Frames never carry the
  * 4-byte CRC32 trailer a `binlog_checksum=CRC32` server appends: the
  * live client and [[splitFile]] strip it ([[ChecksumTrailers]])
  * before a frame is logged.
  */
object BinlogEventDecoder {

  // event type codes (public binlog v4)
  private val QueryEvent = 2
  private val RotateEvent = 4
  private val FormatDescriptionEvent = 15
  private val XidEvent = 16
  private val TableMapEvent = 19
  private val WriteRowsV2 = 30
  private val UpdateRowsV2 = 31
  private val DeleteRowsV2 = 32
  private val GtidEvent = 33
  private val PreviousGtidsEvent = 35

  final case class Change(relation: String, action: Int, group: String,
      server: Array[Byte], seq: Long, stmt: Long, values: Seq[Any])
      extends SlotChange {
    def meta: Seq[Any] = Seq(action, null, server, group, seq, stmt)
  }

  /** Statements that autocommit (DDL) or explicitly commit — the Query
    * forms that ARE their own commit marker under a GTID envelope.
    * Deliberately a whitelist: not marking an exotic committing
    * statement only re-streams it (the decoder dedups); marking a
    * non-committing one (SAVEPOINT, XA phases) loses data. Shared by
    * the IO thread's executed-set bookkeeping
    * ([[MySqlBinlogClient]]) and the apply side's poll-window rule
    * ([[FrameLog.endAtMyCommit]]). */
  private val CommitKeywords = Set("COMMIT", "CREATE", "ALTER", "DROP",
    "TRUNCATE", "RENAME", "GRANT", "REVOKE", "ANALYZE", "OPTIMIZE",
    "REPAIR")

  /** Query-event (type 2) text starts with a transaction-ending
    * keyword. Layout after the 19-byte header: thread_id(4)
    * exec_time(4) schema_len(1) error_code(2) status_vars_len(2),
    * status vars, schema, NUL, query text. */
  private[streaming] def queryCommitsTxn(frame: Array[Byte]): Boolean = {
    val b = 19
    if (frame.length < b + 13) return false
    val schemaLen = frame(b + 8) & 0xff
    val statusLen = (frame(b + 11) & 0xff) | ((frame(b + 12) & 0xff) << 8)
    var p = b + 13 + statusLen + schemaLen + 1
    if (p >= frame.length) return false
    while (p < frame.length && Character.isWhitespace(frame(p).toChar)) p += 1
    var e = p
    while (e < frame.length && Character.isLetter(frame(e).toChar)) e += 1
    e > p && CommitKeywords.contains(
      new String(frame, p, e - p, StandardCharsets.UTF_8).toUpperCase)
  }

  /** Serializable snapshot of one slot's decode state — binlog file,
    * GTID coords, the TABLE_MAP registry (table_id → qualified name),
    * and the per-source executed-GTID watermark. What must survive a
    * micro-batch boundary when the connector splits a transaction (or
    * separates a TABLE_MAP from its rows) across batches. */
  final case class SlotSnapshot(group: String, server: Array[Byte],
      seq: Long, stmt: Long, tables: Map[Long, String],
      executed: Map[String, String] = Map.empty)

  object SlotState {
    def restore(snap: SlotSnapshot): SlotState = {
      val st = new SlotState()
      st.group = snap.group
      st.server = snap.server
      st.seq = snap.seq
      st.stmt = snap.stmt
      st.tables = snap.tables
      st.executed = snap.executed
      // skipTxn is DERIVED, not stored: a replayed txn's GTID can end
      // one micro-batch with its rows in the next — the restored state
      // must keep skipping them. In-flight coords at/under the
      // watermark ⇒ the current txn was already committed (a normally
      // in-progress txn is only marked executed at its commit marker,
      // after which no rows arrive before the next GTID resets this).
      st.skipTxn = st.server.nonEmpty && st.seq >= 0 &&
        GtidSet.contains(st.executed.getOrElse(st.sidHex, ""), st.seq)
      st
    }
  }

  /** Decoder state for one slot's serial event stream. `specs` maps
    * qualified table name → declared column layout (the engine's own
    * catalog, like the reference's schema lookup). */
  final class SlotState {
    private[BinlogEventDecoder] var group: String = ""
    private[BinlogEventDecoder] var server: Array[Byte] = Array.empty
    private[BinlogEventDecoder] var seq: Long = -1L
    private[BinlogEventDecoder] var stmt: Long = 0L
    private[BinlogEventDecoder] var tables = Map.empty[Long, String]
    /** gtid_executed analog (the reference persists the same —
      * `binlog_metadata_persistence.go`): per source id, the canonical
      * INTERVAL-SET text of committed gnos ([[GtidSet]]). A GTID inside
      * the set marks its whole transaction already-applied and its rows
      * are skipped — what makes re-ingesting OVERLAPPING binlog segment
      * files (the [[framesFromFiles]] hazard: dumps overlap, reconnects
      * replay) deliver each transaction once. Interval sets, not a
      * high-water gno, because a multi-threaded-replication upstream
      * commits gnos OUT OF ORDER — a high-water mark that saw gno 5
      * would wrongly skip a re-streamed, never-applied gno 3.
      * Marked at the commit marker (XID / GTID-mode DDL), never
      * mid-transaction; bootstrapped by each file's PREVIOUS_GTIDS
      * event. Non-GTID upstreams have no watermark — downstream
      * condense+merge idempotence is the (weaker) guard. */
    private[BinlogEventDecoder] var executed = Map.empty[String, String]
    private[BinlogEventDecoder] var skipTxn = false

    def snapshot: SlotSnapshot =
      SlotSnapshot(group, server, seq, stmt, tables, executed)

    private[BinlogEventDecoder] def sidHex: String =
      server.map(b => f"$b%02x").mkString

    private def uint(d: Array[Byte], p: Int, n: Int): Long =
      LittleEndian.uint(d, p, n)

    /** MySQL length-encoded integer → (value, bytes consumed). */
    private def lenenc(d: Array[Byte], p: Int): (Long, Int) =
      (d(p) & 0xff) match {
        case 0xfc => (uint(d, p + 1, 2), 3)
        case 0xfd => (uint(d, p + 1, 3), 4)
        case 0xfe => (uint(d, p + 1, 8), 9)
        case b => (b.toLong, 1)
      }

    /** Parse one binlog event; emits zero or more [[Change]]s. */
    def onEvent(frame: Array[Byte],
        specs: Map[String, Seq[ColSpec]]): Seq[Change] = {
      require(frame.length >= 19, s"binlog event shorter than header: ${frame.length}")
      val eventType = frame(4) & 0xff
      val logPos = uint(frame, 13, 4)
      val b = 19 // body offset

      eventType match {
        case RotateEvent =>
          group = new String(frame, b + 8, frame.length - b - 8, StandardCharsets.UTF_8)
          Nil
        case FormatDescriptionEvent => Nil
        case GtidEvent =>
          server = java.util.Arrays.copyOfRange(frame, b + 1, b + 17)
          seq = uint(frame, b + 17, 8)
          stmt = 0L
          skipTxn = GtidSet.contains(executed.getOrElse(sidHex, ""), seq)
          Nil
        case XidEvent => // commit marker; coords already assigned
          if (!skipTxn && server.nonEmpty)
            executed += sidHex -> GtidSet.add(executed.getOrElse(sidHex, ""), seq)
          skipTxn = false
          Nil
        case PreviousGtidsEvent =>
          // gtid_executed bootstrap, heading every binlog file (5.6+):
          // n_sids(8), then per sid: sid(16), n_intervals(8), then per
          // interval start(8) + end(8) with end EXCLUSIVE. Unioned, not
          // assigned — this slot may already have processed segments
          // past what the file's header records.
          var p = b
          val nSids = uint(frame, p, 8); p += 8
          var i = 0L
          while (i < nSids) {
            val sid = java.util.Arrays.copyOfRange(frame, p, p + 16)
            val hex = sid.map(x => f"$x%02x").mkString
            p += 16
            val nIv = uint(frame, p, 8); p += 8
            val iv = Vector.newBuilder[(Long, Long)]
            var j = 0L
            while (j < nIv) {
              iv += ((uint(frame, p, 8), uint(frame, p + 8, 8) - 1))
              p += 16; j += 1
            }
            executed += hex -> GtidSet.union(executed.getOrElse(hex, ""), iv.result())
            i += 1
          }
          Nil
        case QueryEvent =>
          val schemaLen = frame(b + 8) & 0xff
          val statusLen = uint(frame, b + 11, 2).toInt
          val schemaPos = b + 13 + statusLen
          val schema = new String(frame, schemaPos, schemaLen, StandardCharsets.UTF_8)
          val q = new String(frame, schemaPos + schemaLen + 1,
            frame.length - (schemaPos + schemaLen + 1), StandardCharsets.UTF_8).trim
          if (q.equalsIgnoreCase("BEGIN")) {
            // non-GTID upstream: the BEGIN's log_pos is the txn order
            // within the current file (GTID, when present, supersedes)
            if (server.isEmpty) { seq = logPos; stmt = 0L }
            Nil
          } else truncateTarget(q, schema) match {
            case Some(rel) if specs.contains(rel) =>
              // DDL autocommits: no BEGIN precedes it, so on a
              // non-GTID upstream it is its own transaction at its
              // own log position (a GTID upstream already sent the
              // GTID event for it)
              if (server.isEmpty) { seq = logPos; stmt = 0L }
              val out = emit(rel, CdcMerge.ActionTruncate,
                Seq.fill[Any](specs(rel).size)(null))
              // the DDL QUERY is its own commit marker (no XID follows)
              if (!skipTxn && server.nonEmpty)
                executed += sidHex -> GtidSet.add(executed.getOrElse(sidHex, ""), seq)
              skipTxn = false
              out
            case _ => Nil // other DDL is a catalog concern, not row data
          }
        case TableMapEvent =>
          val tableId = uint(frame, b, 6)
          var p = b + 8
          val dbLen = frame(p) & 0xff
          val db = new String(frame, p + 1, dbLen, StandardCharsets.UTF_8)
          p += 1 + dbLen + 1
          val tLen = frame(p) & 0xff
          val t = new String(frame, p + 1, tLen, StandardCharsets.UTF_8)
          p += 1 + tLen + 1
          val (ncols, _) = lenenc(frame, p)
          val rel = s"$db.$t"
          specs.get(rel).foreach { sp =>
            require(sp.size == ncols,
              s"$rel: TABLE_MAP declares $ncols columns, engine expects ${sp.size}")
          }
          tables += tableId -> rel
          Nil
        case WriteRowsV2 | UpdateRowsV2 | DeleteRowsV2 if skipTxn =>
          Nil // already-executed txn: skip the row decode entirely
        case WriteRowsV2 | UpdateRowsV2 | DeleteRowsV2 =>
          val tableId = uint(frame, b, 6)
          val rel = tables.getOrElse(tableId, throw new IllegalStateException(
            s"ROWS event for unmapped table id $tableId: the stream slice " +
              "does not carry its TABLE_MAP (start slices at txn boundaries " +
              "or use the stateful decode)"))
          specs.get(rel) match {
            case None => Nil // not a table this consumer decodes
            case Some(sp) =>
              var p = b + 8
              val extraLen = uint(frame, p, 2).toInt
              p += extraLen // includes the 2 length bytes
              val (ncols, lb) = lenenc(frame, p)
              require(ncols == sp.size,
                s"$rel: ROWS event carries $ncols columns, engine expects ${sp.size}")
              p += lb
              val bitmapBytes = ((ncols + 7) / 8).toInt
              def checkAllPresent(at: Int): Unit = {
                var i = 0
                while (i < ncols) {
                  require((frame(at + i / 8) & (1 << (i % 8))) != 0,
                    s"$rel: partial row image (binlog_row_image != FULL) " +
                      s"is not supported — column $i absent")
                  i += 1
                }
              }
              checkAllPresent(p); p += bitmapBytes
              if (eventType == UpdateRowsV2) { checkAllPresent(p); p += bitmapBytes }
              val out = Seq.newBuilder[Change]
              while (p < frame.length) {
                val (before, n1) = BinlogRowDecoder.decodeRowAt(frame, p, sp)
                p += n1
                eventType match {
                  case WriteRowsV2 =>
                    out ++= emit(rel, CdcMerge.ActionInsert, before)
                  case DeleteRowsV2 =>
                    out ++= emit(rel, CdcMerge.ActionDelete, before)
                  case UpdateRowsV2 =>
                    // delete(before) + insert(after): correct whether or
                    // not the PK changed (the reference's update-with-
                    // key-change arm generalized; condense keeps the
                    // later insert for an unchanged key)
                    val (after, n2) = BinlogRowDecoder.decodeRowAt(frame, p, sp)
                    p += n2
                    out ++= emit(rel, CdcMerge.ActionDelete, before)
                    out ++= emit(rel, CdcMerge.ActionInsert, after)
                }
              }
              out.result()
          }
        case _ => Nil // heartbeat / stop / version-specific bookkeeping
      }
    }

    /** `TRUNCATE [TABLE] [db.]name` → qualified target (default db =
      * the QUERY event's schema field). */
    private def emit(rel: String, action: Int, vs: Seq[Any]): Seq[Change] = {
      if (seq < 0) throw new IllegalStateException(
        s"row event for $rel before any GTID/BEGIN: the stream slice does " +
          "not start at a transaction boundary")
      if (skipTxn) return Nil // txn at/under the executed watermark
      stmt += 1
      Seq(Change(rel, action, group,
        if (server.isEmpty) null else server, seq, stmt, vs))
    }
  }

  /** TRUNCATE statement target as `db.table` (C9: the one DDL that is
    * row data). Object-level: shared by the decode state machine and
    * [[windowTables]]' discovery scan. */
  private def truncateTarget(q: String, defaultDb: String): Option[String] = {
    val m = java.util.regex.Pattern.compile(
      "(?i)^TRUNCATE\\s+(?:TABLE\\s+)?(?:[`\"]?([A-Za-z0-9_]+)[`\"]?\\.)?[`\"]?([A-Za-z0-9_]+)[`\"]?\\s*;?\\s*$")
      .matcher(q)
    if (m.matches()) Some(s"${Option(m.group(1)).getOrElse(defaultDb)}.${m.group(2)}")
    else None
  }

  // ------------------------------------------------------------------
  // Whole-file ingestion (the `mysqlbinlog --raw` / log-shipping mode)

  private def uintAt(d: Array[Byte], p: Int, n: Int): Long =
    LittleEndian.uint(d, p, n)

  private def putLe(d: Array[Byte], p: Int, v: Long, n: Int): Unit = {
    var i = 0
    while (i < n) { d(p + i) = ((v >> (8 * i)) & 0xff).toByte; i += 1 }
  }

  /** True when the frame's last 4 bytes are a valid CRC32 of the rest
    * (false-positive odds 2^-32 on a checksum-free event). */
  private def crcValid(frame: Array[Byte]): Boolean = {
    if (frame.length < 23) return false
    val crc = new java.util.zip.CRC32()
    crc.update(frame, 0, frame.length - 4)
    crc.getValue == uintAt(frame, frame.length - 4, 4)
  }

  /** Strips `binlog_checksum=CRC32` trailers from one event sequence —
    * a binlog file, or one replication session — so logged frames never
    * carry them. Each FORMAT_DESCRIPTION decides for the events after
    * it, and two independent signals must agree: (a) its checksum-
    * algorithm byte — from 5.6.1 the last byte before the 4-byte
    * trailer, 1 = CRC32 — and (b) an actual CRC32 match over its bytes.
    * The trailer check alone has 2^-32 false-positive odds on a
    * checksum-free FDE, which would silently cut 4 bytes from every
    * event that follows.
    *
    * Events ahead of the first FDE (a session's fake ROTATE) wait for
    * it, and are then stripped only if their own trailer verifies.
    * After a CRC32 FDE, an event whose trailer fails verification is
    * corrupt and throws. `offer` returns the events that are ready, in
    * order, each with the key it was offered with. */
  final class ChecksumTrailers[K] {
    private var crc: Option[Boolean] = None // None until the first FDE
    private var waiting = Vector.empty[(K, Array[Byte])]

    private def strip(f: Array[Byte]) =
      java.util.Arrays.copyOfRange(f, 0, f.length - 4)

    def offer(key: K, frame: Array[Byte]): Seq[(K, Array[Byte])] =
      if (frame.length > 4 && (frame(4) & 0xff) == FormatDescriptionEvent) {
        val on = frame.length >= 24 && frame(frame.length - 5) == 1 &&
          crcValid(frame)
        crc = Some(on)
        val ahead = waiting.map { case (k, f) =>
          (k, if (on && crcValid(f)) strip(f) else f)
        }
        waiting = Vector.empty
        ahead :+ ((key, if (on) strip(frame) else frame))
      } else crc match {
        case None => waiting :+= ((key, frame)); Nil
        case Some(false) => Seq((key, frame))
        case Some(true) =>
          if (!crcValid(frame)) throw new IllegalStateException(
            s"binlog event type ${frame(4) & 0xff} fails its CRC32 check")
          Seq((key, strip(frame)))
      }

    /** Events still waiting for an FDE, unchanged (none came). */
    def rest: Seq[(K, Array[Byte])] = waiting
  }

  /** Split one binlog v4 FILE image — 4-byte magic `0xfe bin`, then
    * events back-to-back, each declaring its own size in the common
    * header — into (file byte offset, event frame) pairs.
    *
    * `binlog_checksum=CRC32` is detected from the FORMAT_DESCRIPTION
    * every binlog file leads with, and trailers are stripped from the
    * returned frames ([[ChecksumTrailers]]).
    *
    * A torn tail — an event whose declared size overruns the file, as
    * left by a crash mid-write or a copy of a live segment — yields the
    * complete-event prefix, mirroring [[FrameLogSource]]'s torn-frame
    * rule: re-ingesting the finished file picks up the remainder at
    * offsets the connector's checkpoint has not seen. */
  def splitFile(bytes: Array[Byte]): Seq[(Long, Array[Byte])] = {
    require(bytes.length >= 4 && (bytes(0) & 0xff) == 0xfe &&
      bytes(1) == 'b'.toByte && bytes(2) == 'i'.toByte && bytes(3) == 'n'.toByte,
      "not a binlog v4 file (bad magic)")
    val out = Seq.newBuilder[(Long, Array[Byte])]
    val trailers = new ChecksumTrailers[Long]
    var pos = 4
    var done = false
    while (!done && pos + 19 <= bytes.length) {
      val size = uintAt(bytes, pos + 9, 4)
      if (size < 19 || pos + size > bytes.length) done = true // torn tail
      else {
        out ++= trailers.offer(pos.toLong,
          java.util.Arrays.copyOfRange(bytes, pos, pos + size.toInt))
        pos += size.toInt
      }
    }
    (out ++= trailers.rest).result()
  }

  /** One ROTATE frame naming `file`, synthesized at each file's start
    * so `txn_group` is right from the first transaction — a connecting
    * replica hears the same fake ROTATE from the server; a file on
    * disk only names its SUCCESSOR in its tail ROTATE. */
  private def syntheticRotate(file: String): Array[Byte] = {
    val nb = file.getBytes(StandardCharsets.UTF_8)
    val frame = new Array[Byte](19 + 8 + nb.length)
    frame(4) = RotateEvent.toByte
    putLe(frame, 9, frame.length.toLong, 4) // event_size
    putLe(frame, 19, 4L, 8) // position of the first event
    System.arraycopy(nb, 0, frame, 27, nb.length)
    frame
  }

  /** Whole binlog FILES → framelog-shaped `(slot, off, payload)` rows:
    * the ingestion mode for segments dumped by `mysqlbinlog --raw` or
    * shipped from the server's log directory, complementing
    * [[FrameLogSource]]'s live frame tail. Input: rows from Spark's
    * `binaryFile` source (batch `read`, or `readStream` — new segments
    * stream in as they land; pair the streaming form with
    * [[decodeSlotStreamsStateful]], the stateless path's in-partition
    * sort being a batch-only plan).
    *
    * Two slot layouts:
    *  - default (`slot = None`): slot = file name, files decode IN
    *    PARALLEL. Safe for DISJOINT segments: each is self-contained
    *    (leading FORMAT_DESCRIPTION, TABLE_MAPs before rows, rotation
    *    at txn boundaries) and ordering across segments holds because
    *    [[CdcMerge.condense]]'s last-writer-wins key leads with
    *    `txn_group` = the file name, which sorts in binlog sequence.
    *    The executed-GTID watermark is PER SLOT, so it does not span
    *    files here — a dump that re-ships earlier transactions in a
    *    later segment would replay them with a later-sorting group.
    *  - `slot = Some(name)`: every frame lands on that ONE slot with
    *    offsets `(segment number << 40) | byte position` (segment
    *    number = the file name's trailing digits, MySQL's
    *    `binlog.NNNNNN` convention; segments stay under 1 TB). Decode
    *    is serial in segment order, and the shared watermark swallows
    *    transactions a later segment re-ships — use this for
    *    OVERLAPPING dumps / reconnect re-deliveries.
    *
    * CRC32 trailers are stripped per [[splitFile]]. */
  def framesFromFiles(files: DataFrame, pathCol: String = "path",
      contentCol: String = "content", slot: Option[String] = None): DataFrame = {
    val pIdx = files.columns.indexOf(pathCol)
    val cIdx = files.columns.indexOf(contentCol)
    files.mapPartitions { it =>
      it.flatMap { r =>
        val name = r.getString(pIdx).split('/').last
        val frames =
          (0L -> syntheticRotate(name)) +: splitFile(r.getAs[Array[Byte]](cIdx))
        slot match {
          case None => frames.map { case (off, f) => Row(name, off, f) }
          case Some(s) =>
            val digits = name.reverse.takeWhile(_.isDigit).reverse
            require(digits.nonEmpty && digits.length <= 6,
              s"single-slot mode orders segments by the file name's " +
                s"trailing digits (binlog.NNNNNN, <= 6 of them); got '$name'")
            val base = digits.toLong << 40
            frames.map { case (off, f) => Row(s, base | off, f) }
        }
      }
    }(Encoders.row(FrameLog.schema))
  }

  // ------------------------------------------------------------------
  // Spark surface

  /** Decode raw binlog event streams into the flattened delta schema
    * for one target table (`"db.table"` with declared `specs`), ready
    * for [[CdcMerge.condense]] + merge: [[decodeSlotStreamsMulti]] of
    * the one table, flattened. `events` holds one row per event: slot
    * id, monotone offset, raw event bytes — exactly what
    * [[FrameLogSource]] emits. A fresh slice must start at a txn
    * boundary and carry its TABLE_MAPs (the replica re-requests both
    * on reconnect, like the reference's applier). */
  def decodeSlotStreams(events: DataFrame, slotCol: String, offsetCol: String,
      payloadCol: String, targetTable: String, specs: Seq[ColSpec]): DataFrame =
    SlotStreams.flat(decodeSlotStreamsMulti(events, slotCol, offsetCol,
      payloadCol, Seq(targetTable -> specs)))

  /** Streaming variant whose per-slot decode state (TABLE_MAP registry
    * + txn coords) lives in the streaming checkpoint, so a connector
    * may split a transaction — or separate a TABLE_MAP from its rows —
    * across micro-batches. Same contract as
    * [[PgOutputDecoder.decodeSlotStreamsStateful]], incl. the per-slot
    * buffer guard. */
  def decodeSlotStreamsStateful(events: DataFrame, slotCol: String,
      offsetCol: String, payloadCol: String, targetTable: String,
      specs: Seq[ColSpec], maxBufferedBytes: Long = 1L << 30): DataFrame = {
    val schema = StructType(
      BinlogRowDecoder.rowSchema(specs).fields ++ CdcMerge.metaSchema)
    val specMap = Map(targetTable -> specs)
    SlotStreams.statefulDecode(events, slotCol, offsetCol, payloadCol,
      schema, maxBufferedBytes, "maxFramesPerTrigger",
      Encoders.product[SlotSnapshot]) { snap =>
      val st = snap.map(SlotState.restore).getOrElse(new SlotState())
      (frame => st.onEvent(frame, specMap)
        .filter(_.relation == targetTable)
        .map(SlotStreams.flatRow),
        () => st.snapshot)
    }
  }

  /** Driver-side count of full row-decode passes launched (one per
    * [[decodeSlotStreamsMulti]] call) — spec observability ONLY: lets a
    * test assert a 3-table apply window parsed its bytes ONCE (r17
    * verdict #5). Not part of the API. */
  private[graft] val decodePasses =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** DISCOVERY scan: the distinct `db.table` names this event window
    * carries changes for — TABLE_MAP names plus TRUNCATE targets. A
    * header-level parse only (no GTID state, no row decode: ~30 bytes
    * per event), so an applier can learn the window's table set
    * without a spec map, then decode with exactly those specs in one
    * [[decodeSlotStreamsMulti]] pass. Order-insensitive by
    * construction (names are a set), so no shuffle or sort. */
  def windowTables(events: DataFrame, payloadCol: String): Seq[String] = {
    import org.apache.spark.sql.functions.col
    events.select(col(payloadCol)).as(Encoders.BINARY)
      .mapPartitions { it =>
        it.flatMap { frame =>
          if (frame.length < 19) Nil
          else {
            val b = 19
            (frame(4) & 0xff) match {
              case TableMapEvent =>
                var p = b + 8
                val dbLen = frame(p) & 0xff
                val db = new String(frame, p + 1, dbLen, StandardCharsets.UTF_8)
                p += 1 + dbLen + 1
                val tLen = frame(p) & 0xff
                val t = new String(frame, p + 1, tLen, StandardCharsets.UTF_8)
                Seq(s"$db.$t")
              case QueryEvent if frame.length > b + 13 =>
                val schemaLen = frame(b + 8) & 0xff
                val statusLen = uintAt(frame, b + 11, 2).toInt
                val schemaPos = b + 13 + statusLen
                if (schemaPos + schemaLen + 1 >= frame.length) Nil
                else {
                  val schema = new String(frame, schemaPos, schemaLen,
                    StandardCharsets.UTF_8)
                  val q = new String(frame, schemaPos + schemaLen + 1,
                    frame.length - (schemaPos + schemaLen + 1),
                    StandardCharsets.UTF_8).trim
                  truncateTarget(q, schema).toSeq
                }
              case _ => Nil
            }
          }
        }
      }(Encoders.STRING)
      .distinct().collect().toSeq.sorted
  }

  /** SINGLE-PASS multi-table decode (r17 verdict #5): ONE event-parse
    * pass over the window with the FULL spec map, in the tagged schema
    * of [[SlotStreams.decode]] — `relation`, one nullable `__t_<i>`
    * struct per entry of `specsByTable` (in order), then the meta
    * columns. The caller splits per table with a filter + struct
    * projection, so a many-table replica parses the window's bytes
    * once, not once per table. TRUNCATE rows carry an all-null struct
    * for their table. */
  def decodeSlotStreamsMulti(events: DataFrame, slotCol: String,
      offsetCol: String, payloadCol: String,
      specsByTable: Seq[(String, Seq[ColSpec])]): DataFrame = {
    decodePasses.incrementAndGet()
    val specMap = specsByTable.toMap
    val schemas = specsByTable.map { case (t, sp) =>
      t -> BinlogRowDecoder.rowSchema(sp)
    }
    SlotStreams.decode(events, slotCol, offsetCol, payloadCol, schemas) { () =>
      val st = new SlotState()
      frame => st.onEvent(frame, specMap)
    }
  }
}
