package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Little-endian integer reads shared by the byte-level CDC decoders
  * (one definition instead of a copy per decoder). */
private[streaming] object LittleEndian {
  def uint(d: Array[Byte], p: Int, n: Int): Long = {
    var v = 0L; var i = n - 1
    while (i >= 0) { v = (v << 8) | (d(p + i) & 0xffL); i -= 1 }
    v
  }
}

/** One decoded change as the delta schema sees it: its relation, its
  * data values (all null for a truncate) and the six meta values in
  * [[CdcMerge.metaSchema]] order. */
private[streaming] trait SlotChange {
  def relation: String
  def values: Seq[Any]
  def meta: Seq[Any]
}

/** The per-slot serial-decode scaffolding both CDC decoders share: a
  * replication slot is a serial stream, so decode state (in-stream
  * registries, transaction coordinates) keys by slot and frames replay
  * in offset order. [[PgOutputDecoder]] and [[BinlogEventDecoder]]
  * build their batch decodes on [[decode]] and their checkpointed
  * variants on [[statefulDecode]]; the buffer-guard semantics live
  * here once.
  */
private[streaming] object SlotStreams {

  /** Tagged batch decode: shuffle on the slot, walk each slot's frames
    * in offset order within its partition, one decoder per slot built
    * by `newSlot`. Output: `relation` STRING, then one nullable
    * `__t_<i>` struct per entry of `relations` (in order), then the
    * meta columns; exactly one struct is non-null per row. Changes for
    * relations outside `relations` are dropped here, before any
    * shuffle leaves the decode stage. The in-partition sort makes this
    * a batch-only plan; streams use [[statefulDecode]]. */
  def decode(events: DataFrame, slotCol: String, offsetCol: String,
      payloadCol: String, relations: Seq[(String, StructType)])(
      newSlot: () => Array[Byte] => Seq[SlotChange]): DataFrame = {
    val relIdx = relations.map(_._1).zipWithIndex.toMap
    val n = relations.size
    val schema = StructType(StructField("relation", StringType) +:
      (relations.zipWithIndex.map { case ((_, st), i) =>
        StructField(s"__t_$i", st)
      } ++ CdcMerge.metaSchema))
    val slotIdx = events.columns.indexOf(slotCol)
    val payloadIdx = events.columns.indexOf(payloadCol)
    events
      .repartition(col(slotCol))
      .sortWithinPartitions(col(slotCol), col(offsetCol))
      .mapPartitions { it =>
        val slots = scala.collection.mutable.Map
          .empty[Any, Array[Byte] => Seq[SlotChange]]
        it.flatMap { r =>
          slots.getOrElseUpdate(r.get(slotIdx), newSlot())(
            r.getAs[Array[Byte]](payloadIdx)).flatMap { c =>
            relIdx.get(c.relation).map { i =>
              val structs = new Array[Any](n)
              structs(i) = Row.fromSeq(c.values)
              Row.fromSeq(c.relation +: (structs.toSeq ++ c.meta))
            }
          }
        }
      }(Encoders.row(schema))
  }

  /** A one-relation [[decode]] flattened to the relation's data
    * columns plus the meta columns. */
  def flat(tagged: DataFrame): DataFrame =
    tagged.select(col("__t_0.*") +: CdcMerge.metaCols.map(col): _*)

  /** `values ++ meta`: a change as one flat delta row. */
  def flatRow(c: SlotChange): Row = Row.fromSeq(c.values ++ c.meta)

  /** Checkpointed per-slot decode: `flatMapGroupsWithState` keyed by
    * slot id (null-safe via `String.valueOf`), one micro-batch's
    * frames buffered and sorted by `offsetCol` under a
    * `maxBufferedBytes` fail-fast guard (an unthrottled first batch
    * after an outage must error with a throttle hint, not OOM the
    * executor mid-sort), decode state snapshotted into the streaming
    * checkpoint after each batch.
    *
    * `init` receives the restored snapshot (None on a fresh slot) and
    * returns the per-frame decode function plus the snapshot thunk
    * invoked after the batch's frames are consumed. Works identically
    * on a batch frame (state spans the single "batch").
    */
  def statefulDecode[S](events: DataFrame, slotCol: String,
      offsetCol: String, payloadCol: String, outSchema: StructType,
      maxBufferedBytes: Long, throttleHint: String,
      stateEnc: Encoder[S])(
      init: Option[S] => (Array[Byte] => Seq[Row], () => S)): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val slotIdx = events.columns.indexOf(slotCol)
    val offsetIdx = events.columns.indexOf(offsetCol)
    val payloadIdx = events.columns.indexOf(payloadCol)
    events
      // String.valueOf: a null slot id must key the "null" group, not
      // NPE the decode task
      .groupByKey(r => String.valueOf(r.get(slotIdx)))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (slot: String, rows: Iterator[Row],
            state: org.apache.spark.sql.streaming.GroupState[S]) =>
          val (onFrame, snapshot) = init(state.getOption)
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          var bufBytes = 0L
          rows.foreach { r =>
            bufBytes += r.getAs[Array[Byte]](payloadIdx).length + 32L
            if (bufBytes > maxBufferedBytes) throw new IllegalStateException(
              s"slot $slot: micro-batch exceeds maxBufferedBytes=" +
                s"$maxBufferedBytes while buffering for the offset sort — " +
                s"throttle the source (e.g. $throttleHint) or raise the cap")
            buf += r
          }
          // materialize BEFORE state.update: the output iterator is
          // consumed after this function returns
          val out = buf.sortBy(_.getLong(offsetIdx)).iterator
            .flatMap(r => onFrame(r.getAs[Array[Byte]](payloadIdx)))
            .toVector
          state.update(snapshot())
          out.iterator
      }(stateEnc, Encoders.row(outSchema))
  }
}
