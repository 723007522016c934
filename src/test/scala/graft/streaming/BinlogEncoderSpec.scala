package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.BinlogRowDecoder._

/** BinlogEncoder ↔ BinlogRowDecoder round-trips: the encoder's cell /
  * null-bitmap / rows-event layouts must be the exact inverse of the
  * decoder the whole pipeline (and q117's oracle gate) relies on. */
class BinlogEncoderSpec extends AnyFunSuite {

  private val specs = Seq(ColSpec("id", Int64), ColSpec("v", Varchar(64)),
    ColSpec("n", Int32), ColSpec("d", Float64))

  test("row image round-trips values, nulls, and wide varchars") {
    val row = Seq(42L, "héllo\tworld", -7, 2.5)
    assert(BinlogRowDecoder.decodeRow(
      BinlogEncoder.rowImage(specs, row), specs) === row)
    val withNulls = Seq(9L, null, null, -0.0)
    assert(BinlogRowDecoder.decodeRow(
      BinlogEncoder.rowImage(specs, withNulls), specs) === withNulls)
    // a >255-byte Varchar(300) string forces the 2-byte length prefix
    val wide = Seq(ColSpec("s", Varchar(300)))
    val long = "x" * 260
    assert(BinlogRowDecoder.decodeRow(
      BinlogEncoder.rowImage(wide, Seq(long)), wide) === Seq(long))
  }

  test("a GTID-framed txn decodes to the delta actions in order") {
    val (frames, next) = BinlogEncoder.txn(5L,
      (1 to 16).map(_.toByte).toArray, 77L, 9L, "db1", "t", specs,
      Seq(BinlogEncoder.Ins(Seq(1L, "a", 1, 0.5)),
        BinlogEncoder.Upd(Seq(1L, "a", 1, 0.5), Seq(1L, "a2", 2, 0.5)),
        BinlogEncoder.Del(Seq(1L, null, null, null))))
    assert(next === 5L + frames.size)
    assert(frames.map(_._1) === (5L until 5L + frames.size)) // monotone
    val st = new BinlogEventDecoder.SlotState()
    val changes = frames.flatMap { case (_, f) =>
      st.onEvent(f, Map("db1.t" -> specs))
    }
    // Upd emits Delete(before) + Insert(after)
    assert(changes.map(_.action) ===
      Seq(CdcMerge.ActionInsert, CdcMerge.ActionDelete,
        CdcMerge.ActionInsert, CdcMerge.ActionDelete))
    assert(changes(2).values.take(3) === Seq(1L, "a2", 2))
    assert(changes.forall(_.relation == "db1.t"))
  }
}
