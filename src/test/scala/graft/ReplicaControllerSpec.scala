package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

/** The MySQL replica-controller statement surface (reference
  * `binlogreplication/binlog_replica_controller.go:94-360` and its e2e
  * `binlog_replication_test.go`): CHANGE REPLICATION SOURCE TO /
  * CHANGE REPLICATION FILTER / START / STOP / RESET REPLICA / SHOW
  * REPLICA STATUS, with the reference's exact error/warning texts. */
class ReplicaControllerSpec extends SparkSpec {

  private def exec(e: Engine, q: String) = SqlRouter.execute(e, q)

  test("replica controller: configure, errors, status, reset") {
    val e = new Engine(spark, tmpDir("replctl"))
    // never configured: START errors, SHOW returns the empty set —
    // carrying the FULL status column list (MySQL does; tools index
    // columns before checking rows)
    val ex0 = intercept[Exception](exec(e, "START REPLICA"))
    assert(ex0.getMessage.contains(
      "server is not configured as a replication replica"))
    val empty = exec(e, "SHOW REPLICA STATUS").df.get
    assert(empty.collect().isEmpty &&
      empty.columns.contains("Replica_IO_Running") &&
      empty.columns.contains("Executed_Gtid_Set"))

    // incomplete configuration errors as early as possible (ref
    // binlog_replication_test.go:357-362)
    exec(e, "CHANGE REPLICATION SOURCE TO SOURCE_PORT=1234, " +
      "SOURCE_HOST='localhost'")
    val ex1 = intercept[Exception](exec(e, "START REPLICA"))
    assert(ex1.getMessage.contains("Invalid (empty) username"))

    // GTID auto-positioning is the only mode (ref :364-368)
    val ex2 = intercept[Exception](exec(e,
      "CHANGE REPLICATION SOURCE TO SOURCE_AUTO_POSITION=0"))
    assert(ex2.getMessage.contains("SOURCE_AUTO_POSITION cannot be disabled"))
    intercept[Exception](exec(e,
      "CHANGE REPLICATION SOURCE TO SOURCE_LOG_FILE='binlog.000001'"))
    // a typoed option refuses loudly rather than dropping silently
    intercept[Exception](exec(e,
      "CHANGE REPLICATION SOURCE TO SOURCE_PASWORD='oops'"))

    // legacy MASTER spelling, long hostname (ref TestShowReplicaStatus)
    val longHost = "really." * 12 + "com"
    exec(e, s"CHANGE MASTER TO MASTER_HOST='$longHost', " +
      "MASTER_USER='replicator'")
    val st = exec(e, "SHOW REPLICA STATUS").df.get.collect()(0)
    val cols = exec(e, "SHOW REPLICA STATUS").df.get.columns
    def col(n: String) = st.getString(cols.indexOf(n))
    assert(col("Source_Host") === longHost)
    assert(col("Source_User") === "replicator")
    assert(col("Source_Port") === "1234") // earlier option persists
    assert(col("Replica_IO_Running") === "No" &&
      col("Replica_SQL_Running") === "No")

    // filters persist, surface, and ENFORCE (the SQL-thread-side
    // filter point, reference binlog_replica_filtering.go). MySQL
    // semantics: a filter type NOT named keeps its previous value —
    // setting them in SEPARATE statements must not wipe each other.
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_IGNORE_TABLE=(db1.t2)")
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_DO_TABLE=(db1.t1, db1.t2)")
    assert(e.replicaFilters === (Seq("db1.t1", "db1.t2"), Seq("db1.t2")),
      "an unlisted filter type must keep its previous value")
    // a NAMED empty list clears exactly that type
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_IGNORE_TABLE=()")
    assert(e.replicaFilters === (Seq("db1.t1", "db1.t2"), Seq()))
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_IGNORE_TABLE=(db1.t2)")
    import spark.implicits._
    val ev = Seq(("db1", "t1", 1), ("db1", "t2", 2), ("db1", "t3", 3),
      ("db2", "t1", 4)).toDF("db", "tbl", "v")
    assert(e.filterReplicaTables(ev, "db", "tbl")
      .select("v").as[Int].collect().toSeq === Seq(1),
      "DO-list admits, IGNORE-list wins over DO, everything else drops")

    // malformed / ssl / public-key option handling
    val exM = intercept[Exception](exec(e,
      "CHANGE REPLICATION SOURCE TO SOURCE_AUTO_POSITION"))
    assert(exM.getMessage.contains("malformed"))
    exec(e, "CHANGE REPLICATION SOURCE TO GET_MASTER_PUBLIC_KEY=1, " +
      "SOURCE_SSL=1")
    assert(e.replicaConfig("source.public_key") === "1" &&
      e.replicaConfig("source.ssl") === "1")

    // STOP when stopped: warning 3084, not an error
    e.clearWarnings()
    exec(e, "STOP REPLICA")
    assert(e.warnings.exists(w => w._2 == 3084 &&
      w._3.contains("already stopped")))

    // RESET REPLICA ALL drops the configuration
    exec(e, "RESET REPLICA ALL")
    assert(exec(e, "SHOW REPLICA STATUS").df.get.collect().isEmpty)
  }

  test("applyReplicaLog: txn-boundary windows, filters, checkpoint") {
    import graft.streaming.{BinlogEncoder => BE, BinlogRowDecoder => BRD,
      FrameLog}
    val e = new Engine(spark, tmpDir("replapply"))
    exec(e, "CREATE TABLE t1 (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e, "INSERT INTO t1 VALUES (1, 'a'), (2, 'b')")
    val specs = BRD.specsFor(e.table("t1").schema)
    val dir = e.warehouse.resolve("_replica")
    java.nio.file.Files.createDirectories(dir)
    val sid = (1 to 16).map(_.toByte).toArray
    val (t1, o1) = BE.txn(1L, sid, 1L, 5L, "main", "t1", specs,
      Seq(BE.Ins(Seq(3L, "c")), BE.Upd(Seq(2L, "b"), Seq(2L, "b2"))))
    val (t2, _) = BE.txn(o1, sid, 2L, 5L, "main", "t1", specs,
      Seq(BE.Del(Seq(1L, null))))
    // complete txn 1 + a COMMIT-LESS txn 2: the window must stop at
    // the XID boundary — applying a torn txn would both show partial
    // state and wedge the next poll on a GTID-less suffix
    FrameLog.append(dir, "replica",
      Seq((0L, BE.fde())) ++ t1 ++ t2.dropRight(1))
    val (n1, jobs1) = countJobs(e.applyReplicaLog(Seq("main.t1")))
    assert(n1 === t1.size + 1L)
    // a single-table window pays no persist + count (6 jobs measured
    // before the apply was shared with subscriptions)
    assert(jobs1 <= 6, s"single-table replica window ran $jobs1 jobs")
    import spark.implicits._
    assert(exec(e, "SELECT id, v FROM t1 ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    // nothing new at a boundary: poll is a no-op
    assert(e.applyReplicaLog(Seq("main.t1")) === 0L)
    // the XID lands: exactly the held-back txn applies (O(new bytes))
    FrameLog.append(dir, "replica", t2.takeRight(1))
    assert(e.applyReplicaLog(Seq("main.t1")) === t2.size.toLong)
    assert(exec(e, "SELECT id FROM t1 ORDER BY id").df.get
      .as[Long].collect().toSeq === Seq(2L, 3L))
    // REPLICATE_IGNORE_TABLE drops the table from the apply (C10) but
    // the checkpoint still advances past the consumed window
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_IGNORE_TABLE=(main.t1)")
    val (t3, _) = BE.txn(100L, sid, 3L, 5L, "main", "t1", specs,
      Seq(BE.Ins(Seq(9L, "ignored"))))
    FrameLog.append(dir, "replica", t3)
    assert(e.applyReplicaLog(Seq("main.t1")) === t3.size.toLong)
    assert(exec(e, "SELECT count(*) FROM t1 WHERE id = 9").df.get
      .as[Long].head() === 0L)
  }

  test("applyReplicaLog: wire-faithful types (unsigned tiers, fsp, TEXT, TIME)") {
    // review r17: (a) unsigned columns ride the wire at their NATURAL
    // widths (the widened Spark type must not pick the spec), (b) the
    // router's CREATE TABLE must RECORD TypeMapper metadata so
    // specsFor sees DATETIME(6)'s fsp and MEDIUMTEXT's prefix width,
    // (c) TIME decodes MICROSECONDS while interval casts speak
    // seconds — applyReplicaLog's alignment divides first
    import graft.streaming.{BinlogEncoder => BE, BinlogRowDecoder => BRD,
      FrameLog}
    import BRD._
    val e = new Engine(spark, tmpDir("replapply_ty"))
    exec(e, "CREATE TABLE ty (id BIGINT NOT NULL, u1 TINYINT UNSIGNED, " +
      "u2 SMALLINT UNSIGNED, u4 INT UNSIGNED, u8 BIGINT UNSIGNED, " +
      "dt DATETIME(6), body MEDIUMTEXT, tm TIME, PRIMARY KEY (id))")
    val specs = BRD.specsFor(e.table("ty").schema)
    assert(specs.map(_.tpe) === Seq(Int64, UTinyInt, USmallInt, UInt32,
      UInt64, DateTime2(6), Text(3), Time2(0)),
      s"specs drifted: ${specs.map(_.tpe)}")
    // VARCHAR prefix width follows BYTE capacity (utf8mb4: chars × 4):
    // VARCHAR(50) → 200 bytes (1-byte prefix), VARCHAR(64) → 256 (2)
    exec(e, "CREATE TABLE vty (id BIGINT NOT NULL, a VARCHAR(50), " +
      "b VARCHAR(64), PRIMARY KEY (id))")
    assert(BRD.specsFor(e.table("vty").schema).map(_.tpe) ===
      Seq(Int64, Varchar(200), Varchar(256)))
    val dir = e.warehouse.resolve("_replica")
    java.nio.file.Files.createDirectories(dir)
    val sid = (1 to 16).map(_.toByte).toArray
    val dt = java.time.LocalDateTime.parse("2024-03-05T06:07:08.123456")
    val (t1, _) = BE.txn(1L, sid, 1L, 5L, "main", "ty", specs,
      Seq(BE.Ins(Seq(1L, 255.toShort, 65535, 4294967295L,
        new java.math.BigDecimal("18446744073709551615"), dt,
        "x" * 300, 3600000000L)),
        BE.Ins(Seq(2L, 0.toShort, 0, 0L,
          new java.math.BigDecimal(0), dt.withNano(0),
          "", -3600000000L))))
    FrameLog.append(dir, "replica", t1)
    assert(e.applyReplicaLog(Seq("main.ty")) === t1.size.toLong)
    val rows = exec(e, "SELECT CAST(u1 AS BIGINT), CAST(u2 AS BIGINT), " +
      "CAST(u4 AS BIGINT), CAST(u8 AS STRING), CAST(dt AS STRING), " +
      "length(body), CAST(tm AS BIGINT) FROM ty ORDER BY id").df.get
      .collect()
    assert(rows(0).getLong(0) === 255L)
    assert(rows(0).getLong(1) === 65535L)
    assert(rows(0).getLong(2) === 4294967295L)
    assert(rows(0).getString(3) === "18446744073709551615")
    assert(rows(0).getString(4) === "2024-03-05 06:07:08.123456")
    assert(rows(0).getInt(5) === 300)
    assert(rows(0).getLong(6) === 3600L,
      "TIME must land as 1 hour, not 41,666 days (µs read as seconds)")
    assert(rows(1).getLong(6) === -3600L, "negative TIME round-trips")
    assert(rows(1).getString(3) === "0")
  }

  test("endAtMyCommit: XID and committing-QUERY boundaries") {
    import graft.streaming.{BinlogEncoder => BE, FrameLog}
    val fl = tmpDir("myclcut")
    val sid = (1 to 16).map(_.toByte).toArray
    // GTID + TABLE_MAP but no XID: not a cut
    FrameLog.append(fl, "r", Seq((1L, BE.gtid(sid, 1L)),
      (2L, BE.tableMap(7L, "main", "t", 2))))
    assert(FrameLog.endAtMyCommit(fl, "r", 0L) === ((0L, None)))
    FrameLog.append(fl, "r", Seq((3L, BE.xid(1L))))
    val (cut1, off1) = FrameLog.endAtMyCommit(fl, "r", 0L)
    assert(off1 === Some(3L) && cut1 > 0L, "XID is a txn boundary")
    // a committing QUERY (GTID-mode DDL) is its own boundary; BEGIN is
    // not (shared whitelist with the IO thread's executed bookkeeping)
    def query(text: String): Array[Byte] = {
      val t = text.getBytes("UTF-8")
      BE.event(2, (Seq(0, 0, 0, 0, 0, 0, 0, 0) ++ // thread id + exec time
        Seq(0) ++ Seq(0, 0) ++ Seq(0, 0)).map(_.toByte).toArray ++
        Array(0.toByte) ++ t) // empty schema NUL + text
    }
    FrameLog.append(fl, "r", Seq((4L, BE.gtid(sid, 2L)),
      (5L, query("BEGIN"))))
    assert(FrameLog.endAtMyCommit(fl, "r", 0L)._2 === Some(3L),
      "BEGIN must not cut")
    FrameLog.append(fl, "r", Seq((6L, query("TRUNCATE TABLE main.t"))))
    assert(FrameLog.endAtMyCommit(fl, "r", 0L)._2 === Some(6L),
      "a committing DDL QUERY closes its transaction")
  }

  test("applyReplicaLog: ONE decode pass + window discovery for multi-table windows") {
    // r17 verdict #5: the apply side used to re-parse the whole frame
    // window once PER replicated table; it must parse the bytes ONCE
    // (decodeSlotStreamsMulti) and split per table. r17 verdict #2's
    // discovery arm: an EMPTY table list learns the table set from the
    // window's TABLE_MAP/TRUNCATE headers, restricted to tables that
    // exist locally and pass the REPLICATE_* filters.
    import graft.streaming.{BinlogEncoder => BE, BinlogEventDecoder,
      BinlogRowDecoder => BRD, FrameLog}
    val e = new Engine(spark, tmpDir("replmulti"))
    Seq("ta", "tb", "tc").foreach(t => exec(e,
      s"CREATE TABLE $t (id BIGINT NOT NULL, v STRING, PRIMARY KEY (id))"))
    exec(e, "INSERT INTO ta VALUES (1, 'a')")
    val dir = e.warehouse.resolve("_replica")
    java.nio.file.Files.createDirectories(dir)
    val sid = (1 to 16).map(_.toByte).toArray
    def specsOf(t: String) = BRD.specsFor(e.table(t).schema)
    val (x1, o1) = BE.txn(1L, sid, 1L, 5L, "main", "ta", specsOf("ta"),
      Seq(BE.Upd(Seq(1L, "a"), Seq(1L, "a2")), BE.Ins(Seq(2L, "b"))))
    val (x2, o2) = BE.txn(o1, sid, 2L, 6L, "main", "tb", specsOf("tb"),
      Seq(BE.Ins(Seq(10L, "x"))))
    // tz doesn't exist locally; tc is present but filtered out below
    val (x3, o3) = BE.txn(o2, sid, 3L, 7L, "main", "tz", specsOf("tb"),
      Seq(BE.Ins(Seq(99L, "zz"))))
    val (x4, _) = BE.txn(o3, sid, 4L, 8L, "main", "tc", specsOf("tc"),
      Seq(BE.Ins(Seq(50L, "c"))))
    FrameLog.append(dir, "replica",
      Seq((0L, BE.fde())) ++ x1 ++ x2 ++ x3 ++ x4)
    exec(e, "CHANGE REPLICATION FILTER REPLICATE_IGNORE_TABLE=(main.tc)")
    val passes0 = BinlogEventDecoder.decodePasses.get()
    val (applied, jobs) = countJobs(e.applyReplicaLog(Nil)) // discovery arm
    assert(jobs <= 13, s"3-table replica window ran $jobs jobs (13 measured " +
      "before the apply was shared with subscriptions)")
    assert(applied === 1L + x1.size + x2.size + x3.size + x4.size)
    assert(BinlogEventDecoder.decodePasses.get() - passes0 === 1L,
      "a multi-table window must be row-decoded in ONE pass")
    import spark.implicits._
    assert(exec(e, "SELECT id, v FROM ta ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq === Seq((1L, "a2"), (2L, "b")))
    assert(exec(e, "SELECT id, v FROM tb ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq === Seq((10L, "x")))
    assert(exec(e, "SELECT count(*) FROM tc").df.get.as[Long].head() === 0L,
      "REPLICATE_IGNORE_TABLE must drop a discovered table from the apply")
    // checkpoint advanced window-wide: a re-poll is a no-op
    assert(e.applyReplicaLog(Nil) === 0L)
  }

  test("read-your-writes: a SELECT drains the running replica's pending window") {
    // r17 verdict #2 (reference backend/executor.go:55-61 flushes
    // pending CDC before ANY data query): with the IO daemon RUNNING,
    // a plain SELECT — no explicit applyReplicaLog — must see the
    // streamed transaction once the client's time-bounded flush lands
    // it in the framelog.
    import graft.streaming.{BinlogEncoder => BE, BinlogRowDecoder => BRD}
    val e = new Engine(spark, tmpDir("replryw"))
    exec(e, "CREATE TABLE rt (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(e, "INSERT INTO rt VALUES (1, 'seed')")
    val specs = BRD.specsFor(e.table("rt").schema)
    val sid = (1 to 16).map(_.toByte).toArray
    val (t1, _) = BE.txn(1L, sid, 1L, 5L, "main", "rt", specs,
      Seq(BE.Ins(Seq(2L, "streamed"))))
    val stream = Seq(BE.fde()) ++ t1.map(_._2)

    def le(n: Long, bytes: Int): Array[Byte] =
      (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); parts.foreach(o.write)
      o.toByteArray
    }
    def writePacket(out: DataOutputStream, seq: Int, p: Array[Byte]): Unit = {
      out.writeByte(p.length & 0xff); out.writeByte((p.length >> 8) & 0xff)
      out.writeByte((p.length >> 16) & 0xff); out.writeByte(seq & 0xff)
      out.write(p); out.flush()
    }
    def readPacket(in: DataInputStream): Array[Byte] = {
      val h = new Array[Byte](4); in.readFully(h)
      val len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
      val b = new Array[Byte](len); in.readFully(b); b
    }
    val scramble = (21 to 40).map(_.toByte).toArray
    val handshake = cat(Array(10.toByte),
      "8.0.0-fake".getBytes(StandardCharsets.UTF_8), Array(0.toByte),
      le(7L, 4), scramble.take(8), Array(0.toByte), le(0xffffL, 2),
      Array(33.toByte), le(2L, 2), le(0x0008L, 2), Array(21.toByte),
      Array.fill(10)(0.toByte), scramble.drop(8), Array(0.toByte),
      "mysql_native_password".getBytes(StandardCharsets.UTF_8),
      Array(0.toByte))
    val ok = Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00)
    val server = new ServerSocket(0)
    val primary = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        writePacket(out, 0, handshake)
        readPacket(in); writePacket(out, 2, ok)
        readPacket(in); writePacket(out, 1, ok)
        readPacket(in); writePacket(out, 1, ok)
        readPacket(in) // COM_BINLOG_DUMP_GTID
        stream.zipWithIndex.foreach { case (ev, i) =>
          writePacket(out, i + 1, cat(Array(0.toByte), ev))
        }
        Thread.sleep(30000) // hold until STOP REPLICA
      } catch { case _: Throwable => () }
    }, "ryw-scripted-primary")
    primary.setDaemon(true)
    primary.start()

    exec(e, s"CHANGE REPLICATION SOURCE TO SOURCE_HOST='127.0.0.1', " +
      s"SOURCE_PORT=${server.getLocalPort}, SOURCE_USER='repl', " +
      "SOURCE_PASSWORD='x', SOURCE_CONNECT_RETRY=1")
    exec(e, "START REPLICA")
    try {
      import spark.implicits._
      // NO explicit applyReplicaLog / REFRESH anywhere below: the SQL
      // entry's drain is the only apply path. Poll-with-deadline: the
      // client's flush is time-bounded (~200 ms behind the commit).
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      def visible(): Seq[(Long, String)] =
        exec(e, "SELECT id, v FROM rt ORDER BY id").df.get
          .as[(Long, String)].collect().toSeq
      var got = visible()
      while (got.size < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100); got = visible()
      }
      assert(got === Seq((1L, "seed"), (2L, "streamed")),
        s"SELECT never saw the streamed txn without an explicit apply: $got")
    } finally {
      exec(e, "STOP REPLICA")
      server.close()
    }
  }

  test("replica controller: live scripted source, start/stop lifecycle") {
    // a minimal scripted primary: handshake -> accept auth -> accept
    // COM_BINLOG_DUMP_GTID -> stream FDE + one GTID/XID txn -> hold
    def le(n: Long, bytes: Int): Array[Byte] =
      (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); parts.foreach(o.write)
      o.toByteArray
    }
    def event(tpe: Int, body: Array[Byte]): Array[Byte] =
      cat(le(0L, 4), Array(tpe.toByte), le(1L, 4),
        le(19L + body.length, 4), le(0L, 4), le(0L, 2), body)
    def writePacket(out: DataOutputStream, seq: Int, p: Array[Byte]): Unit = {
      out.writeByte(p.length & 0xff); out.writeByte((p.length >> 8) & 0xff)
      out.writeByte((p.length >> 16) & 0xff); out.writeByte(seq & 0xff)
      out.write(p); out.flush()
    }
    def readPacket(in: DataInputStream): Array[Byte] = {
      val h = new Array[Byte](4); in.readFully(h)
      val len = (h(0) & 0xff) | ((h(1) & 0xff) << 8) | ((h(2) & 0xff) << 16)
      val b = new Array[Byte](len); in.readFully(b); b
    }
    val scramble = (21 to 40).map(_.toByte).toArray
    val handshake = cat(Array(10.toByte),
      "8.0.0-fake".getBytes(StandardCharsets.UTF_8), Array(0.toByte),
      le(7L, 4), scramble.take(8), Array(0.toByte), le(0xffffL, 2),
      Array(33.toByte), le(2L, 2), le(0x0008L, 2), Array(21.toByte),
      Array.fill(10)(0.toByte), scramble.drop(8), Array(0.toByte),
      "mysql_native_password".getBytes(StandardCharsets.UTF_8),
      Array(0.toByte))
    val ok = Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00)
    val fde = event(15, cat(le(4L, 2), Array.fill(50)(0.toByte), le(0L, 4),
      Array(19.toByte), Array.fill(39)(0.toByte)))
    val sid = (1 to 16).map(_.toByte).toArray
    val gtid = event(33, cat(Array(0.toByte), sid, le(5L, 8)))
    val xid = event(16, le(99L, 8))

    val server = new ServerSocket(0)
    val t = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        writePacket(out, 0, handshake)
        readPacket(in) // HandshakeResponse41
        writePacket(out, 2, ok)
        readPacket(in) // register/settings queries or dump
        writePacket(out, 1, ok)
        readPacket(in)
        writePacket(out, 1, ok)
        readPacket(in) // COM_BINLOG_DUMP_GTID
        Seq(fde, gtid, xid).zipWithIndex.foreach { case (ev, i) =>
          writePacket(out, i + 1, cat(Array(0.toByte), ev))
        }
        Thread.sleep(30000) // hold the stream open until stop
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()

    val e = new Engine(spark, tmpDir("replctl_live"))
    exec(e, s"CHANGE REPLICATION SOURCE TO SOURCE_HOST='127.0.0.1', " +
      s"SOURCE_PORT=${server.getLocalPort}, SOURCE_USER='repl', " +
      "SOURCE_PASSWORD='secret', SOURCE_CONNECT_RETRY=1")
    exec(e, "START REPLICA")
    // second START: warning 3083, threads keep running
    e.clearWarnings()
    exec(e, "START REPLICA")
    assert(e.warnings.exists(w => w._2 == 3083 &&
      w._3.contains("already running")))
    // the IO thread reaches the stream and marks the txn executed
    // (the frame appender buffers; the FILE is asserted after STOP,
    // which flushes it)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def gtidSet() = e.replicaStatus.toMap.getOrElse("Executed_Gtid_Set", "")
    while (gtidSet().isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(gtidSet().nonEmpty, "txn not executed within 15s; status=" +
      e.replicaStatus.mkString("|"))
    val st = exec(e, "SHOW REPLICA STATUS").df.get.collect()(0)
    val cols = exec(e, "SHOW REPLICA STATUS").df.get.columns
    assert(st.getString(cols.indexOf("Replica_IO_Running")) === "Yes")
    assert(st.getString(cols.indexOf("Replica_SQL_Running")) === "Yes")
    // CHANGE while running refuses (MySQL: stop the io thread first)
    intercept[Exception](exec(e,
      "CHANGE REPLICATION SOURCE TO SOURCE_PORT=9"))
    exec(e, "STOP REPLICA")
    val st2 = exec(e, "SHOW REPLICA STATUS").df.get.collect()(0)
    assert(st2.getString(cols.indexOf("Replica_IO_Running")) === "No")
    // the GTID position survived the stop (persisted executed set)...
    assert(st2.getString(cols.indexOf("Executed_Gtid_Set")).nonEmpty)
    // ...and the flushed framelog holds the streamed events (C1 input)
    assert(graft.streaming.FrameLog.endState(
      e.warehouse.resolve("_replica"), "replica", 0L)._2.nonEmpty,
      "stop must flush the frame log")
    exec(e, "RESET REPLICA")
    val st3 = exec(e, "SHOW REPLICA STATUS").df.get.collect()(0)
    assert(st3.getString(cols.indexOf("Executed_Gtid_Set")).isEmpty,
      "RESET REPLICA must forget the replication position")
    server.close()
  }
}
