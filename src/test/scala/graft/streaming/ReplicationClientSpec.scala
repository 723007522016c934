package graft.streaming

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets

import graft.SparkSpec
import graft.storage.GraftTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Live replication clients driven end-to-end against SCRIPTED fake
  * server sockets: connect → stream → disconnect → reconnect-resume,
  * with the resulting framelog decoded and merged, final table state
  * checked against the expected rows. The fakes speak the same public
  * wire bytes a real primary would, and ASSERT on what the client
  * sends (resume LSN / requested GTID set / auth token), so protocol
  * regressions fail here, not against a live server. */
class ReplicationClientSpec extends SparkSpec {
  import spark.implicits._

  private def await(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail(s"timed out waiting: $what")
      Thread.sleep(20)
    }
  }

  // ==================================================================
  // PostgreSQL: START_REPLICATION + standby-status LSN feedback

  private object pg {
    def be(n: Long, bytes: Int): Array[Byte] =
      (0 until bytes).reverseIterator.map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cstr(s: String): Array[Byte] = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      java.util.Arrays.copyOf(b, b.length + 1)
    }
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach(out.write)
      out.toByteArray
    }
    // pgoutput message builders (same public layout the decoder spec uses)
    def begin(lsn: Long, xid: Long): Array[Byte] =
      cat(Array('B'.toByte), be(lsn, 8), be(0L, 8), be(xid, 4))
    def commitMsg(lsn: Long): Array[Byte] =
      cat(Array('C'.toByte, 0.toByte), be(lsn, 8), be(lsn + 1, 8), be(0L, 8))
    def relation(oid: Int, ns: String, name: String,
        cols: (String, Int)*): Array[Byte] =
      cat(Seq(Array('R'.toByte), be(oid, 4), cstr(ns), cstr(name),
        Array('d'.toByte), be(cols.size, 2)) ++
        cols.flatMap { case (cn, typ) =>
          Seq(Array(0.toByte), cstr(cn), be(typ, 4), be(0xffffffffL, 4))
        }: _*)
    def tup(vals: Option[String]*): Array[Byte] =
      cat(Seq(be(vals.size, 2)) ++ vals.map {
        case Some(s) =>
          val b = s.getBytes(StandardCharsets.UTF_8)
          cat(Array('t'.toByte), be(b.length, 4), b)
        case None => Array('n'.toByte)
      }: _*)
    def insert(oid: Int, t: Array[Byte]): Array[Byte] =
      cat(Array('I'.toByte), be(oid, 4), Array('N'.toByte), t)
    def update(oid: Int, t: Array[Byte]): Array[Byte] =
      cat(Array('U'.toByte), be(oid, 4), Array('N'.toByte), t)

    // server-side protocol plumbing
    def readStartup(in: DataInputStream): String = {
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      new String(body, StandardCharsets.UTF_8)
    }
    def readMsg(in: DataInputStream): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val body = new Array[Byte](len - 4)
      in.readFully(body)
      (tpe, body)
    }
    def writeMsg(out: DataOutputStream, tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe)
      out.writeInt(4 + body.length)
      out.write(body)
      out.flush()
    }
    def authOkReady(out: DataOutputStream): Unit = {
      writeMsg(out, 'R', be(0L, 4))
      writeMsg(out, 'Z', Array('I'.toByte))
    }
    def xlog(out: DataOutputStream, walStart: Long, payload: Array[Byte]): Unit =
      writeMsg(out, 'd', cat(Array('w'.toByte), be(walStart, 8),
        be(walStart, 8), be(0L, 8), payload))
    def keepalive(out: DataOutputStream, walEnd: Long, reply: Boolean): Unit =
      writeMsg(out, 'd', cat(Array('k'.toByte), be(walEnd, 8), be(0L, 8),
        Array((if (reply) 1 else 0).toByte)))
    def startLsn(sql: String): Long = {
      val m = """LOGICAL ([0-9A-F]+)/([0-9A-F]+)""".r.findFirstMatchIn(sql).get
      (java.lang.Long.parseLong(m.group(1), 16) << 32) |
        java.lang.Long.parseLong(m.group(2), 16)
    }
  }

  test("pg client: stream → LSN feedback → disconnect → resume → merge") {
    val dir = tmpDir("pgrepl_log")
    val relOid = 16384
    val rel = pg.relation(relOid, "public", "t", ("pk", 20), ("val", 1043))
    val requestedLsns = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val statusFlushes = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val startupParams = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        // ---- session 1
        val s1 = server.accept()
        val in1 = new DataInputStream(s1.getInputStream)
        val out1 = new DataOutputStream(s1.getOutputStream)
        startupParams.add(pg.readStartup(in1))
        pg.authOkReady(out1)
        val (q1, body1) = pg.readMsg(in1)
        assert(q1 === 'Q')
        val sql1 = new String(body1, 0, body1.length - 1, StandardCharsets.UTF_8)
        requestedLsns.add(pg.startLsn(sql1))
        pg.writeMsg(out1, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        // txn 1: insert (1,'a') — distinct walStart per message
        pg.xlog(out1, 100L, pg.begin(100L, 9L))
        pg.xlog(out1, 101L, rel)
        pg.xlog(out1, 102L, pg.insert(relOid, pg.tup(Some("1"), Some("a"))))
        pg.xlog(out1, 103L, pg.commitMsg(100L))
        pg.keepalive(out1, 103L, reply = true)
        // the client's standby status must report flush = last appended + 1
        val (t1, st1) = pg.readMsg(in1)
        assert(t1 === 'd' && st1(0) === 'r'.toByte)
        statusFlushes.add(BigInt(st1.slice(9, 17)).toLong)
        s1.close() // abrupt disconnect mid-stream
        // ---- session 2: the client reconnects and resumes
        val s2 = server.accept()
        val in2 = new DataInputStream(s2.getInputStream)
        val out2 = new DataOutputStream(s2.getOutputStream)
        pg.readStartup(in2)
        pg.authOkReady(out2)
        val (_, body2) = pg.readMsg(in2)
        val sql2 = new String(body2, 0, body2.length - 1, StandardCharsets.UTF_8)
        requestedLsns.add(pg.startLsn(sql2))
        pg.writeMsg(out2, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        // txn 2: update (1,'a2'), insert (2,'b')
        pg.xlog(out2, 200L, pg.begin(200L, 10L))
        pg.xlog(out2, 201L, rel)
        pg.xlog(out2, 202L, pg.update(relOid, pg.tup(Some("1"), Some("a2"))))
        pg.xlog(out2, 203L, pg.insert(relOid, pg.tup(Some("2"), Some("b"))))
        pg.xlog(out2, 204L, pg.commitMsg(200L))
        // hold the connection open until the test stops the client
        try in2.readByte() catch { case _: Throwable => () }
        s2.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-pg-primary")
    fake.start()

    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "s1", "pub1", dir, statusIntervalMs = 60000L).start()
    try {
      await("all 9 frames appended")(client.framesAppended == 9L)
      assert(client.reconnects >= 1L)
    } finally {
      client.stop()
      server.close()
      fake.join(5000)
    }
    assert(serverErr.get() === null,
      s"fake server assertion failed: ${serverErr.get()}")
    // what the client TOLD the server
    assert(startupParams.get(0).contains("replication\u0000database\u0000"))
    assert(requestedLsns.get(0) === 1L) // empty log: resume from the start
    assert(statusFlushes.get(0) === 104L) // flushed through walStart 103
    assert(requestedLsns.get(1) === 104L) // reconnect resumes past txn 1

    // the framelog decodes + merges to the expected final table state
    val table = GraftTable.create(spark, tmpDir("pgrepl_tbl"),
      StructType(Seq(StructField("pk", LongType), StructField("val", StringType))),
      Seq("pk"))
    val frames = spark.read.format("framelog").load(dir.toString)
    val changes = PgOutputDecoder.decodeSlotStreams(frames,
      "slot", "off", "payload", "public.t", StructType(Seq(
        StructField("pk", LongType), StructField("val", StringType))))
    CdcMerge.applyBatch(table, changes)
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a2"), (2L, "b")))
  }

  // ==================================================================
  // MySQL: handshake + COM_BINLOG_DUMP_GTID + heartbeat/reconnect

  private object my {
    def le(n: Long, bytes: Int): Array[Byte] =
      (0 until bytes).map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      parts.foreach(out.write)
      out.toByteArray
    }
    // binlog v4 event builders (same public layout the decoder spec uses)
    def event(tpe: Int, logPos: Long, body: Array[Byte]): Array[Byte] =
      cat(le(0L, 4), Array(tpe.toByte), le(1L, 4),
        le(19L + body.length, 4), le(logPos, 4), le(0L, 2), body)
    val sid: Array[Byte] = (1 to 16).map(_.toByte).toArray
    val sidHex: String = sid.map(b => f"$b%02x").mkString
    def gtid(gno: Long): Array[Byte] =
      event(33, 0L, cat(Array(0.toByte), sid, le(gno, 8)))
    def xid(): Array[Byte] = event(16, 0L, le(99L, 8))
    def fde(): Array[Byte] =
      event(15, 0L, cat(le(4L, 2), Array.fill(50)(0.toByte), le(0L, 4),
        Array(19.toByte), Array.fill(39)(0.toByte)))
    /** FDE ending in the 5.6.1+ checksum-algorithm byte (1 = CRC32). */
    def fde(alg: Int): Array[Byte] = event(15, 0L, cat(le(4L, 2),
      Array.fill(50)(0.toByte), le(0L, 4), Array(19.toByte),
      Array.fill(39)(0.toByte), Array(alg.toByte)))
    def rotate(file: String): Array[Byte] =
      event(4, 0L, cat(le(4L, 8), file.getBytes(StandardCharsets.UTF_8)))
    /** The event as a `binlog_checksum=CRC32` primary sends it: the
      * header's event_size covers a real CRC32 trailer. */
    def withCrc(e: Array[Byte]): Array[Byte] = {
      val sized = e.clone()
      val total = le(e.length + 4L, 4)
      System.arraycopy(total, 0, sized, 9, 4)
      val crc = new java.util.zip.CRC32(); crc.update(sized)
      cat(sized, le(crc.getValue, 4))
    }
    def heartbeat(): Array[Byte] =
      event(27, 0L, "binlog.000001".getBytes(StandardCharsets.UTF_8))
    def queryEvt(sql: String, schema: String = "db1"): Array[Byte] = {
      val d = schema.getBytes(StandardCharsets.UTF_8)
      val q = sql.getBytes(StandardCharsets.UTF_8)
      event(2, 0L, cat(le(7L, 4), le(0L, 4), Array(d.length.toByte),
        le(0L, 2), le(0L, 2), d, Array(0.toByte), q))
    }
    def tableMap(tableId: Long, db: String, table: String, ncols: Int): Array[Byte] = {
      val d = db.getBytes(StandardCharsets.UTF_8)
      val t = table.getBytes(StandardCharsets.UTF_8)
      event(19, 0L, cat(le(tableId, 6), le(1L, 2),
        Array(d.length.toByte), d, Array(0.toByte),
        Array(t.length.toByte), t, Array(0.toByte),
        Array(ncols.toByte), Array.fill(ncols)(8.toByte), Array(0.toByte),
        Array.fill((ncols + 7) / 8)(0.toByte)))
    }
    def rowImg(pkv: Long, v: String): Array[Byte] = {
      val b = v.getBytes(StandardCharsets.UTF_8)
      cat(Array(0.toByte), le(pkv, 8), Array(b.length.toByte), b)
    }
    def writeRows(tid: Long, imgs: Array[Byte]*): Array[Byte] =
      event(30, 0L, cat((Seq(le(tid, 6), le(1L, 2), le(2L, 2),
        Array(2.toByte), Array.fill(1)(0xff.toByte)) ++ imgs): _*))

    // server-side packet plumbing
    def readPacket(in: DataInputStream): Array[Byte] = {
      val hdr = new Array[Byte](4)
      in.readFully(hdr)
      val len = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) | ((hdr(2) & 0xff) << 16)
      val body = new Array[Byte](len)
      in.readFully(body)
      body
    }
    def writePacket(out: DataOutputStream, seq: Int, payload: Array[Byte]): Unit = {
      out.writeByte(payload.length & 0xff)
      out.writeByte((payload.length >> 8) & 0xff)
      out.writeByte((payload.length >> 16) & 0xff)
      out.writeByte(seq & 0xff)
      out.write(payload)
      out.flush()
    }
    val okPacket: Array[Byte] =
      Array[Byte](0x00, 0x00, 0x00, 0x02, 0x00, 0x00, 0x00)
    def handshakeV10(scramble: Array[Byte],
        plugin: String = "mysql_native_password"): Array[Byte] = {
      require(scramble.length == 20)
      cat(Array(10.toByte),
        "8.0.0-fake".getBytes(StandardCharsets.UTF_8), Array(0.toByte),
        le(7L, 4), // thread id
        scramble.take(8), Array(0.toByte), // auth-data-1 + filler
        le(0xffffL, 2), // caps lower
        Array(33.toByte), le(2L, 2), le(0x0008L, 2), // charset/status/caps upper
        Array(21.toByte), Array.fill(10)(0.toByte), // auth len + reserved
        scramble.drop(8), Array(0.toByte), // auth-data-2 + NUL
        plugin.getBytes(StandardCharsets.UTF_8), Array(0.toByte))
    }
    def expectedToken(password: String, scramble: Array[Byte]): Array[Byte] = {
      val sha = java.security.MessageDigest.getInstance("SHA-1")
      val h1 = sha.digest(password.getBytes(StandardCharsets.UTF_8))
      sha.reset(); val h2 = sha.digest(h1)
      sha.reset(); sha.update(scramble); sha.update(h2)
      val h3 = sha.digest()
      h1.indices.map(i => (h1(i) ^ h3(i)).toByte).toArray
    }
    /** caching_sha2_password scramble (the public fast-auth formula). */
    def expectedSha2Token(password: String, scramble: Array[Byte]): Array[Byte] = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val h1 = md.digest(password.getBytes(StandardCharsets.UTF_8))
      md.reset(); val h2 = md.digest(h1)
      md.reset(); md.update(h2); md.update(scramble)
      val h3 = md.digest()
      h1.indices.map(i => (h1(i) ^ h3(i)).toByte).toArray
    }
    /** HandshakeResponse41 → (user, auth token). */
    def parseResponse(p: Array[Byte]): (String, Array[Byte]) = {
      val (u, t, _) = parseResponseFull(p)
      (u, t)
    }
    /** HandshakeResponse41 → (user, auth token, client plugin). */
    def parseResponseFull(p: Array[Byte]): (String, Array[Byte], String) = {
      var q = 4 + 4 + 1 + 23
      val end = p.indexOf(0.toByte, q)
      val user = new String(p, q, end - q, StandardCharsets.UTF_8)
      q = end + 1
      val n = p(q) & 0xff
      val token = java.util.Arrays.copyOfRange(p, q + 1, q + 1 + n)
      q += 1 + n
      val pEnd = p.indexOf(0.toByte, q)
      val plugin = new String(p, q,
        (if (pEnd < 0) p.length else pEnd) - q, StandardCharsets.UTF_8)
      (user, token, plugin)
    }
    /** COM_BINLOG_DUMP_GTID → requested executed set (sidHex → text). */
    def parseDumpGtid(p: Array[Byte]): Map[String, String] = {
      require((p(0) & 0xff) == 0x1e, "not COM_BINLOG_DUMP_GTID")
      var q = 1 + 2 + 4
      val nameLen = LittleEndian.uint(p, q, 4).toInt
      q += 4 + nameLen + 8
      q += 4 // data_size
      val nSids = LittleEndian.uint(p, q, 8); q += 8
      (0L until nSids).map { _ =>
        val hex = (q until q + 16).map(i => f"${p(i)}%02x").mkString
        q += 16
        val nIv = LittleEndian.uint(p, q, 8); q += 8
        val iv = (0L until nIv).map { _ =>
          val a = LittleEndian.uint(p, q, 8)
          val bEx = LittleEndian.uint(p, q + 8, 8)
          q += 16
          (a, bEx - 1)
        }
        hex -> GtidSet.format(iv.toVector)
      }.toMap
    }
  }

  test("mysql client: handshake → dump → heartbeat/disconnect → gtid resume → merge") {
    val dir = tmpDir("myrepl_log")
    val Tid = 7L
    val scramble: Array[Byte] = (21 to 40).map(_.toByte).toArray
    val dumpRequests = new java.util.concurrent.CopyOnWriteArrayList[Map[String, String]]()
    val authSeen = new java.util.concurrent.CopyOnWriteArrayList[(String, Seq[Byte])]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    val server = new ServerSocket(0)
    def serveSession(events: Seq[Array[Byte]], closeAfter: Boolean): Unit = {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      my.writePacket(out, 0, my.handshakeV10(scramble))
      val resp = my.parseResponse(my.readPacket(in))
      authSeen.add((resp._1, resp._2.toSeq))
      my.writePacket(out, 2, my.okPacket)
      val q = my.readPacket(in) // SET @master_binlog_checksum
      assert((q(0) & 0xff) == 0x03 && new String(q.drop(1), "UTF-8")
        .toLowerCase.contains("master_binlog_checksum"))
      my.writePacket(out, 1, my.okPacket)
      val hb = my.readPacket(in) // SET @master_heartbeat_period
      assert((hb(0) & 0xff) == 0x03 && new String(hb.drop(1), "UTF-8")
        .toLowerCase.contains("master_heartbeat_period"))
      my.writePacket(out, 1, my.okPacket)
      dumpRequests.add(my.parseDumpGtid(my.readPacket(in)))
      var seq = 1
      events.foreach { e =>
        my.writePacket(out, seq, my.cat(Array(0.toByte), e)); seq += 1
      }
      if (closeAfter) s.close()
      else {
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      }
    }
    val fake = new Thread(() => {
      try {
        // session 1: two committed txns + a transport heartbeat, then drop
        serveSession(Seq(
          my.fde(),
          my.gtid(100L), my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(1L, "a")), my.xid(),
          my.heartbeat(), // transport-only: must NOT reach the framelog
          my.gtid(101L), my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(2L, "b")), my.xid()),
          closeAfter = true)
        // session 2: replayed overlap (101) + genuinely new txn (102)
        serveSession(Seq(
          my.fde(),
          my.gtid(101L), my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(2L, "b")), my.xid(),
          my.gtid(102L), my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(3L, "c")), my.xid()),
          closeAfter = false)
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-primary")
    fake.start()

    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "m1", dir).start()
    try {
      await("all 18 binlog frames appended")(client.framesAppended == 18L)
      assert(client.reconnects >= 1L)
    } finally {
      client.stop()
      server.close()
      fake.join(5000)
    }
    assert(serverErr.get() === null,
      s"fake server assertion failed: ${serverErr.get()}")
    // auth: the native-password token for 'secret' under our scramble
    assert(authSeen.get(0)._1 === "repl")
    assert(authSeen.get(0)._2 === my.expectedToken("secret", scramble).toSeq)
    // resume: first dump asked for everything; the reconnect's request
    // carried the executed set so the server can skip 100-101
    assert(dumpRequests.get(0) === Map.empty)
    assert(dumpRequests.get(1) === Map(my.sidHex -> "100-101"))
    assert(client.executed === Map(my.sidHex -> "100-102"))
    // the position survives a client restart (sidecar file)
    val reborn = new MySqlBinlogClient("127.0.0.1", 1, "repl", "secret", "m1", dir)
    reborn.start(); reborn.stop()
    assert(reborn.executed === Map(my.sidHex -> "100-102"))

    // decode + merge: the replayed txn 101 must deliver exactly once
    val specs = Seq(BinlogRowDecoder.ColSpec("pk", BinlogRowDecoder.Int64),
      BinlogRowDecoder.ColSpec("val", BinlogRowDecoder.Varchar(40)))
    val frames = spark.read.format("framelog").load(dir.toString)
    val changes = BinlogEventDecoder.decodeSlotStreams(frames,
      "slot", "off", "payload", "db1.t", specs)
    assert(changes.count() === 3L) // 101's replay swallowed by the watermark
    val table = GraftTable.create(spark, tmpDir("myrepl_tbl"),
      StructType(Seq(StructField("pk", LongType), StructField("val", StringType))),
      Seq("pk"))
    CdcMerge.applyBatch(table,
      changes.withColumn("action", col("action").cast("int")))
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("mysql client: GTID-mode DDL marks executed (no XID follows)") {
    // A DDL transaction commits via its Query event — if the client only
    // marks executed on XID, the gno keeps a permanent gap and every
    // reconnect re-requests + re-appends it (ADVICE r8). BEGIN is the
    // one Query form that must NOT mark (the txn is still open).
    val dir = tmpDir("myrepl_ddl")
    val Tid = 7L
    val scramble: Array[Byte] = (21 to 40).map(_.toByte).toArray
    val dumpRequests = new java.util.concurrent.CopyOnWriteArrayList[Map[String, String]]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    val server = new ServerSocket(0)
    def serveSession(events: Seq[Array[Byte]], closeAfter: Boolean): Unit = {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      my.writePacket(out, 0, my.handshakeV10(scramble))
      my.readPacket(in)
      my.writePacket(out, 2, my.okPacket)
      my.readPacket(in) // SET @master_binlog_checksum
      my.writePacket(out, 1, my.okPacket)
      my.readPacket(in) // SET @master_heartbeat_period
      my.writePacket(out, 1, my.okPacket)
      dumpRequests.add(my.parseDumpGtid(my.readPacket(in)))
      var seq = 1
      events.foreach { e =>
        my.writePacket(out, seq, my.cat(Array(0.toByte), e)); seq += 1
      }
      if (closeAfter) s.close()
      else {
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      }
    }
    val fake = new Thread(() => {
      try {
        // session 1: gno 100 = autocommitted DDL (Query, no XID);
        // gno 101 = a DML txn carrying a mid-txn SAVEPOINT Query —
        // neither BEGIN nor SAVEPOINT may mark (only its XID does);
        // gno 102 = a txn cut off by the disconnect AFTER its
        // SAVEPOINT but BEFORE its XID — marking it executed would
        // make the reconnect skip its row events (data loss)
        serveSession(Seq(
          my.fde(),
          my.gtid(100L), my.queryEvt("CREATE TABLE db1.x (i int)"),
          my.gtid(101L), my.queryEvt("BEGIN"),
          my.queryEvt("SAVEPOINT s1"),
          my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(1L, "a")), my.xid(),
          my.gtid(102L), my.queryEvt("BEGIN"),
          my.queryEvt("SAVEPOINT s2"),
          my.tableMap(Tid, "db1", "t", 2),
          my.writeRows(Tid, my.rowImg(2L, "b"))),
          closeAfter = true)
        // session 2: the reconnect request must carry 100-101 — and
        // NOT 102, whose commit never arrived
        serveSession(Seq(my.fde()), closeAfter = false)
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-ddl-primary")
    fake.start()

    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "m2", dir).start()
    try {
      await("15 frames appended across both sessions")(
        client.framesAppended == 15L)
    } finally {
      client.stop()
      server.close()
      fake.join(5000)
    }
    assert(serverErr.get() === null,
      s"fake server assertion failed: ${serverErr.get()}")
    assert(dumpRequests.get(0) === Map.empty)
    // the DDL's gno 100 AND the XID-committed 101 are executed; the
    // interrupted 102 is NOT — its SAVEPOINT was no commit marker, so
    // the reconnect re-requests it and its rows are not lost
    assert(dumpRequests.get(1) === Map(my.sidHex -> "100-101"))
    assert(client.executed === Map(my.sidHex -> "100-101"))
  }

  test("mysql client: a CRC32 session reaches the framelog without trailers") {
    // binlog_checksum=CRC32 (MySQL 8's default): every event, the fake
    // ROTATE ahead of the FDE included, ends in a 4-byte CRC32. The
    // framelog must hold the events without it, or a ROWS trailer
    // parses as one more row image and a TRUNCATE's text ends in 4
    // stray bytes.
    val dir = tmpDir("myrepl_crc")
    val Tid = 7L
    val scramble: Array[Byte] = (21 to 40).map(_.toByte).toArray
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val good = Seq(my.rotate("binlog.000001"), my.fde(alg = 1),
      my.gtid(100L), my.tableMap(Tid, "db1", "t", 2),
      my.writeRows(Tid, my.rowImg(1L, "a"), my.rowImg(2L, "b")), my.xid(),
      my.gtid(101L), my.queryEvt("TRUNCATE TABLE t"),
      my.gtid(102L), my.tableMap(Tid, "db1", "t", 2),
      my.writeRows(Tid, my.rowImg(3L, "c")), my.xid()).map(my.withCrc)
    // session 2: a frame whose trailer fails verification after a
    // CRC32 FDE must fail the connection, not reach the framelog
    val corrupt = my.withCrc(my.gtid(103L))
    corrupt(corrupt.length - 1) = (corrupt.last ^ 0x5a).toByte
    val server = new ServerSocket(0)
    def serve(events: Seq[Array[Byte]]): java.net.Socket = {
      val s = server.accept()
      val in = new DataInputStream(s.getInputStream)
      val out = new DataOutputStream(s.getOutputStream)
      my.writePacket(out, 0, my.handshakeV10(scramble))
      my.readPacket(in)
      my.writePacket(out, 2, my.okPacket)
      myServeTail(in, out, events)
      s
    }
    val fake = new Thread(() => {
      try {
        serve(good).close()
        val s2 = serve(Seq(my.withCrc(my.fde(alg = 1)), corrupt))
        try s2.getInputStream.read() catch { case _: Throwable => () }
        s2.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-crc32")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "crc", dir).start()
    try {
      await("the corrupt trailer fails the connection")(
        client.lastError.exists(e => String.valueOf(e.getMessage).contains("CRC32")))
    } finally {
      client.stop()
      server.close()
      fake.join(5000)
    }
    assert(serverErr.get() === null,
      s"fake server assertion failed: ${serverErr.get()}")
    val frames = spark.read.format("framelog").load(dir.toString)
    // every logged frame is its event minus the trailer; session 2
    // logged only its FDE
    assert(frames.orderBy("off").select("payload").as[Array[Byte]]
      .collect().map(_.toSeq).toSeq ===
      (good :+ my.withCrc(my.fde(alg = 1))).map(_.dropRight(4).toSeq))
    val specs = Seq(BinlogRowDecoder.ColSpec("pk", BinlogRowDecoder.Int64),
      BinlogRowDecoder.ColSpec("val", BinlogRowDecoder.Varchar(40)))
    val table = GraftTable.create(spark, tmpDir("myrepl_crc_tbl"),
      StructType(Seq(StructField("pk", LongType), StructField("val", StringType))),
      Seq("pk"))
    CdcMerge.applyBatch(table, BinlogEventDecoder.decodeSlotStreams(frames,
      "slot", "off", "payload", "db1.t", specs))
    // the TRUNCATE applied between the two inserting transactions
    assert(table.read().orderBy("pk").as[(Long, String)].collect() ===
      Array((3L, "c")))
  }

  // ==================================================================
  // modern auth (caching_sha2 / SCRAM) + TLS + heartbeat liveness

  /** Self-signed localhost cert via keytool: server context serves it,
    * client context trusts exactly it. */
  private lazy val (serverTls, clientTls):
      (javax.net.ssl.SSLContext, javax.net.ssl.SSLContext) = {
    val dir = tmpDir("tls_keys")
    val ksPath = dir.resolve("ks.p12")
    val pr = new ProcessBuilder("keytool", "-genkeypair", "-alias", "t",
      "-keyalg", "RSA", "-keysize", "2048", "-validity", "1",
      "-storetype", "PKCS12", "-keystore", ksPath.toString,
      "-storepass", "changeit", "-dname", "CN=localhost")
      .redirectErrorStream(true).start()
    assert(pr.waitFor() == 0, "keytool failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    ks.load(java.nio.file.Files.newInputStream(ksPath), "changeit".toCharArray)
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val sctx = javax.net.ssl.SSLContext.getInstance("TLS")
    sctx.init(kmf.getKeyManagers, null, null)
    val ts = java.security.KeyStore.getInstance("PKCS12")
    ts.load(null, null)
    ts.setCertificateEntry("t", ks.getCertificate("t"))
    val tmf = javax.net.ssl.TrustManagerFactory.getInstance(
      javax.net.ssl.TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ts)
    val cctx = javax.net.ssl.SSLContext.getInstance("TLS")
    cctx.init(null, tmf.getTrustManagers, null)
    (sctx, cctx)
  }

  private def wrapServerTls(s: java.net.Socket): java.net.Socket = {
    val ssl = serverTls.getSocketFactory
      .createSocket(s, null, s.getPort, false)
      .asInstanceOf[javax.net.ssl.SSLSocket]
    ssl.setUseClientMode(false)
    ssl
  }

  /** Shared tail of every MySQL auth test: checksum SET, heartbeat SET,
    * dump request, then `events`. */
  private def myServeTail(in: DataInputStream, out: DataOutputStream,
      events: Seq[Array[Byte]]): Unit = {
    my.readPacket(in) // SET @master_binlog_checksum
    my.writePacket(out, 1, my.okPacket)
    my.readPacket(in) // SET @master_heartbeat_period
    my.writePacket(out, 1, my.okPacket)
    my.parseDumpGtid(my.readPacket(in))
    var seq = 1
    events.foreach { e =>
      my.writePacket(out, seq, my.cat(Array(0.toByte), e)); seq += 1
    }
  }

  private def myOneTxn: Seq[Array[Byte]] = Seq(
    my.fde(), my.gtid(100L), my.tableMap(7L, "db1", "t", 2),
    my.writeRows(7L, my.rowImg(1L, "a")), my.xid())

  test("mysql client: caching_sha2 announced → sha2 scramble → fast auth → stream") {
    val dir = tmpDir("myrepl_sha2")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val seen = new java.util.concurrent.atomic.AtomicReference[(String, Seq[Byte], String)]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        my.writePacket(out, 0, my.handshakeV10(scramble, "caching_sha2_password"))
        val (u, tok, plugin) = my.parseResponseFull(my.readPacket(in))
        seen.set((u, tok.toSeq, plugin))
        // fast_auth_success: the scramble matched the cache — OK follows
        my.writePacket(out, 2, Array[Byte](0x01, 0x03))
        my.writePacket(out, 3, my.okPacket)
        myServeTail(in, out, myOneTxn)
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-sha2")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "sha2", dir).start()
    try await("5 frames via sha2 fast auth")(client.framesAppended == 5L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
    val (u, tok, plugin) = seen.get()
    assert(u === "repl")
    assert(plugin === "caching_sha2_password")
    assert(tok === my.expectedSha2Token("secret", scramble).toSeq)
  }

  test("mysql client: AuthSwitchRequest to caching_sha2 → fresh-scramble token → stream") {
    val dir = tmpDir("myrepl_switch")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val fresh: Array[Byte] = (61 to 80).map(_.toByte).toArray
    val switched = new java.util.concurrent.atomic.AtomicReference[Seq[Byte]]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        // server announces native; the ACCOUNT is caching_sha2 → switch
        my.writePacket(out, 0, my.handshakeV10(scramble))
        my.readPacket(in) // native-token response (ignored: wrong plugin)
        my.writePacket(out, 2, my.cat(Array(0xfe.toByte),
          "caching_sha2_password".getBytes(StandardCharsets.UTF_8),
          Array(0.toByte), fresh, Array(0.toByte)))
        switched.set(my.readPacket(in).toSeq) // token over the FRESH scramble
        my.writePacket(out, 4, Array[Byte](0x01, 0x03))
        my.writePacket(out, 5, my.okPacket)
        myServeTail(in, out, myOneTxn)
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-switch")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "switch", dir).start()
    try await("5 frames after auth switch")(client.framesAppended == 5L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
    assert(switched.get() === my.expectedSha2Token("secret", fresh).toSeq)
  }

  test("mysql client: caching_sha2 full auth WITHOUT TLS fails loudly") {
    val dir = tmpDir("myrepl_fullauth_plain")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        my.writePacket(out, 0, my.handshakeV10(scramble, "caching_sha2_password"))
        my.readPacket(in)
        // cache cold: perform_full_authentication
        my.writePacket(out, 2, Array[Byte](0x01, 0x04))
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case _: Throwable => () }
    }, "fake-mysql-fullauth")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "fullplain", dir, maxRetries = 0).start()
    try {
      await("loud failure")(client.lastError.exists(
        _.getMessage.contains("requires TLS")))
      await("client gave up")(!client.isRunning)
      assert(client.framesAppended === 0L)
    } finally { client.stop(); server.close(); fake.join(5000) }
  }

  test("mysql client: full auth over plaintext runs the RSA exchange when opted in") {
    val dir = tmpDir("myrepl_fullauth_rsa")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val kpg = java.security.KeyPairGenerator.getInstance("RSA")
    kpg.initialize(2048)
    val keys = kpg.generateKeyPair()
    val pem = "-----BEGIN PUBLIC KEY-----\n" +
      java.util.Base64.getMimeEncoder(64, "\n".getBytes)
        .encodeToString(keys.getPublic.getEncoded) +
      "\n-----END PUBLIC KEY-----\n"
    val decrypted = new java.util.concurrent.atomic.AtomicReference[Seq[Byte]]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        my.writePacket(out, 0, my.handshakeV10(scramble, "caching_sha2_password"))
        my.readPacket(in) // fast-auth token (cache cold — ignored)
        // cache cold: perform_full_authentication
        my.writePacket(out, 2, Array[Byte](0x01, 0x04))
        // client must request the public key with a 0x02 packet
        val req = my.readPacket(in)
        assert(req.length == 1 && req(0) == 0x02, s"bad key request: ${req.toSeq}")
        my.writePacket(out, 3, my.cat(Array(0x01.toByte),
          pem.getBytes(StandardCharsets.UTF_8)))
        // decrypt WITH THE PRIVATE KEY — verifies the client's OAEP
        // encryption and nonce-XOR from the wire, not tautologically
        val blob = my.readPacket(in)
        val c = javax.crypto.Cipher
          .getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
        c.init(javax.crypto.Cipher.DECRYPT_MODE, keys.getPrivate)
        decrypted.set(c.doFinal(blob).toSeq)
        my.writePacket(out, 5, my.okPacket)
        myServeTail(in, out, myOneTxn)
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-rsa")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "fullrsa", dir, maxRetries = 0,
      allowPublicKeyRetrieval = true).start()
    try await("5 frames after RSA full auth")(client.framesAppended == 5L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
    // expected plaintext: password ++ NUL, XORed with the cycled nonce
    val input = "secret".getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    val expected = input.indices.map(i =>
      (input(i) ^ scramble(i % scramble.length)).toByte)
    assert(decrypted.get() === expected)
  }

  test("mysql client: TLS upgrade, then full auth sends the password over TLS") {
    val dir = tmpDir("myrepl_tls")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val sslSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pwdSeen = new java.util.concurrent.atomic.AtomicReference[Seq[Byte]]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s0 = server.accept()
        val in0 = new DataInputStream(s0.getInputStream)
        val out0 = new DataOutputStream(s0.getOutputStream)
        my.writePacket(out0, 0, my.handshakeV10(scramble, "caching_sha2_password"))
        // SSLRequest: capability prefix only, CLIENT_SSL set
        val sslReq = my.readPacket(in0)
        assert(sslReq.length == 32, s"SSLRequest length ${sslReq.length}")
        sslSeen.set((LittleEndian.uint(sslReq, 0, 4) & 0x0800L) != 0)
        val s = wrapServerTls(s0)
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        val (u, _, plugin) = my.parseResponseFull(my.readPacket(in))
        assert(u === "repl" && plugin === "caching_sha2_password")
        // cache cold: full auth — the password may travel, we have TLS
        my.writePacket(out, 3, Array[Byte](0x01, 0x04))
        pwdSeen.set(my.readPacket(in).toSeq)
        my.writePacket(out, 5, my.okPacket)
        myServeTail(in, out, myOneTxn)
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-tls")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "tls", dir, sslContext = Some(clientTls)).start()
    try await("5 frames over TLS")(client.framesAppended == 5L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
    assert(sslSeen.get(), "CLIENT_SSL capability not set in SSLRequest")
    assert(pwdSeen.get() ===
      ("secret".getBytes(StandardCharsets.UTF_8) :+ 0.toByte).toSeq)
  }

  test("mysql client: a silent primary is detected via the heartbeat window and reconnected") {
    val dir = tmpDir("myrepl_silent")
    val scramble: Array[Byte] = (41 to 60).map(_.toByte).toArray
    val sessions = new java.util.concurrent.atomic.AtomicInteger(0)
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        // session 1: one txn, then GO SILENT (no close, no heartbeat)
        val s1 = server.accept()
        sessions.incrementAndGet()
        val in1 = new DataInputStream(s1.getInputStream)
        val out1 = new DataOutputStream(s1.getOutputStream)
        my.writePacket(out1, 0, my.handshakeV10(scramble))
        my.readPacket(in1)
        my.writePacket(out1, 2, my.okPacket)
        myServeTail(in1, out1, myOneTxn)
        // silence — the client must give up on its own
        // session 2: the reconnect proves liveness detection fired
        val s2 = server.accept()
        sessions.incrementAndGet()
        val in2 = new DataInputStream(s2.getInputStream)
        val out2 = new DataOutputStream(s2.getOutputStream)
        my.writePacket(out2, 0, my.handshakeV10(scramble))
        my.readPacket(in2)
        my.writePacket(out2, 2, my.okPacket)
        myServeTail(in2, out2, Seq(my.fde()))
        try in2.readByte() catch { case _: Throwable => () }
        s1.close(); s2.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-mysql-silent")
    fake.start()
    val client = new MySqlBinlogClient("127.0.0.1", server.getLocalPort,
      "repl", "secret", "silent", dir, heartbeatPeriodMs = 150L).start()
    try {
      await("reconnect after silence")(sessions.get() == 2)
      await("session-2 frame arrives")(client.framesAppended == 6L)
      assert(client.lastError.exists(_.getMessage.contains("silent")))
    } finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
  }

  test("pg client: SCRAM-SHA-256 exchange, proof VERIFIED server-side, then stream") {
    val dir = tmpDir("pgrepl_scram")
    val relOid = 16390
    val rel = pg.relation(relOid, "public", "t", ("pk", 20), ("val", 1043))
    val salt = (1 to 16).map(_.toByte).toArray
    val iters = 4096
    val password = "s3cret"
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val proofOk = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        pg.readStartup(in)
        // AuthenticationSASL: the mechanism list
        pg.writeMsg(out, 'R', pg.cat(pg.be(10L, 4),
          pg.cstr("SCRAM-SHA-256"), Array(0.toByte)))
        // SASLInitialResponse: mech cstr + int32 len + client-first
        val (t1, b1) = pg.readMsg(in)
        assert(t1 === 'p')
        val mechEnd = b1.indexOf(0.toByte)
        assert(new String(b1, 0, mechEnd, StandardCharsets.UTF_8)
          === "SCRAM-SHA-256")
        val cfLen = java.nio.ByteBuffer.wrap(b1, mechEnd + 1, 4).getInt
        val clientFirst = new String(b1, mechEnd + 5, cfLen,
          StandardCharsets.UTF_8)
        assert(clientFirst.startsWith("n,,"))
        val clientFirstBare = clientFirst.substring(3)
        val nonce = Scram.attributes(clientFirstBare)("r")
        val combined = nonce + "SRVEXT"
        val serverFirst = s"r=$combined,s=${
          java.util.Base64.getEncoder.encodeToString(salt)},i=$iters"
        pg.writeMsg(out, 'R', pg.cat(pg.be(11L, 4),
          serverFirst.getBytes(StandardCharsets.UTF_8)))
        // SASLResponse: client-final — verify the proof, don't trust it
        val (t2, b2) = pg.readMsg(in)
        assert(t2 === 'p')
        val clientFinal = new String(b2, StandardCharsets.UTF_8)
        val noProof = clientFinal.substring(0, clientFinal.indexOf(",p="))
        assert(noProof === s"c=biws,r=$combined")
        val authMsg = clientFirstBare + "," + serverFirst + "," + noProof
        val salted = Scram.hi(password, salt, iters)
        val clientKey = Scram.hmac(salted, "Client Key")
        val wantProof = java.util.Base64.getEncoder.encodeToString(
          Scram.xor(clientKey, Scram.hmac(Scram.sha256(clientKey), authMsg)))
        proofOk.set(Scram.attributes(clientFinal)("p") == wantProof)
        val serverSig = java.util.Base64.getEncoder.encodeToString(
          Scram.hmac(Scram.hmac(salted, "Server Key"), authMsg))
        pg.writeMsg(out, 'R', pg.cat(pg.be(12L, 4),
          s"v=$serverSig".getBytes(StandardCharsets.UTF_8)))
        pg.authOkReady(out)
        val (q1, _) = pg.readMsg(in)
        assert(q1 === 'Q')
        pg.writeMsg(out, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        pg.xlog(out, 100L, pg.begin(100L, 9L))
        pg.xlog(out, 101L, rel)
        pg.xlog(out, 102L, pg.insert(relOid, pg.tup(Some("1"), Some("a"))))
        pg.xlog(out, 103L, pg.commitMsg(100L))
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-pg-scram")
    fake.start()
    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "scram1", "pub1", dir, password = Some(password),
      statusIntervalMs = 60000L).start()
    try await("4 frames after SCRAM")(client.framesAppended == 4L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
    assert(proofOk.get(), "client SCRAM proof did not verify")
  }

  test("pg client: a silent primary is detected via the dead interval and reconnected") {
    val dir = tmpDir("pgrepl_silent")
    val relOid = 16392
    val rel = pg.relation(relOid, "public", "t", ("pk", 20), ("val", 1043))
    val sessions = new java.util.concurrent.atomic.AtomicInteger(0)
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        // session 1: one committed txn, then GO SILENT — no keepalive,
        // no close
        val s1 = server.accept()
        sessions.incrementAndGet()
        val in1 = new DataInputStream(s1.getInputStream)
        val out1 = new DataOutputStream(s1.getOutputStream)
        pg.readStartup(in1)
        pg.authOkReady(out1)
        pg.readMsg(in1)
        pg.writeMsg(out1, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        pg.xlog(out1, 100L, pg.begin(100L, 9L))
        pg.xlog(out1, 101L, rel)
        pg.xlog(out1, 102L, pg.insert(relOid, pg.tup(Some("1"), Some("a"))))
        pg.xlog(out1, 103L, pg.commitMsg(100L))
        // silence — the client must give up on its own
        // session 2: the reconnect proves the liveness guard fired
        val s2 = server.accept()
        sessions.incrementAndGet()
        val in2 = new DataInputStream(s2.getInputStream)
        val out2 = new DataOutputStream(s2.getOutputStream)
        pg.readStartup(in2)
        pg.authOkReady(out2)
        pg.readMsg(in2)
        pg.writeMsg(out2, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        pg.xlog(out2, 200L, pg.begin(200L, 10L))
        try in2.readByte() catch { case _: Throwable => () }
        s1.close(); s2.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-pg-silent")
    fake.start()
    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "silent1", "pub1", dir, statusIntervalMs = 60000L,
      deadIntervalMs = 400L).start()
    try {
      await("reconnect after silence")(sessions.get() == 2)
      await("session-2 frame arrives")(client.framesAppended == 5L)
      assert(client.lastError.exists(_.getMessage.contains("silent")))
    } finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
  }

  test("pg client: repeated silence does NOT exhaust the lifetime failure budget") {
    // maxRetries bounds CONSECUTIVE dead-on-arrival attempts; a
    // connection that reached streaming state restarts the budget, so a
    // healthy-but-idle primary (keepalives off) tripping the liveness
    // deadline every interval reconnect-churns forever instead of
    // killing replication after maxRetries trips.
    val dir = tmpDir("pgrepl_budget")
    val sessions = new java.util.concurrent.atomic.AtomicInteger(0)
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        // four sessions, each reaching CopyBoth then going silent —
        // with maxRetries = 1 the pre-fix counter dies on session 3
        (1 to 4).foreach { _ =>
          val s = server.accept()
          val in = new DataInputStream(s.getInputStream)
          val out = new DataOutputStream(s.getOutputStream)
          pg.readStartup(in)
          pg.authOkReady(out)
          pg.readMsg(in)
          pg.writeMsg(out, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
          // counted only once the session's writes are DONE — the test
          // stops the client on the 4th count, and a stop mid-write
          // would break this pipe
          sessions.incrementAndGet()
          // silence — liveness deadline must fire each time
        }
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-pg-budget")
    fake.start()
    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "budget1", "pub1", dir, statusIntervalMs = 60000L,
      maxRetries = 1, deadIntervalMs = 300L).start()
    try {
      await("four sessions despite maxRetries=1")(sessions.get() == 4)
      assert(client.isRunning)
    } finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
  }

  test("pg client: a server that stalls during setup cannot hang the daemon") {
    // accepts TCP, never answers the startup message — the setup
    // deadline must throw into the reconnect loop instead of spinning
    // on idle ticks forever
    val dir = tmpDir("pgrepl_setupstall")
    val sessions = new java.util.concurrent.atomic.AtomicInteger(0)
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        (1 to 2).foreach { _ =>
          val s = server.accept()
          sessions.incrementAndGet()
          // swallow the client's startup bytes, answer NOTHING; EOF
          // arrives when the client's setup deadline fires and closes
          try while (s.getInputStream.read() != -1) () catch { case _: Throwable => () }
          s.close()
        }
      } catch { case _: Throwable => () }
    }, "fake-pg-setupstall")
    fake.start()
    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "stall1", "pub1", dir, statusIntervalMs = 60000L,
      connectTimeoutMs = 300).start()
    try {
      await("second connection proves the first setup stall threw", 20000L)(
        sessions.get() >= 2)
      assert(client.lastError.exists(
        _.getMessage.contains("setup timed out")))
    } finally { client.stop(); server.close(); fake.join(5000) }
  }

  test("pg client: SSLRequest upgrade, SCRAM over TLS, stream over TLS") {
    val dir = tmpDir("pgrepl_tls")
    val relOid = 16391
    val rel = pg.relation(relOid, "public", "t", ("pk", 20), ("val", 1043))
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val fake = new Thread(() => {
      try {
        val s0 = server.accept()
        val in0 = new DataInputStream(s0.getInputStream)
        // SSLRequest: Int32(8) + 80877103, answered with 'S'
        assert(in0.readInt() === 8)
        assert(in0.readInt() === 80877103)
        s0.getOutputStream.write('S')
        s0.getOutputStream.flush()
        val s = wrapServerTls(s0)
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        pg.readStartup(in)
        pg.authOkReady(out)
        val (q1, _) = pg.readMsg(in)
        assert(q1 === 'Q')
        pg.writeMsg(out, 'W', pg.cat(Array(0.toByte), pg.be(0L, 2)))
        pg.xlog(out, 100L, pg.begin(100L, 9L))
        pg.xlog(out, 101L, rel)
        pg.xlog(out, 102L, pg.insert(relOid, pg.tup(Some("1"), Some("a"))))
        pg.xlog(out, 103L, pg.commitMsg(100L))
        try in.readByte() catch { case _: Throwable => () }
        s.close()
      } catch { case e: Throwable => serverErr.set(e) }
    }, "fake-pg-tls")
    fake.start()
    val client = new PgReplicationClient("127.0.0.1", server.getLocalPort,
      "repl", "db1", "tls1", "pub1", dir, statusIntervalMs = 60000L,
      sslContext = Some(clientTls)).start()
    try await("4 frames over TLS")(client.framesAppended == 4L)
    finally { client.stop(); server.close(); fake.join(5000) }
    assert(serverErr.get() === null, s"server: ${serverErr.get()}")
  }
}
