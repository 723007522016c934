package graft

import org.apache.spark.sql.types._

import graft.streaming.{CdcMerge, FrameLog, PgOutputEncoder}

/** C11 subscription lifecycle (reference
  * `pgserver/subscription_handler.go:15-383`): CREATE (pre-copy WAL
  * checkpoint + snapshot), poll-apply past the checkpoint,
  * DISABLE pauses / ENABLE resumes, DROP keeps tables, catalog
  * surfaces (SHOW SUBSCRIPTIONS, pg_subscription). */
class SubscriptionSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType),
    StructField("n", IntegerType)))

  private def exec(e: Engine, q: String) = SqlRouter.execute(e, q)

  test("subscription lifecycle: snapshot, checkpoint, pause/resume, drop") {
    val pubWh = tmpDir("sub_pub")
    val subWh = tmpDir("sub_sub")
    val fl = tmpDir("sub_fl")
    val pub = new Engine(spark, pubWh)
    exec(pub, "CREATE TABLE acct (id BIGINT NOT NULL, v STRING, n INT, " +
      "PRIMARY KEY (id))")
    exec(pub, "INSERT INTO acct VALUES (1, 'a', 10), (2, 'b', 20), " +
      "(3, 'c', 30)")
    // WAL traffic PUBLISHED BEFORE the subscription exists — its
    // effects are already in the table; the create-time checkpoint
    // must exclude it from replay
    val (pre, lsn1) = PgOutputEncoder.txn(1L, 100L, 16384, "public",
      "acct", schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(3L, "c", 30))))
    FrameLog.append(fl, "sub1", pre)

    val sub = new Engine(spark, subWh)
    exec(sub, s"CREATE SUBSCRIPTION sub1 CONNECTION " +
      s"'warehouse=$pubWh dbname=main framelog=$fl slot=sub1' " +
      "PUBLICATION pub1")
    // snapshot copied the publisher's state
    assert(exec(sub, "SELECT id, v, n FROM acct ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)))
    // catalog surfaces
    val shown = exec(sub, "SHOW SUBSCRIPTIONS").df.get.collect()
    assert(shown.length === 1 && shown(0).getString(0) === "sub1" &&
      shown(0).getBoolean(2))
    assert(exec(sub,
      "SELECT subname, subenabled FROM pg_catalog.pg_subscription").df.get
      .as[(String, Boolean)].collect().toSeq === Seq(("sub1", true)))
    // pre-existing frames do NOT replay (checkpoint = pre-copy WAL pos)
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected === 0L)

    // post-snapshot publication: insert, update, delete in one txn
    val (t2, lsn2) = PgOutputEncoder.txn(lsn1, 101L, 16384, "public",
      "acct", schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(4L, "d", 40)),
        PgOutputEncoder.Change(CdcMerge.ActionUpdate, Seq(2L, "b2", 21)),
        PgOutputEncoder.Change(CdcMerge.ActionDelete, Seq(1L, null, null))))
    FrameLog.append(fl, "sub1", t2)
    val (applied, jobs) =
      countJobs(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected)
    assert(applied > 0L)
    // a single-table window pays no persist + count (6 jobs measured
    // before the apply was shared with the replica)
    assert(jobs <= 6, s"single-table subscription window ran $jobs jobs")
    assert(exec(sub, "SELECT id, v, n FROM acct ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((2L, "b2", 21), (3L, "c", 30), (4L, "d", 40)))
    // idempotent: nothing new → applies nothing
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected === 0L)

    // DISABLE pauses the apply; the frames wait in the log
    exec(sub, "ALTER SUBSCRIPTION sub1 DISABLE")
    val (t3, _) = PgOutputEncoder.txn(lsn2, 102L, 16384, "public",
      "acct", schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionDelete, Seq(3L, null, null))))
    FrameLog.append(fl, "sub1", t3)
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected === 0L)
    assert(exec(sub, "SELECT count(*) FROM acct").df.get.as[Long].head() === 3L)
    // ENABLE resumes exactly where it paused
    exec(sub, "ALTER SUBSCRIPTION sub1 ENABLE")
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected > 0L)
    assert(exec(sub, "SELECT id FROM acct ORDER BY id").df.get
      .as[Long].collect().toSeq === Seq(2L, 4L))

    // the poll checkpoint advanced in BYTES too — refreshes read
    // O(new bytes), never re-walking the whole log
    val meta = sub.subscriptions("sub1")
    assert(meta("bytepos").toLong > 0L &&
      meta("lsn").toLong >= lsn2, s"checkpoint did not advance: $meta")

    // TORN TRANSACTION: a publisher mid-append leaves complete RECORDS
    // but no Commit — the poll window must stop BEFORE the partial txn
    // (applying it would both show a torn txn and wedge the next poll
    // on a Begin-less suffix). The commit's arrival releases it whole.
    val (t4, _) = PgOutputEncoder.txn(lsn2 + 10, 103L, 16384, "public",
      "acct", schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(9L, "torn", 90))))
    FrameLog.append(fl, "sub1", t4.dropRight(1)) // hold back the Commit
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected === 0L,
      "a commit-less suffix must not apply")
    assert(exec(sub, "SELECT count(*) FROM acct WHERE id = 9").df.get
      .as[Long].head() === 0L)
    FrameLog.append(fl, "sub1", t4.takeRight(1)) // the Commit lands
    assert(exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH").affected === t4.size.toLong)
    assert(exec(sub, "SELECT v FROM acct WHERE id = 9").df.get
      .as[String].head() === "torn")

    // DROP removes the subscription, keeps the tables (PG semantics)
    exec(sub, "DROP SUBSCRIPTION sub1")
    assert(exec(sub, "SHOW SUBSCRIPTIONS").df.get.collect().isEmpty)
    assert(exec(sub, "SELECT count(*) FROM acct").df.get.as[Long].head() === 3L)
    intercept[Exception](exec(sub, "ALTER SUBSCRIPTION sub1 REFRESH"))
  }

  test("refresh: a multi-table window applies in ONE decode pass") {
    // the window apply the replica shares: a subscription publishing
    // N tables must parse the poll window's bytes once
    // (decodeSlotStreamsMulti), not once per table
    val pubWh = tmpDir("multi_pub")
    val fl = tmpDir("multi_fl")
    val pub = new Engine(spark, pubWh)
    Seq("ma", "mb", "mc").foreach(t => exec(pub,
      s"CREATE TABLE $t (id BIGINT NOT NULL, v STRING, n INT, " +
        "PRIMARY KEY (id))"))
    exec(pub, "INSERT INTO ma VALUES (1, 'a', 1)")
    val sub = new Engine(spark, tmpDir("multi_sub"))
    exec(sub, s"CREATE SUBSCRIPTION subm CONNECTION " +
      s"'warehouse=$pubWh dbname=main framelog=$fl slot=subm' " +
      "PUBLICATION pm")
    // post-snapshot txns across three DISTINCT relations
    val (t1, l1) = PgOutputEncoder.txn(1L, 200L, 16401, "public", "ma",
      schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionUpdate, Seq(1L, "a2", 2)),
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(2L, "b", 3))))
    val (t2, l2) = PgOutputEncoder.txn(l1, 201L, 16402, "public", "mb",
      schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(10L, "x", 5))))
    val (t3, _) = PgOutputEncoder.txn(l2, 202L, 16403, "public", "mc",
      schema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(20L, "y", 7)),
        PgOutputEncoder.Change(CdcMerge.ActionDelete, Seq(20L, null, null))))
    FrameLog.append(fl, "subm", t1 ++ t2 ++ t3)
    val passes0 = graft.streaming.PgOutputDecoder.decodePasses.get()
    val (applied, jobs) =
      countJobs(exec(sub, "ALTER SUBSCRIPTION subm REFRESH").affected)
    assert(applied === (t1.size + t2.size + t3.size).toLong)
    assert(jobs <= 13, s"3-table subscription window ran $jobs jobs (13 " +
      "measured before the apply was shared with the replica)")
    assert(graft.streaming.PgOutputDecoder.decodePasses.get() - passes0
      === 1L,
      "a multi-table subscription window must be message-decoded ONCE")
    assert(exec(sub, "SELECT id, v, n FROM ma ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "a2", 2), (2L, "b", 3)))
    assert(exec(sub, "SELECT id, v, n FROM mb ORDER BY id").df.get
      .as[(Long, String, Int)].collect().toSeq === Seq((10L, "x", 5)))
    assert(exec(sub, "SELECT count(*) FROM mc").df.get
      .as[Long].head() === 0L,
      "the in-txn insert+delete must condense away")
    // idempotent re-poll
    assert(exec(sub, "ALTER SUBSCRIPTION subm REFRESH").affected === 0L)
    exec(sub, "DROP SUBSCRIPTION subm")
  }

  test("subscription guards: missing warehouse, duplicate, existing table") {
    val wh = tmpDir("sub_guard")
    val e = new Engine(spark, wh)
    intercept[Exception](exec(e, "CREATE SUBSCRIPTION s2 CONNECTION " +
      "'warehouse=/nonexistent-graft-path' PUBLICATION p"))
    val pubWh = tmpDir("sub_guard_pub")
    val pub = new Engine(spark, pubWh)
    exec(pub, "CREATE TABLE tt (id BIGINT PRIMARY KEY, v STRING)")
    exec(pub, "INSERT INTO tt VALUES (1, 'x')")
    // a local table with the published name must refuse (the
    // reference's CREATE TABLE AS would fail the same way)
    exec(e, "CREATE TABLE tt (id BIGINT PRIMARY KEY, v STRING)")
    intercept[Exception](exec(e, s"CREATE SUBSCRIPTION s2 CONNECTION " +
      s"'warehouse=$pubWh' PUBLICATION p"))
    exec(e, "DROP TABLE tt")
    exec(e, s"CREATE SUBSCRIPTION s2 CONNECTION 'warehouse=$pubWh' " +
      "PUBLICATION p")
    intercept[Exception](exec(e, s"CREATE SUBSCRIPTION s2 CONNECTION " +
      s"'warehouse=$pubWh' PUBLICATION p"))
    // snapshot-only subscription (no framelog): refresh is a no-op
    assert(exec(e, "ALTER SUBSCRIPTION s2 REFRESH").affected === 0L)
  }

  test("endAtPgCommit never cuts inside an open streamed transaction") {
    // PG14 streamed txns interleave with serialized ones: chunks of
    // xid B ('S') may precede Commit(A), with StreamCommit(B) later.
    // A cut at Commit(A) would discard B's buffered early chunks while
    // advancing past them — the walk must only cut where no stream is
    // open.
    val fl = tmpDir("sub_streamcut")
    def be(n: Long, w: Int): Array[Byte] =
      (0 until w).map(i => ((n >> (8 * (w - 1 - i))) & 0xff).toByte).toArray
    val sStart = Array('S'.toByte) ++ be(42L, 4) :+ 1.toByte
    val commitA = PgOutputEncoder.commit(7L)
    val streamCommitB =
      Array('c'.toByte) ++ be(42L, 4) ++ Array(0.toByte) ++
        be(9L, 8) ++ be(10L, 8) ++ be(0L, 8)
    FrameLog.append(fl, "x", Seq((1L, sStart), (2L, commitA)))
    val (cut1, off1) = FrameLog.endState(fl, "x", 0L) // plain walk: all
    val (cutPg, offPg) = FrameLog.endAtPgCommit(fl, "x", 0L)
    assert(off1 === Some(2L) && cut1 > 0L)
    assert(cutPg === 0L && offPg.isEmpty,
      "Commit(A) with stream B open must NOT be a cut point")
    FrameLog.append(fl, "x", Seq((3L, streamCommitB)))
    val (cut2, off2) = FrameLog.endAtPgCommit(fl, "x", 0L)
    assert(off2 === Some(3L) && cut2 === cut1 + 12 + streamCommitB.length,
      "StreamCommit(B) closes the stream and becomes the cut")
  }

  test("live publisher: CREATE SUBSCRIPTION runs the PG apply daemon") {
    // r16 verdict #4 — the exact analog of START REPLICA →
    // MySqlBinlogClient (reference subscription_handler.go:202-290
    // streams from the publisher continuously): a scripted publisher
    // speaks the replication sub-protocol; CREATE SUBSCRIPTION with
    // host= starts PgReplicationClient appending to the subscription's
    // framelog slot; REFRESH consumes it unchanged; DISABLE stops the
    // daemon, ENABLE reconnects (GTID-analog: resumes past txn 1).
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.ServerSocket
    import java.nio.charset.StandardCharsets
    def be(n: Long, w: Int): Array[Byte] =
      (0 until w).reverseIterator
        .map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cstr(s: String): Array[Byte] = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      java.util.Arrays.copyOf(b, b.length + 1)
    }
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); parts.foreach(o.write)
      o.toByteArray
    }
    def writeMsg(out: DataOutputStream, tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
      out.flush()
    }
    def readStartup(in: DataInputStream): Unit = {
      val len = in.readInt(); in.readFully(new Array[Byte](len - 4))
    }
    def readMsg(in: DataInputStream): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val b = new Array[Byte](len - 4); in.readFully(b); (tpe, b)
    }
    def xlog(out: DataOutputStream, walStart: Long, p: Array[Byte]): Unit =
      writeMsg(out, 'd', cat(Array('w'.toByte), be(walStart, 8),
        be(walStart, 8), be(0L, 8), p))
    def keepalive(out: DataOutputStream, walEnd: Long): Unit =
      writeMsg(out, 'd', cat(Array('k'.toByte), be(walEnd, 8), be(0L, 8),
        Array(1.toByte)))
    val relOid = 16384
    val rel = cat(Seq(Array('R'.toByte), be(relOid, 4), cstr("public"),
      cstr("acct"), Array('d'.toByte), be(2, 2)) ++
      Seq(("id", 20), ("v", 25)).flatMap { case (cn, t) =>
        Seq(Array(0.toByte), cstr(cn), be(t, 4), be(0xffffffffL, 4))
      }: _*)
    def tup(vals: Option[String]*): Array[Byte] =
      cat(Seq(be(vals.size, 2)) ++ vals.map {
        case Some(s) =>
          val b = s.getBytes(StandardCharsets.UTF_8)
          cat(Array('t'.toByte), be(b.length, 4), b)
        case None => Array('n'.toByte)
      }: _*)
    def beginM(lsn: Long, xid: Long): Array[Byte] =
      cat(Array('B'.toByte), be(lsn, 8), be(0L, 8), be(xid, 4))
    def commitM(lsn: Long): Array[Byte] =
      cat(Array('C'.toByte, 0.toByte), be(lsn, 8), be(lsn + 1, 8), be(0L, 8))
    def insertM(t: Array[Byte]): Array[Byte] =
      cat(Array('I'.toByte), be(relOid, 4), Array('N'.toByte), t)

    val requestedLsns = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val serverErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val server = new ServerSocket(0)
    val publisher = new Thread(() => {
      try {
        def session(txn: DataOutputStream => Unit): Unit = {
          val s = server.accept()
          val in = new DataInputStream(s.getInputStream)
          val out = new DataOutputStream(s.getOutputStream)
          readStartup(in)
          writeMsg(out, 'R', be(0L, 4)) // AuthenticationOk
          writeMsg(out, 'Z', Array('I'.toByte))
          val (q, body) = readMsg(in) // START_REPLICATION
          assert(q == 'Q')
          val sql = new String(body, 0, body.length - 1, StandardCharsets.UTF_8)
          val m = """LOGICAL ([0-9A-F]+)/([0-9A-F]+)""".r
            .findFirstMatchIn(sql).get
          requestedLsns.add((java.lang.Long.parseLong(m.group(1), 16) << 32) |
            java.lang.Long.parseLong(m.group(2), 16))
          writeMsg(out, 'W', cat(Array(0.toByte), be(0L, 2))) // CopyBoth
          txn(out)
          // hold until the daemon disconnects (DISABLE/DROP)
          try while (true) readMsg(in) catch { case _: Throwable => () }
          try s.close() catch { case _: Throwable => () }
        }
        session { out => // txn 1: insert (2, 'b')
          xlog(out, 100L, beginM(100L, 9L))
          xlog(out, 101L, rel)
          xlog(out, 102L, insertM(tup(Some("2"), Some("b"))))
          xlog(out, 103L, commitM(100L))
          keepalive(out, 103L) // reply-requested: forces the log flush
        }
        session { out => // txn 2 (after ENABLE): insert (3, 'c')
          xlog(out, 200L, beginM(200L, 10L))
          xlog(out, 201L, rel)
          xlog(out, 202L, insertM(tup(Some("3"), Some("c"))))
          xlog(out, 203L, commitM(200L))
          keepalive(out, 203L)
        }
      } catch { case e: Throwable => serverErr.set(e) }
    }, "scripted-publisher")
    publisher.setDaemon(true)
    publisher.start()

    val pubWh = tmpDir("sub_live_pub")
    val pub = new Engine(spark, pubWh)
    exec(pub, "CREATE TABLE acct (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(pub, "INSERT INTO acct VALUES (1, 'a')")
    val fl = tmpDir("sub_live_fl")
    val sub = new Engine(spark, tmpDir("sub_live_sub"))
    exec(sub, s"CREATE SUBSCRIPTION live1 CONNECTION " +
      s"'warehouse=$pubWh dbname=main host=127.0.0.1 " +
      s"port=${server.getLocalPort} user=repl framelog=$fl slot=live1' " +
      "PUBLICATION pubx")
    assert(sub.subscriptionDaemonRunning("live1"), "daemon must start")
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
      assert(cond, s"timed out: $what")
    }
    // the daemon lands txn 1 in the framelog; REFRESH applies it
    await("txn 1 flushed")(
      FrameLog.endAtPgCommit(fl, "live1", 0L)._2.contains(103L))
    assert(exec(sub, "ALTER SUBSCRIPTION live1 REFRESH").affected > 0L)
    import spark.implicits._
    assert(exec(sub, "SELECT id, v FROM acct ORDER BY id").df.get
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // DISABLE stops the daemon
    exec(sub, "ALTER SUBSCRIPTION live1 DISABLE")
    await("daemon stopped")(!sub.subscriptionDaemonRunning("live1"))
    // ENABLE reconnects; the resume LSN skips everything appended
    exec(sub, "ALTER SUBSCRIPTION live1 ENABLE")
    await("daemon restarted")(sub.subscriptionDaemonRunning("live1"))
    await("txn 2 flushed")(
      FrameLog.endAtPgCommit(fl, "live1", 0L)._2.contains(203L))
    assert(exec(sub, "ALTER SUBSCRIPTION live1 REFRESH").affected > 0L)
    assert(exec(sub, "SELECT id FROM acct ORDER BY id").df.get
      .as[Long].collect().toSeq === Seq(1L, 2L, 3L))
    // engine restart: daemons deliberately do NOT auto-start
    // (per-query harness engines — ENGINEERING_NOTES, recorded design
    // decisions);
    // resumeSubscriptionDaemons is the explicit ops surface and
    // reconciles to the PERSISTED flag
    val sub2 = new Engine(spark, sub.warehouse)
    assert(!sub2.subscriptionDaemonRunning("live1"),
      "no auto-start at construction")
    // stop the first engine's daemon so the framelog has ONE appender
    exec(sub, "ALTER SUBSCRIPTION live1 DISABLE")
    await("first engine's daemon stopped")(
      !sub.subscriptionDaemonRunning("live1"))
    exec(sub2, "ALTER SUBSCRIPTION live1 ENABLE")
    // the scripted publisher only serves 2 sessions: the resumed
    // daemon retries against a closed listener — reconcile state is
    // what's under test, not the stream
    assert(sub2.subscriptionDaemonRunning("live1"))
    sub2.resumeSubscriptionDaemons() // idempotent on a running daemon
    assert(sub2.subscriptionDaemonRunning("live1"))
    exec(sub2, "ALTER SUBSCRIPTION live1 DISABLE")
    await("resumed daemon stopped")(
      !sub2.subscriptionDaemonRunning("live1"))
    sub2.resumeSubscriptionDaemons() // disabled: reconciles to stopped
    assert(!sub2.subscriptionDaemonRunning("live1"))
    exec(sub, "ALTER SUBSCRIPTION live1 ENABLE")

    // DROP stops the daemon; tables survive
    exec(sub, "DROP SUBSCRIPTION live1")
    await("daemon dropped")(!sub.subscriptionDaemonRunning("live1"))
    assert(exec(sub, "SELECT count(*) FROM acct").df.get.as[Long].head() === 3L)
    server.close()
    assert(serverErr.get() === null,
      s"scripted publisher failed: ${serverErr.get()}")
    assert(requestedLsns.get(0) === 1L, "fresh slot resumes from the start")
    assert(requestedLsns.get(1) === 104L,
      "the reconnect must resume past txn 1 (framelog IS the position store)")
  }

  test("read-your-writes: a SELECT drains a live subscription's pending frames") {
    // r17 verdict #2's PG leg (reference backend/executor.go:55-61
    // flush-before-query): with the apply daemon RUNNING, a plain
    // SELECT on a subscribed table — no ALTER ... REFRESH — must see
    // the published transaction once the daemon's status-cadence
    // flush lands it in the framelog.
    import java.io.{DataInputStream, DataOutputStream}
    import java.net.ServerSocket
    import java.nio.charset.StandardCharsets
    def be(n: Long, w: Int): Array[Byte] =
      (0 until w).reverseIterator
        .map(i => ((n >> (8 * i)) & 0xff).toByte).toArray
    def cstr(s: String): Array[Byte] = {
      val b = s.getBytes(StandardCharsets.UTF_8)
      java.util.Arrays.copyOf(b, b.length + 1)
    }
    def cat(parts: Array[Byte]*): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); parts.foreach(o.write)
      o.toByteArray
    }
    def writeMsg(out: DataOutputStream, tpe: Char, body: Array[Byte]): Unit = {
      out.writeByte(tpe); out.writeInt(4 + body.length); out.write(body)
      out.flush()
    }
    def readStartup(in: DataInputStream): Unit = {
      val len = in.readInt(); in.readFully(new Array[Byte](len - 4))
    }
    def readMsg(in: DataInputStream): (Char, Array[Byte]) = {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      val b = new Array[Byte](len - 4); in.readFully(b); (tpe, b)
    }
    def xlog(out: DataOutputStream, walStart: Long, p: Array[Byte]): Unit =
      writeMsg(out, 'd', cat(Array('w'.toByte), be(walStart, 8),
        be(walStart, 8), be(0L, 8), p))
    def keepalive(out: DataOutputStream, walEnd: Long): Unit =
      writeMsg(out, 'd', cat(Array('k'.toByte), be(walEnd, 8), be(0L, 8),
        Array(1.toByte)))
    val relOid = 16384
    val rel = cat(Seq(Array('R'.toByte), be(relOid, 4), cstr("public"),
      cstr("racct"), Array('d'.toByte), be(2, 2)) ++
      Seq(("id", 20), ("v", 25)).flatMap { case (cn, t) =>
        Seq(Array(0.toByte), cstr(cn), be(t, 4), be(0xffffffffL, 4))
      }: _*)
    def tup(vals: String*): Array[Byte] =
      cat(Seq(be(vals.size, 2)) ++ vals.map { s =>
        val b = s.getBytes(StandardCharsets.UTF_8)
        cat(Array('t'.toByte), be(b.length, 4), b)
      }: _*)
    val server = new ServerSocket(0)
    val publisher = new Thread(() => {
      try {
        val s = server.accept()
        val in = new DataInputStream(s.getInputStream)
        val out = new DataOutputStream(s.getOutputStream)
        readStartup(in)
        writeMsg(out, 'R', be(0L, 4))
        writeMsg(out, 'Z', Array('I'.toByte))
        readMsg(in) // START_REPLICATION
        writeMsg(out, 'W', cat(Array(0.toByte), be(0L, 2)))
        xlog(out, 100L, cat(Array('B'.toByte), be(100L, 8), be(0L, 8),
          be(9L, 4)))
        xlog(out, 101L, rel)
        xlog(out, 102L, cat(Array('I'.toByte), be(relOid, 4),
          Array('N'.toByte), tup("2", "live")))
        xlog(out, 103L, cat(Array('C'.toByte, 0.toByte), be(100L, 8),
          be(101L, 8), be(0L, 8)))
        keepalive(out, 103L) // reply-requested: forces the log flush
        val sin = s.getInputStream
        try while (sin.read() >= 0) () catch { case _: Throwable => () }
        try s.close() catch { case _: Throwable => () }
      } catch { case _: Throwable => () }
    }, "ryw-scripted-publisher")
    publisher.setDaemon(true)
    publisher.start()

    val pubWh = tmpDir("ryw_pub")
    val pub = new Engine(spark, pubWh)
    exec(pub, "CREATE TABLE racct (id BIGINT NOT NULL, v STRING, " +
      "PRIMARY KEY (id))")
    exec(pub, "INSERT INTO racct VALUES (1, 'seed')")
    val fl = tmpDir("ryw_fl")
    val sub = new Engine(spark, tmpDir("ryw_sub"))
    exec(sub, s"CREATE SUBSCRIPTION ryw1 CONNECTION " +
      s"'warehouse=$pubWh dbname=main host=127.0.0.1 " +
      s"port=${server.getLocalPort} user=repl framelog=$fl slot=ryw1' " +
      "PUBLICATION pubx")
    try {
      assert(sub.subscriptionDaemonRunning("ryw1"), "daemon must start")
      // NO explicit REFRESH below: the SQL entry's drain is the only
      // apply path. Poll-with-deadline (the daemon's flush rides its
      // status cadence).
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      def visible(): Seq[(Long, String)] =
        exec(sub, "SELECT id, v FROM racct ORDER BY id").df.get
          .as[(Long, String)].collect().toSeq
      var got = visible()
      while (got.size < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100); got = visible()
      }
      assert(got === Seq((1L, "seed"), (2L, "live")),
        s"SELECT never saw the published txn without an explicit REFRESH: $got")
    } finally {
      exec(sub, "DROP SUBSCRIPTION ryw1")
      server.close()
    }
  }

  test("timestamptz columns survive the publish→refresh round trip") {
    // PgOutputEncoder advertises TimestampType as OID 1184
    // (timestamptz); the decoder's 1184 text branch requires a
    // PG-style offset — an offset-less spelling wedged the first
    // REFRESH on any table with a TIMESTAMP column (ADVICE r16)
    val pubWh = tmpDir("sub_ts_pub")
    val subWh = tmpDir("sub_ts_sub")
    val fl = tmpDir("sub_ts_fl")
    val pub = new Engine(spark, pubWh)
    exec(pub, "CREATE TABLE evts (id BIGINT NOT NULL, ts TIMESTAMP, " +
      "PRIMARY KEY (id))")
    exec(pub, "INSERT INTO evts VALUES (1, TIMESTAMP'2024-03-05 06:07:08')")
    val sub = new Engine(spark, subWh)
    exec(sub, s"CREATE SUBSCRIPTION ts1 CONNECTION " +
      s"'warehouse=$pubWh dbname=main framelog=$fl slot=ts1' " +
      "PUBLICATION p")
    val tsSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType)))
    // fractional and whole-second spellings both parse back
    val frac = java.sql.Timestamp.from(
      java.time.Instant.parse("2031-01-02T03:04:05.123456Z"))
    val whole = java.sql.Timestamp.from(
      java.time.Instant.parse("2031-06-07T08:09:10Z"))
    assert(PgOutputEncoder.textOf(frac) ===
      Some("2031-01-02 03:04:05.123456+00"))
    assert(PgOutputEncoder.textOf(whole) === Some("2031-06-07 08:09:10+00"))
    val (t1, _) = PgOutputEncoder.txn(1L, 7L, 16384, "public", "evts",
      tsSchema, Seq(
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(2L, frac)),
        PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(3L, whole))))
    FrameLog.append(fl, "ts1", t1)
    assert(exec(sub, "ALTER SUBSCRIPTION ts1 REFRESH").affected > 0L)
    val got = exec(sub, "SELECT id, ts FROM evts WHERE id >= 2 ORDER BY id")
      .df.get.collect()
    assert(got(0).getTimestamp(1).toInstant === frac.toInstant)
    assert(got(1).getTimestamp(1).toInstant === whole.toInstant)
  }

  test("StreamAbort: subtransaction abort keeps the top-level stream open") {
    // pgoutput 'A' carries (xid, subxid); only subxid == xid aborts
    // the top-level stream — a subxact abort must not make a following
    // Commit look like a safe cut mid-streamed-transaction
    val fl = tmpDir("sub_subabort")
    def be(n: Long, w: Int): Array[Byte] =
      (0 until w).map(i => ((n >> (8 * (w - 1 - i))) & 0xff).toByte).toArray
    val sStart = Array('S'.toByte) ++ be(42L, 4) :+ 1.toByte
    val subAbort = Array('A'.toByte) ++ be(42L, 4) ++ be(43L, 4)
    val commitA = PgOutputEncoder.commit(7L)
    FrameLog.append(fl, "x", Seq((1L, sStart), (2L, subAbort), (3L, commitA)))
    val (cut1, off1) = FrameLog.endAtPgCommit(fl, "x", 0L)
    assert(cut1 === 0L && off1.isEmpty,
      "subxact abort must NOT close its stream")
    val topAbort = Array('A'.toByte) ++ be(42L, 4) ++ be(42L, 4)
    val commitB = PgOutputEncoder.commit(9L)
    FrameLog.append(fl, "x", Seq((4L, topAbort), (5L, commitB)))
    val (cut2, off2) = FrameLog.endAtPgCommit(fl, "x", 0L)
    assert(off2 === Some(5L) && cut2 > 0L,
      "top-level abort closes the stream; the next Commit is a cut")
  }

  test("framelog windowed batch read: ranged slots only, exact window") {
    val fl = tmpDir("sub_flrange")
    val sch = StructType(Seq(StructField("id", LongType, nullable = false)))
    val (t1, l1) = PgOutputEncoder.txn(1L, 1L, 1, "public", "t", sch,
      Seq(PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(1L))))
    val mid = FrameLog.endState(fl, "a", 0L)._1 // before the append below
    FrameLog.append(fl, "a", t1)
    val cut = FrameLog.endState(fl, "a", 0L)._1
    val (t2, _) = PgOutputEncoder.txn(l1, 2L, 1, "public", "t", sch,
      Seq(PgOutputEncoder.Change(CdcMerge.ActionInsert, Seq(2L))))
    FrameLog.append(fl, "a", t2)
    FrameLog.append(fl, "b", t1) // unranged slot must not be read
    assert(mid === 0L)
    val all = spark.read.format("framelog").load(fl.toString)
    assert(all.count() === t1.size * 2L + t2.size)
    val windowed = spark.read.format("framelog")
      .option("range.a", s"$cut:${FrameLog.endState(fl, "a", cut)._1}")
      .load(fl.toString)
    val got = windowed.collect()
    assert(got.forall(_.getString(0) == "a") && got.length === t2.size,
      s"window read returned ${got.length} frames")
    assert(got.map(_.getLong(1)).min > t1.map(_._1).max,
      "window must hold only the second txn's frames")
  }
}
