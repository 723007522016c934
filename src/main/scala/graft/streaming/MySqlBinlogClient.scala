package graft.streaming

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets

/** MySQL binlog replication client daemon — the producer half of the C1
  * connector (reference: the replica applier performs the handshake,
  * requests the dump, registers the heartbeat period, and tolerates
  * reconnects itself,
  * `/root/reference/binlogreplication/binlog_replica_applier.go:108-482`).
  * Speaks the PUBLIC client/server protocol:
  *
  *   initial handshake → [CLIENT_SSL short response + TLS upgrade when
  *   `sslContext` is set] → HandshakeResponse41 answering the plugin
  *   the server announced (mysql_native_password scramble, or the
  *   caching_sha2_password SHA-256 scramble — MySQL 8's default;
  *   AuthSwitchRequest to either plugin is honored, and caching_sha2's
  *   full-authentication path sends the cleartext password over TLS —
  *   on a plaintext channel the in-band RSA public-key exchange runs
  *   when `allowPublicKeyRetrieval` opts in, matching stock clients'
  *   flag-guarded behavior, and fails loudly otherwise) →
  *   `SET @master_binlog_checksum = @@global.binlog_checksum` →
  *   `SET @master_heartbeat_period = <ns>` →
  *   COM_BINLOG_DUMP_GTID(executed gtid set) → event packets.
  *
  * Liveness: registering the heartbeat period obliges the primary to
  * send type-27 heartbeats when idle, so a socket silent for twice the
  * period means a dead/stalled primary, not an idle one — the client
  * drops the connection and reconnects with its GTID resume set.
  *
  * Every binlog event frame is appended to `dir/<slot>.framelog` with a
  * MONOTONE sequence stamp — the `(off, payload)` shape
  * [[FrameLogSource]] serves and [[BinlogEventDecoder]] consumes — with
  * its CRC32 trailer stripped when the primary logs
  * `binlog_checksum=CRC32` ([[BinlogEventDecoder.ChecksumTrailers]]; a
  * trailer that fails verification fails the connection).
  * Heartbeat events (type 27) are transport-only and are NOT appended —
  * they never appear in a binlog (the reference skips them the same
  * way, `binlog_replica_applier.go:756-760`).
  *
  * Resume: the client tracks its own executed-GTID interval set
  * ([[GtidSet]]) by watching GTID/XID envelopes as they pass — the same
  * bookkeeping the reference persists in its position store
  * (`binlog_metadata_persistence.go`) — persists it to
  * `dir/<slot>.gtidpos` (atomic tmp+move) at commit points, and asks
  * the server for everything OUTSIDE that set on (re)connect. A stale
  * set after a crash only means overlap re-ships, which the decoder's
  * own executed watermark drops — delivery stays exactly-once without
  * the client and decoder sharing state. */
final class MySqlBinlogClient(
    host: String,
    port: Int,
    user: String,
    password: String,
    slot: String,
    dir: java.nio.file.Path,
    serverId: Long = 54321L,
    reconnectBackoffMs: Long = 200L,
    maxRetries: Int = 5,
    connectTimeoutMs: Int = 4000,
    // heartbeat period the primary is asked to honor; a socket silent
    // for 2× this is treated as a dead primary and reconnected
    heartbeatPeriodMs: Long = 30000L,
    // Some(ctx) → CLIENT_SSL capability + TLS upgrade after the server
    // handshake, before any credentials travel
    sslContext: Option[javax.net.ssl.SSLContext] = None,
    // caching_sha2 full auth on a PLAINTEXT channel: when true, fetch
    // the server's RSA public key in-band and send the scramble-XORed
    // password OAEP-encrypted (the documented fallback every stock
    // client implements behind a flag). Default FALSE, matching those
    // clients' safety default — an in-band key over an untrusted
    // channel is MITM-able; prefer sslContext.
    allowPublicKeyRetrieval: Boolean = false) {

  @volatile private var stopped = false
  @volatile private var socket: Socket = _
  @volatile var lastError: Option[Throwable] = None
  @volatile var framesAppended: Long = 0L
  /** Guards the frame appender across the event loop and the
    * visibility flusher: flushes only land between whole appends, so
    * the framelog file always ends at a frame boundary. */
  private val appendLock = new Object
  @volatile private var logDirty = false
  @volatile var reconnects: Long = 0L
  /** sid hex → canonical interval text ([[GtidSet]]). */
  @volatile var executed: Map[String, String] = Map.empty

  private var thread: Thread = _
  private def posFile = dir.resolve(slot + ".gtidpos")

  def start(): MySqlBinlogClient = {
    loadPosition()
    thread = new Thread(() => run(), s"mysql-repl-$slot")
    thread.setDaemon(true)
    thread.start()
    this
  }

  def stop(): Unit = {
    stopped = true
    Option(socket).foreach(s => try s.close() catch { case _: IOException => () })
    Option(thread).foreach(_.join(10000))
    savePosition()
  }

  def isRunning: Boolean = Option(thread).exists(_.isAlive)

  /** SHOW REPLICA STATUS's Replica_IO_Running analog (reference
    * `binlog_replica_controller.go` status): "Yes" once the current
    * connection reached the event stream, "Connecting" while a
    * (re)connect attempt is in flight, "No" when the daemon is down. */
  def ioState: String =
    if (!isRunning) "No"
    else if (attemptProgressed) "Yes"
    else "Connecting"

  /** True once the CURRENT connection attempt reached the event stream
    * — a later drop restarts the failure budget instead of consuming
    * it, so `maxRetries` bounds CONSECUTIVE dead-on-arrival attempts,
    * not disconnects over the daemon's lifetime (six heartbeat-window
    * trips spread over days must not kill replication permanently). */
  @volatile private var attemptProgressed = false

  def run(): Unit = {
    var failures = 0
    while (!stopped && failures <= maxRetries) {
      try {
        streamOnce()
        failures = 0
        if (!stopped) { reconnects += 1; sleep(reconnectBackoffMs) }
      } catch {
        case _: Throwable if stopped => ()
        case e: Throwable =>
          lastError = Some(e)
          failures = if (attemptProgressed) 1 else failures + 1
          savePosition()
          if (!stopped && failures <= maxRetries) {
            reconnects += 1
            sleep(reconnectBackoffMs * failures)
          }
      }
    }
  }

  private def sleep(ms: Long): Unit =
    try Thread.sleep(ms) catch { case _: InterruptedException => () }

  // --------------------------------------------------------------
  // gtid position persistence (`sid_hex:intervals` lines)

  private def loadPosition(): Unit = {
    if (!java.nio.file.Files.exists(posFile)) return
    val lines = new String(java.nio.file.Files.readAllBytes(posFile),
      StandardCharsets.UTF_8).linesIterator
    executed = lines.filter(_.nonEmpty).map { l =>
      val Array(sid, ivs) = l.split("=", 2)
      sid -> ivs
    }.toMap
  }

  private def savePosition(): Unit = {
    val body = executed.toSeq.sorted.map { case (s, iv) => s"$s=$iv" }
      .mkString("\n").getBytes(StandardCharsets.UTF_8)
    val tmp = posFile.resolveSibling(posFile.getFileName.toString + ".tmp")
    java.nio.file.Files.write(tmp, body)
    java.nio.file.Files.move(tmp, posFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // --------------------------------------------------------------
  // one connection's lifetime

  private def streamOnce(): Unit = {
    attemptProgressed = false
    val plain = new Socket()
    socket = plain // stop() can close it even mid-TLS-handshake
    plain.connect(new InetSocketAddress(host, port), connectTimeoutMs)
    // setup-phase read bound: a server stalling mid-handshake/auth must
    // throw into the reconnect loop, not hang the daemon forever (the
    // streaming phase replaces this with the heartbeat window below)
    plain.setSoTimeout(math.max(connectTimeoutMs, 1000))
    var s: Socket = plain
    var in = new DataInputStream(s.getInputStream)
    var out = new DataOutputStream(s.getOutputStream)
    val log = new FrameAppender(dir, slot)
    var off = FrameLog.lastOffset(dir, slot).getOrElse(-1L)
    // scopes this attempt's visibility flusher: set in the finally so a
    // reconnect loop never accretes sleeping flusher threads
    val connClosed = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      val (scramble, serverPlugin) = readHandshakeV10(in)
      sslContext.foreach { ctx =>
        // SSLRequest (the capability-only HandshakeResponse prefix) in
        // the clear, then everything — credentials included — over TLS
        sendSslRequest(out)
        val ssl = ctx.getSocketFactory
          .createSocket(s, host, port, true)
          .asInstanceOf[javax.net.ssl.SSLSocket]
        ssl.setUseClientMode(true)
        ssl.startHandshake()
        s = ssl
        socket = ssl
        in = new DataInputStream(ssl.getInputStream)
        out = new DataOutputStream(ssl.getOutputStream)
      }
      authenticate(in, out, scramble, serverPlugin)
      // real servers refuse a dump without the checksum handshake; a
      // CRC32 primary then trails every event with its checksum
      query(in, out, "SET @master_binlog_checksum = @@global.binlog_checksum")
      val trailers = new BinlogEventDecoder.ChecksumTrailers[Unit]
      // heartbeat registration: the primary now owes us a type-27 event
      // at this cadence when idle — silence becomes a liveness signal
      query(in, out,
        s"SET @master_heartbeat_period = ${heartbeatPeriodMs * 1000000L}")
      sendBinlogDumpGtid(out)
      s.setSoTimeout(
        math.min(Int.MaxValue.toLong, heartbeatPeriodMs * 2).toInt)
      attemptProgressed = true // event stream reached
      // in-flight txn coords for the client's own executed bookkeeping
      var curSid: String = null
      var curGno = -1L
      var sinceSave = 0
      def markExecuted(): Unit = if (curSid != null && curGno > 0) {
        executed += curSid ->
          GtidSet.add(executed.getOrElse(curSid, ""), curGno)
        sinceSave += 1
        if (sinceSave >= 64) {
          appendLock.synchronized { log.flush(); savePosition(); logDirty = false }
          sinceSave = 0
        }
      }
      // time-bounded visibility flusher (r17 verdict #2, read-your-
      // writes): a quiet stream's tail must not sit in the appender's
      // buffer until the NEXT 64-commit batch or STOP — the drain in
      // Engine.drainReplicationBeforeRead reads the FILE. Every 100 ms
      // of dirtiness the buffered frames flush under appendLock, so
      // the file always ends at a frame boundary (appends hold the
      // same lock) and a SELECT against a running replica lags a
      // commit by ≤ ~200 ms. A hot stream still batches: the flusher
      // moves bytes, the 64-commit path moves bytes AND the gtid
      // position file. The dirty check-flush-clear is ONE critical
      // section (an append landing between a flush and its clear must
      // not be marked clean — on a then-quiet stream it would sit
      // buffered until STOP), and the thread is scoped to THIS
      // connection attempt (connClosed in the finally) so a reconnect
      // loop never accretes sleeping flushers.
      val flusher = new Thread(() => {
        try while (!stopped && !connClosed.get) {
          Thread.sleep(100)
          appendLock.synchronized {
            if (logDirty && !connClosed.get) { log.flush(); logDirty = false }
          }
        } catch { case _: Throwable => () }
      }, s"mysql-repl-$slot-flush")
      flusher.setDaemon(true)
      flusher.start()
      while (!stopped) {
        val p =
          try readPacket(in)
          catch {
            case _: SocketTimeoutException => throw new IOException(
              s"primary silent for ${heartbeatPeriodMs * 2}ms (no event " +
                "or heartbeat) — treating the connection as dead")
          }
        (p(0) & 0xff) match {
          case 0xff => throw new IOException(s"server error: ${errText(p)}")
          case 0xfe if p.length < 9 =>
            throw new IOException("server ended the dump (EOF)")
          case 0x00 =>
            val event = java.util.Arrays.copyOfRange(p, 1, p.length)
            // heartbeat (27): transport-only, not logged
            if ((event(4) & 0xff) != 27)
              trailers.offer((), event).foreach { case (_, frame) =>
                off += 1
                appendLock.synchronized { log.append(off, frame); logDirty = true }
                framesAppended += 1
                (frame(4) & 0xff) match {
                  case 33 => // GTID: flags(1) sid(16) gno(8) after the header
                    curSid = (19 + 1 until 19 + 17)
                      .map(i => f"${frame(i)}%02x").mkString
                    curGno = LittleEndian.uint(frame, 19 + 17, 8)
                  case 16 => // XID commit marker
                    markExecuted()
                  case 2 => // Query: GTID-mode DDL (and COMMIT on
                    // non-transactional tables) commits HERE — no XID
                    // follows (ADVICE r8). Marking is WHITELISTED to
                    // statements that definitively end their
                    // transaction: a mid-txn Query (SAVEPOINT, ROLLBACK
                    // TO, XA phases) must NOT mark, or a disconnect
                    // before the XID would advertise the gno as executed
                    // and the reconnect would skip the transaction's row
                    // events — permanent data loss. Not marking an
                    // exotic committing statement only re-streams it
                    // (the decoder dedups); marking a non-committing one
                    // loses data, so unknown keywords stay unmarked.
                    if (BinlogEventDecoder.queryCommitsTxn(frame))
                      markExecuted()
                  case _ => ()
                }
              }
          case other =>
            throw new IOException(f"unexpected packet first byte 0x$other%02x")
        }
      }
    } finally {
      appendLock.synchronized { log.close(); logDirty = false }
      connClosed.set(true)
      savePosition()
      try s.close() catch { case _: IOException => () }
    }
  }

  // --------------------------------------------------------------
  // packet plumbing (3-byte LE length + 1-byte seq; >16MB-1 payloads
  // continue in follow-up packets)

  private var seq = 0

  private def readPacket(in: DataInputStream): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var more = true
    while (more) {
      val hdr = new Array[Byte](4)
      in.readFully(hdr)
      val len = (hdr(0) & 0xff) | ((hdr(1) & 0xff) << 8) | ((hdr(2) & 0xff) << 16)
      seq = (hdr(3) & 0xff) + 1
      val body = new Array[Byte](len)
      in.readFully(body)
      out.write(body)
      more = len == 0xffffff
    }
    out.toByteArray
  }

  private def writePacket(out: DataOutputStream, payload: Array[Byte]): Unit = {
    out.writeByte(payload.length & 0xff)
    out.writeByte((payload.length >> 8) & 0xff)
    out.writeByte((payload.length >> 16) & 0xff)
    out.writeByte(seq & 0xff)
    seq += 1
    out.write(payload)
    out.flush()
  }

  private def le(v: Long, n: Int): Array[Byte] =
    (0 until n).map(i => ((v >> (8 * i)) & 0xff).toByte).toArray

  private def cstrAt(d: Array[Byte], p: Int): (String, Int) = {
    val end = d.indexOf(0.toByte, p)
    (new String(d, p, end - p, StandardCharsets.UTF_8), end + 1)
  }

  private def errText(p: Array[Byte]): String =
    // ERR: 0xff code(2) [sqlstate marker+5 with PROTOCOL_41] message
    new String(p, 9, p.length - 9, StandardCharsets.UTF_8)

  // --------------------------------------------------------------
  // handshake (public HandshakeV10 / HandshakeResponse41 layout)

  // LONG_PASSWORD | PROTOCOL_41 | SECURE_CONNECTION | PLUGIN_AUTH
  // (+ CLIENT_SSL when a TLS upgrade is requested)
  private def caps: Long =
    0x00000001L | 0x00000200L | 0x00008000L | 0x00080000L |
      (if (sslContext.isDefined) 0x00000800L else 0L)

  /** HandshakeV10 → (full scramble, the auth plugin the server
    * announced — absent on ancient servers ⇒ native). */
  private def readHandshakeV10(
      in: DataInputStream): (Array[Byte], String) = {
    seq = 0
    val hs = readPacket(in)
    require((hs(0) & 0xff) == 10, s"unsupported protocol version ${hs(0)}")
    var p = 1
    val (_, p1) = cstrAt(hs, p); p = p1 // server version
    p += 4 // thread id
    val scramble1 = java.util.Arrays.copyOfRange(hs, p, p + 8)
    p += 8 + 1 // auth-data-1 + filler
    p += 2 // capabilities lower
    if (p >= hs.length) (scramble1, "mysql_native_password")
    else {
      p += 1 + 2 + 2 // charset + status + capabilities upper
      val authLen = hs(p) & 0xff
      p += 1 + 10 // auth data len + reserved
      val len2 = math.max(13, authLen - 8) - 1 // trailing NUL excluded
      val scramble2 = java.util.Arrays.copyOfRange(hs, p, p + len2)
      p += len2 + 1
      val plugin =
        if (p >= hs.length) "mysql_native_password"
        else {
          val end = hs.indexOf(0.toByte, p)
          new String(hs, p, (if (end < 0) hs.length else end) - p,
            StandardCharsets.UTF_8)
        }
      (scramble1 ++ scramble2, plugin)
    }
  }

  /** SSLRequest: the capability/charset/filler PREFIX of a
    * HandshakeResponse41 (no user/auth), CLIENT_SSL set — the packet
    * that tells the server "TLS handshake next". */
  private def sendSslRequest(out: DataOutputStream): Unit = {
    val body = new java.io.ByteArrayOutputStream()
    body.write(le(caps, 4))
    body.write(le(1L << 24, 4)) // max packet
    body.write(33) // utf8
    body.write(new Array[Byte](23))
    writePacket(out, body.toByteArray)
  }

  /** HandshakeResponse41 answering the server's announced plugin, then
    * the auth sub-protocol to an OK packet. */
  private def authenticate(in: DataInputStream, out: DataOutputStream,
      scramble: Array[Byte], serverPlugin: String): Unit = {
    val plugin =
      if (serverPlugin == "caching_sha2_password") serverPlugin
      else "mysql_native_password"
    val token = authToken(plugin, scramble)
    val body = new java.io.ByteArrayOutputStream()
    body.write(le(caps, 4))
    body.write(le(1L << 24, 4)) // max packet
    body.write(33) // utf8
    body.write(new Array[Byte](23))
    body.write(user.getBytes(StandardCharsets.UTF_8)); body.write(0)
    body.write(token.length); body.write(token)
    body.write(plugin.getBytes(StandardCharsets.UTF_8))
    body.write(0)
    writePacket(out, body.toByteArray)
    authLoop(in, out, scramble)
  }

  private def authToken(plugin: String, scramble: Array[Byte]): Array[Byte] =
    if (plugin == "caching_sha2_password") sha2Token(scramble)
    else nativePasswordToken(scramble)

  /** Drive AuthSwitchRequest / AuthMoreData rounds to an OK packet.
    * `scramble` is the nonce the CURRENT plugin round is bound to —
    * full authentication XORs the password against it, so an
    * AuthSwitchRequest's fresh scramble must replace it. */
  private def authLoop(in: DataInputStream, out: DataOutputStream,
      scramble: Array[Byte]): Unit = {
    var active = scramble
    while (true) {
      val p = readPacket(in)
      (p(0) & 0xff) match {
        case 0x00 => return // OK
        case 0xff =>
          throw new IOException(s"authentication failed: ${errText(p)}")
        case 0xfe if p.length > 1 =>
          // AuthSwitchRequest: plugin name + fresh scramble — the
          // account's plugin differs from the one we offered. Answer
          // with THAT plugin's token over the new scramble.
          val (plugin, pos) = cstrAt(p, 1)
          val data = java.util.Arrays.copyOfRange(p, pos, p.length)
          val sc =
            if (data.nonEmpty && data.last == 0) data.dropRight(1) else data
          plugin match {
            case "mysql_native_password" | "caching_sha2_password" =>
              active = sc
              writePacket(out, authToken(plugin, sc))
            case other => throw new IOException(
              s"server requested unsupported auth plugin '$other' " +
                "(mysql_native_password and caching_sha2_password " +
                "are supported)")
          }
        case 0xfe =>
          throw new IOException("connection closed during authentication")
        case 0x01 =>
          // AuthMoreData — the caching_sha2 sub-protocol
          (if (p.length > 1) p(1) & 0xff else -1) match {
            case 0x03 => () // fast_auth_success: cache warm; OK follows
            case 0x04 =>
              // perform_full_authentication: the cleartext password may
              // travel on a TLS channel; on plaintext, the opt-in RSA
              // fallback fetches the server public key in-band and
              // sends the scramble-XORed password OAEP-encrypted
              if (sslContext.isDefined)
                writePacket(out,
                  password.getBytes(StandardCharsets.UTF_8) :+ 0.toByte)
              else if (allowPublicKeyRetrieval) {
                writePacket(out, Array(0x02.toByte)) // request public key
                val kp = readPacket(in)
                if ((kp(0) & 0xff) != 0x01) throw new IOException(
                  f"expected AuthMoreData with the server public key, got 0x${kp(0) & 0xff}%02x")
                val pem = new String(kp, 1, kp.length - 1, StandardCharsets.UTF_8)
                writePacket(out, rsaEncryptedPassword(pem, active))
              } else throw new IOException(
                "caching_sha2_password full authentication requires TLS " +
                  "(server auth cache cold) — pass sslContext, set " +
                  "allowPublicKeyRetrieval=true to accept the in-band " +
                  "RSA key (MITM-able on an untrusted network), or " +
                  "prime the cache by connecting once with another client")
            case _ => () // forward-compatible skip
          }
        case other =>
          throw new IOException(f"unexpected auth packet first byte 0x$other%02x")
      }
    }
  }

  /** caching_sha2 full-auth RSA fallback: (password ++ NUL) XORed with
    * the cycled 20-byte nonce, encrypted under the server's announced
    * public key with RSA-OAEP(SHA-1) — the exchange every public
    * client implements (reference's library:
    * go-mysql `client/auth.go`; protocol documented in the MySQL
    * internals manual, "sha256_password / caching_sha2_password"). */
  private def rsaEncryptedPassword(pem: String,
      scramble: Array[Byte]): Array[Byte] = {
    val b64 = pem.linesIterator
      .filterNot(_.contains("-----")).mkString.trim
    val der = java.util.Base64.getMimeDecoder.decode(b64)
    val key = java.security.KeyFactory.getInstance("RSA")
      .generatePublic(new java.security.spec.X509EncodedKeySpec(der))
    val input = password.getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    val nonce = scramble.take(20)
    val obf = Array.tabulate(input.length)(i =>
      (input(i) ^ nonce(i % nonce.length)).toByte)
    val c = javax.crypto.Cipher
      .getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE, key)
    c.doFinal(obf)
  }

  /** caching_sha2_password fast-auth scramble:
    * SHA256(pass) XOR SHA256(SHA256(SHA256(pass)) ++ nonce). */
  private def sha2Token(scramble: Array[Byte]): Array[Byte] = {
    if (password.isEmpty) return Array.empty
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h1 = md.digest(password.getBytes(StandardCharsets.UTF_8))
    md.reset()
    val h2 = md.digest(h1)
    md.reset()
    md.update(h2)
    md.update(scramble.take(20))
    val h3 = md.digest()
    h1.indices.map(i => (h1(i) ^ h3(i)).toByte).toArray
  }

  /** mysql_native_password: SHA1(pass) XOR SHA1(scramble ++ SHA1(SHA1(pass))). */
  private def nativePasswordToken(scramble: Array[Byte]): Array[Byte] = {
    if (password.isEmpty) return Array.empty
    val sha = java.security.MessageDigest.getInstance("SHA-1")
    val h1 = sha.digest(password.getBytes(StandardCharsets.UTF_8))
    sha.reset()
    val h2 = sha.digest(h1)
    sha.reset()
    sha.update(scramble.take(20))
    sha.update(h2)
    val h3 = sha.digest()
    h1.indices.map(i => (h1(i) ^ h3(i)).toByte).toArray
  }

  /** COM_QUERY whose statement returns OK (SET/FLUSH-style). */
  private def query(in: DataInputStream, out: DataOutputStream,
      sql: String): Unit = {
    seq = 0
    writePacket(out, Array(0x03.toByte) ++ sql.getBytes(StandardCharsets.UTF_8))
    val r = readPacket(in)
    if ((r(0) & 0xff) == 0xff)
      throw new IOException(s"query failed: ${errText(r)}")
  }

  /** COM_BINLOG_DUMP_GTID: flags(2)=THROUGH_GTID, server_id(4),
    * name_len(4)+name, pos(8), gtid_data_len(4)+gtid_data, where
    * gtid_data = n_sids(8) then per sid sid(16), n_intervals(8), then
    * start(8), end(8) with end EXCLUSIVE — the same encoding
    * PREVIOUS_GTIDS carries. */
  private def sendBinlogDumpGtid(out: DataOutputStream): Unit = {
    seq = 0
    val gtidData = encodeGtidSet()
    val body = new java.io.ByteArrayOutputStream()
    body.write(0x1e) // COM_BINLOG_DUMP_GTID
    body.write(le(0x04L, 2)) // BINLOG_THROUGH_GTID
    body.write(le(serverId, 4))
    body.write(le(0L, 4)) // empty binlog file name
    body.write(le(4L, 8)) // position: start of any file
    body.write(le(gtidData.length.toLong, 4))
    body.write(gtidData)
    writePacket(out, body.toByteArray)
  }

  private def encodeGtidSet(): Array[Byte] = {
    val sets = executed.toSeq.sortBy(_._1)
    val b = new java.io.ByteArrayOutputStream()
    b.write(le(sets.size.toLong, 8))
    sets.foreach { case (sidHex, text) =>
      val sid = sidHex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      b.write(sid)
      val iv = GtidSet.parse(text)
      b.write(le(iv.size.toLong, 8))
      iv.foreach { case (a, bIncl) =>
        b.write(le(a, 8)); b.write(le(bIncl + 1, 8)) // end exclusive
      }
    }
    b.toByteArray
  }
}
