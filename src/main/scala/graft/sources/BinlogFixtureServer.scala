package graft.sources

import java.io.{DataInputStream, IOException, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.atomic.AtomicInteger

/** An in-process loopback MySQL PRIMARY for replication tests — the
  * server half of the wire the reference's `BinLogStreamReader` connects
  * to (`/root/reference/src/cdc_replicator.py:99-145`), serving
  * [[BinlogFixture]]-encoded binlog files over a real TCP socket with
  * the real protocol: handshake v10 with a per-connection scramble,
  * `mysql_native_password` verification against the STORED double hash
  * (never the plaintext), COM_REGISTER_SLAVE, COM_BINLOG_DUMP from a
  * (file, byte-offset) position, and COM_BINLOG_DUMP_GTID with
  * server-side transaction skipping — the primary's half of a GTID
  * failover resume. Events stream one per packet behind the 0x00 OK
  * byte, exactly the relationship between the file format and the
  * stream format real servers have; at end-of-logs the NON_BLOCK flag
  * yields an EOF packet (tests need a deterministic end; the
  * reference's `blocking=True` tail is the same stream without it).
  *
  * `dropAfterEvents(dumpIdx)` force-closes the (dumpIdx+1)-th DUMP
  * connection's socket (session-query connections don't count)
  * after N event packets — the mid-stream kill t38 uses to prove the
  * client's reconnect/backoff/resume loop (the reference's T8,
  * `src/cdc_replicator.py:369-414`).
  *
  * Test infrastructure by design (the sandbox has no mysqld), but real
  * protocol bytes end-to-end: the client under test cannot tell the
  * difference at the layer being certified.
  */
final class BinlogFixtureServer(
    files: IndexedSeq[(String, Array[Byte])],
    user: String,
    password: String,
    dropAfterEvents: Map[Int, Int] = Map.empty,
    heartbeatMs: Long = 25L,
    authPlugin: String = MysqlProtocol.NativePasswordPlugin,
    advertisePlugin: Option[String] = None,
    // cold cache: the caching_sha2 entry is EMPTY until one successful
    // full auth (a fresh 8.0 primary after restart) — the first login
    // must complete the RSA exchange; the success populates the cache
    // and later logins take the fast path, exactly the real lifecycle
    sha2ColdCache: Boolean = false,
    // 8.4 removed `SHOW MASTER STATUS` (renamed `SHOW BINARY LOG
    // STATUS`); a fixture constructed with the new spelling answers
    // ONLY it, erroring on the old form like a real 8.4 server
    masterStatusSpelling: String = "SHOW MASTER STATUS",
    // real checksum-enabled primaries refuse a dump from a session that
    // never issued `SET @master_binlog_checksum = …`; off reproduces
    // old lenient servers for the pre-negotiation tests
    demandChecksumNegotiation: Boolean = true) extends AutoCloseable {
  import MysqlProtocol._

  require(files.nonEmpty, "a primary with no binlogs serves nothing")
  require(Seq(NativePasswordPlugin, CachingSha2Plugin).contains(authPlugin),
    s"unsupported auth plugin $authPlugin")
  // the verifiers reject the protocol's empty-password empty token (a
  // replication account without a password is a misconfiguration, not a
  // test shape) — fail at construction, not with a confusing 1045
  require(password.nonEmpty, "fixture accounts need a password")

  private val storedHash = doubleHash(password) // mysql_native double hash
  private val sha2Cache = cachingSha2CacheEntry(password)
  @volatile private var sha2CacheWarm = !sha2ColdCache
  // the RSA pair a real server generates at startup (--sha256-password-
  // auto-generate-rsa-keys); built lazily — only cold-cache runs pay it
  private lazy val rsaKeys: java.security.KeyPair = {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    g.generateKeyPair()
  }
  private val server =
    new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  @volatile private var closed = false
  private val connCounter = new AtomicInteger(0)
  private val dumpCounter = new AtomicInteger(0)
  private val fastAuthCounter = new AtomicInteger(0)
  private val fullAuthCounter = new AtomicInteger(0)
  // a binlog only ever GROWS: `visibleLen` is the byte length each file
  // currently exposes to status queries and dumps, so a test can place
  // a masterStatus() capture BETWEEN two write waves (truncate, capture,
  // reveal = "writes landed after the capture") — the o21 topology shape
  @volatile private var visibleLen: Map[String, Int] =
    files.map { case (n, b) => n -> b.length }.toMap

  /** The ephemeral port the fixture listens on. */
  def port: Int = server.getLocalPort

  /** Connections accepted so far (t38 REQUIREs the reconnect happened). */
  def connections: Int = connCounter.get()

  /** caching_sha2 fast-path logins served (cache hits). */
  def fastAuths: Int = fastAuthCounter.get()

  /** caching_sha2 FULL (RSA) logins served — cold-cache bootstraps. */
  def fullAuths: Int = fullAuthCounter.get()

  /** Expose only the first `len` bytes of `file` (must cut on an event
    * boundary — callers derive it from an encode() prefix). Only the
    * LAST file of the chain may be cut: a real binlog grows its ACTIVE
    * file only — earlier files are sealed by their ROTATE — and the
    * dump walk + the blocking growth watch rely on exactly that (a
    * mid-chain gap would skip bytes silently, a mid-chain reveal would
    * never be noticed). */
  def truncate(file: String, len: Int): Unit = {
    require(file == files.last._1,
      s"only the last (active) binlog file ${files.last._1} can grow — " +
        s"$file is sealed by its rotate")
    val full = files.find(_._1 == file)
      .getOrElse(throw new IllegalArgumentException(s"no such file $file"))._2
    require(len >= 4 && len <= full.length, s"bad visible length $len")
    visibleLen += file -> len
  }

  /** Restore `file`'s full length — the truncated tail "lands" as new
    * writes; subsequent status queries and dumps see it. Last-file-only,
    * like [[truncate]]. */
  def reveal(file: String): Unit = {
    require(file == files.last._1,
      s"only the last (active) binlog file ${files.last._1} can grow — " +
        s"$file is sealed by its rotate")
    visibleLen += file -> files.find(_._1 == file).get._2.length
  }

  private val acceptor = new Thread(() => acceptLoop(), "binlog-fixture-server")
  acceptor.setDaemon(true)
  acceptor.start()

  private def acceptLoop(): Unit =
    while (!closed) {
      val sock =
        try server.accept()
        catch { case _: IOException => return } // closed
      val idx = connCounter.getAndIncrement()
      val t = new Thread(() => {
        try serve(sock, idx)
        catch { case _: IOException | _: IllegalArgumentException => () }
        finally sock.close()
      }, s"binlog-fixture-conn-$idx")
      t.setDaemon(true)
      t.start()
    }

  /** Deterministic per-connection scramble (tests replay byte-identically). */
  private def scrambleFor(idx: Int): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"graft-fixture-scramble-$idx".getBytes()).take(20)

  private def serve(sock: Socket, idx: Int): Unit = {
    // same latency discipline as the client: no Nagle stalls on the
    // header-then-payload write pairs, one coalesced segment per packet
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new java.io.BufferedInputStream(
      sock.getInputStream, 1 << 16))
    val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val scramble = scrambleFor(idx)
    // the handshake may advertise a DIFFERENT plugin than the user's
    // row demands (a real 8.0 shape: default_authentication_plugin vs
    // the account's) — the mismatch forces an AuthSwitchRequest
    val advertised = advertisePlugin.getOrElse(authPlugin)
    writePacket(out, 0, encodeHandshake(Handshake(
      "8.0.99-graft-fixture", idx.toLong + 1, scramble,
      ClientCapabilities, advertised)))
    val resp = decodeHandshakeResponse(readPacket(in).payload)
    var token = resp.token
    var nonce = scramble
    var seq = 2
    if (resp.authPlugin != authPlugin) {
      val nonce2 = scrambleFor(idx + 0x10000)
      writePacket(out, seq, authSwitchPacket(authPlugin, nonce2))
      val sw = readPacket(in)
      token = sw.payload
      nonce = nonce2
      seq = sw.seq + 1
    }
    val authOk = authPlugin match {
      case NativePasswordPlugin =>
        resp.user == user && verifyNativePassword(storedHash, nonce, token)
      case _ if sha2CacheWarm =>
        // fast path: the cache holds the entry (any primary after one
        // prior successful login)
        val ok = resp.user == user && verifyCachingSha2(sha2Cache, nonce, token)
        if (ok) {
          writePacket(out, seq, fastAuthSuccessPacket)
          seq += 1
          fastAuthCounter.getAndIncrement()
          ()
        }
        ok
      case _ =>
        // COLD cache: the scramble token is unverifiable (the server
        // holds only the mysql.user crypt hash, not the cache entry) —
        // demand full authentication: 0x01 0x04, then the RSA exchange
        writePacket(out, seq, fullAuthRequiredPacket)
        val req = readPacket(in)
        if (isPublicKeyRequest(req.payload)) {
          writePacket(out, req.seq + 1,
            publicKeyPacket(pemPublicKey(rsaKeys.getPublic)))
          val enc = readPacket(in)
          seq = enc.seq + 1
          val ok = resp.user == user &&
            (try rsaDecryptPassword(rsaKeys.getPrivate, enc.payload, nonce) ==
              password
            catch { case _: Exception => false })
          if (ok) {
            // the successful full auth POPULATES the cache — the next
            // login takes the fast path, the real server lifecycle
            sha2CacheWarm = true
            fullAuthCounter.getAndIncrement()
            ()
          }
          ok
        } else { seq = req.seq + 1; false }
    }
    if (!authOk) {
      writePacket(out, seq, errPacket(1045,
        s"Access denied for user '${resp.user}'"))
      return
    }
    writePacket(out, seq, okPacket)
    // command phase: each command restarts the sequence at 0
    var streaming = true
    var checksumNegotiated = false // per-SESSION, like the real variable
    while (streaming) {
      val cmd = readPacket(in).payload
      require(cmd.nonEmpty, "empty command packet")
      (cmd(0) & 0xff) match {
        case ComQuery =>
          // the session-query surface a replication client needs: the
          // reference discovers its start position with SHOW MASTER
          // STATUS (`src/cdc_replicator.py:84-96`); 8.4 spells it SHOW
          // BINARY LOG STATUS and errors on the old form
          val sql = new String(cmd, 1, cmd.length - 1,
            java.nio.charset.StandardCharsets.UTF_8).trim
          if (sql.equalsIgnoreCase(masterStatusSpelling)) {
            val lastName = files.last._1
            var seq = 1
            def put(p: Array[Byte]): Unit = {
              seq = writePacket(out, seq, p)
            }
            put(Array(2.toByte)) // column count
            put(columnDefPacket("File"))
            put(columnDefPacket("Position"))
            put(eofPacket)
            put(textRowPacket(Seq(lastName, visibleLen(lastName).toString)))
            put(eofPacket)
          } else if (sql.toUpperCase.startsWith("SET @MASTER_BINLOG_CHECKSUM")) {
            // the replication client declaring it handles CRC32 trailers
            checksumNegotiated = true
            writePacket(out, 1, okPacket)
          } else writePacket(out, 1,
            errPacket(1064, s"unsupported fixture query: $sql"))
        case ComRegisterSlave =>
          decodeRegisterSlave(cmd) // validates the shape
          writePacket(out, 1, okPacket)
        case ComBinlogDump =>
          val d = decodeBinlogDump(cmd)
          stream(out, d.file, d.pos, GtidSet.Empty,
            (d.flags & BinlogDumpNonBlock) != 0,
            dumpCounter.getAndIncrement(), sock, checksumNegotiated)
          streaming = false // a dump owns the connection to its end
        case ComBinlogDumpGtid =>
          val d = decodeBinlogDumpGtid(cmd)
          val file = if (d.file.isEmpty) files.head._1 else d.file
          stream(out, file, math.max(d.pos, 4L), d.gtids,
            (d.flags & BinlogDumpNonBlock) != 0,
            dumpCounter.getAndIncrement(), sock, checksumNegotiated)
          streaming = false
        case other =>
          writePacket(out, 1, errPacket(1047, s"unknown command $other"))
      }
    }
  }

  /** Stream events from (file, byte offset) to the end of the last file,
    * skipping transactions whose GTID is in `skip` (the primary-side
    * half of a GTID resume). The requested file's FDE is always sent
    * first — a resuming client needs the checksum algorithm before any
    * later event, which is why real primaries re-send it too. */
  private def stream(out: OutputStream, file: String, pos: Long,
                     skip: GtidSet, nonBlock: Boolean, idx: Int,
                     sock: Socket, checksumNegotiated: Boolean): Unit = {
    val startIdx = files.indexWhere(_._1 == file)
    if (startIdx < 0) {
      writePacket(out, 1, errPacket(1236,
        s"Could not find first log file name in binary log index file: $file"))
      return
    }
    // a checksummed log (FDE alg byte = 1) demands the session SET first
    // — the real server's refusal, verbatim error text (8.0 spelling).
    // THIS dump's FDE (the start file's, which stream() always re-sends)
    // also decides whether heartbeats carry the CRC32 trailer; a file's
    // first frame is its FDE, whose `crc` is alg = CRC32
    val checksummed = BinlogFormat.frames(files(startIdx)._2).next().crc
    if (demandChecksumNegotiation && checksummed && !checksumNegotiated) {
      writePacket(out, 1, errPacket(1236,
        "Replica can not handle replication events with the checksum " +
          "that source is configured to log; the first event " +
          s"'$file' at 4, the last event read from './$file'"))
      return
    }
    var seq = 1
    var sent = 0
    val budget = dropAfterEvents.getOrElse(idx, Int.MaxValue)
    def send(bytes: Array[Byte], off: Int, size: Int): Unit = {
      if (sent >= budget) {
        // the mid-stream kill: simulate a crashing primary
        sock.close()
        throw new IOException("fixture kill")
      }
      val p = new Array[Byte](size + 1)
      p(0) = 0 // OK byte prefixing every event packet
      System.arraycopy(bytes, off, p, 1, size)
      // an oversized event (16 MiB LONGBLOB row) spans continuation
      // packets — writePacket chunks it and returns the next seq
      seq = writePacket(out, seq, p)
      sent += 1
    }
    // walk one file's events from `from` to its CURRENTLY visible end,
    // sending what the dump rules allow; returns the offset reached and
    // the GTID-suppress state (a suppressed transaction could in
    // principle straddle a reveal boundary). `framing` is the file's
    // own, kept across a growth re-walk so its FDE still governs
    def walk(fi: Int, framing: BinlogFormat.Framing, from: Int,
             suppress0: Boolean): (Int, Boolean) = {
      val bytes = files(fi)._2
      framing.walk(bytes, from, visibleLen(files(fi)._1))
        .foldLeft((from, suppress0)) { case ((_, suppressed), f) =>
          val suppress = suppressed || (f.tpe == BinlogFormat.GtidEvent &&
            !skip.isEmpty &&
            skip.contains(BinlogFormat.gtidOf(BinlogFormat.body(bytes, f))))
          val positional = fi > startIdx ||
            f.tpe == BinlogFormat.FormatDescriptionEvent || f.off >= pos
          if (positional && !suppress) send(bytes, f.off, f.size)
          // a suppressed transaction ends WITH its XID — or with its
          // TRANSACTION_PAYLOAD, which carries the whole compressed
          // transaction including the inner XID
          (f.end, suppress && f.tpe != BinlogFormat.XidEvent &&
            f.tpe != BinlogFormat.TransactionPayloadEvent)
        }
    }
    var lastOff = 4
    var suppressTail = false
    val tailFraming = new BinlogFormat.Framing
    (startIdx until files.size).foreach { fi =>
      val framing =
        if (fi == files.size - 1) tailFraming else new BinlogFormat.Framing
      val (off, sup) = walk(fi, framing, 4, suppress0 = false)
      lastOff = off
      suppressTail = sup
    }
    if (nonBlock) writePacket(out, seq, eofPacket)
    else {
      // blocking mode: a real primary waits for more log to appear —
      // newly revealed bytes of the LAST file stream as they land —
      // and keeps the connection alive with HEARTBEAT events (the
      // reference's heartbeat_interval=5, cdc_replicator.py:120-123):
      // header-only events naming the current file, end-log-pos = the
      // position served so far. The loop ends when the client hangs up
      // (T9 graceful stop) or the fixture closes.
      val name = files.last._1.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)
      def heartbeat(atPos: Int): Array[Byte] = BinlogFormat.frame(
        BinlogFormat.HeartbeatEvent, name, _ => atPos.toLong,
        crc = checksummed) // heartbeats carry no timestamp or server id
      var hb = heartbeat(lastOff)
      while (!closed) {
        Thread.sleep(heartbeatMs)
        // writes that landed since the last pass (reveal() mid-dump)
        if (visibleLen(files.last._1) > lastOff) {
          val (off, sup) =
            walk(files.size - 1, tailFraming, lastOff, suppressTail)
          lastOff = off
          suppressTail = sup
          hb = heartbeat(lastOff)
        }
        send(hb, 0, hb.length) // IOException on hangup ends us
      }
    }
  }

  override def close(): Unit = {
    closed = true
    server.close()
  }
}
