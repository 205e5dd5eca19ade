package graft.sources

import java.io.{DataInputStream, IOException}
import java.net.{InetSocketAddress, Socket}

/** The replication-protocol CLIENT — the half of the reference's
  * `BinLogStreamReader` that lives on the network
  * (`/root/reference/src/cdc_replicator.py:99-145`: fake-replica
  * connection with `server_id`, resume from a (file, pos) offset;
  * `:369-414`: reconnect-with-exponential-backoff on a dropped stream).
  * Speaks [[MysqlProtocol]] over a TCP socket and feeds each event
  * packet to a [[BinlogFormat.EventStreamDecoder]] — the same decode
  * the file path uses, because each stream packet IS one file-format
  * event behind a 1-byte OK header.
  *
  * Delivery contract (stronger than the reference's): changes surface
  * only when their XID arrives, and the resume offset advances only at
  * XIDs, so a connection killed mid-transaction replays that
  * transaction IN FULL on reconnect and emits it once — exactly-once at
  * transaction granularity, where the reference replays up to 5 s of
  * applied events and leans on idempotent apply
  * (`README.md:480-497`). Two resume tokens, like a real replica:
  *
  *   - (file, pos): [[tail]] reconnects with COM_BINLOG_DUMP at the
  *     last-committed event's end position — the reference's position
  *     file (`src/cdc_replicator.py:24-35`);
  *   - GTID set: [[tailGtid]] reconnects with COM_BINLOG_DUMP_GTID
  *     carrying everything applied so far (the caller's prior set plus
  *     this tail's commits), so the PRIMARY does the skipping — the
  *     failover form a (file, pos) token cannot express (t33's batch
  *     proof, now live on the socket).
  *
  * Scale: a replication stream is ONE ordered connection per primary —
  * inherently driver-side, like the reference's single reader thread.
  * The distributed decode path stays [[BinlogSource]] (one task per
  * rotated file); this client exists for the live-tail protocol surface
  * and hands its committed changes to the same apply pipeline.
  */
final class BinlogSocketClient(
    host: String,
    port: Int,
    user: String,
    password: String,
    serverId: Long = 100L, // the reference's server_id (cdc_replicator.py:112)
    maxReconnects: Int = 5,
    initialBackoffMs: Long = 10L,
    maxBackoffMs: Long = 500L,
    // checksum negotiation: a checksum-enabled primary REFUSES a dump
    // from a session that never declared it can handle CRC32 trailers.
    // Off exists only to prove that refusal in tests — production tails
    // always negotiate (pymysql-replication sends the same SET on connect)
    negotiateChecksum: Boolean = true) {
  import MysqlProtocol._

  import BinlogSocketClient.TailResult

  /** Tail from a (file, byte-offset) position to end-of-logs
    * (NON_BLOCK dump: the server answers EOF when it runs out). */
  def tail(fromFile: String, fromPos: Long = 4L): TailResult =
    run(fromFile, fromPos, GtidSet.Empty, gtidDump = false)

  /** [[tail]] bounded at `(endFile, endPos)`: only commits ending
    * at-or-before the bound are emitted — a commit ending past it (the
    * log grew since the bound was captured) is excluded whole and the
    * dump stops, so re-reading a KNOWN range of a since-grown log
    * costs O(range), not O(log), and never over-delivers. The V2
    * source's recovery re-plan and its batch read
    * ([[MysqlBinlogSource]]) both ride this. Files compare by their
    * NUMERIC suffix ([[BinlogSource.fileOrdinal]]) so the bound spans
    * rotations — including the .999999 → .1000000 width rollover,
    * where lexicographic order inverts. */
  def tailUntil(fromFile: String, fromPos: Long,
                endFile: String, endPos: Long): TailResult =
    run(fromFile, fromPos, GtidSet.Empty, gtidDump = false,
      bound = Some((endFile, endPos)))

  /** Tail with a GTID-set resume token: the server skips every
    * transaction in `applied` — connect this to a DIFFERENT primary
    * than the one that produced the set and the overlap replays
    * nothing. */
  def tailGtid(applied: GtidSet): TailResult =
    run("", 4L, applied, gtidDump = true)

  /** BLOCKING tail — the reference's own mode (`blocking=True` +
    * `heartbeat_interval`, `src/cdc_replicator.py:113-123`): at log end
    * the primary holds the connection open and sends HEARTBEAT events
    * (T10); the client counts them and stops GRACEFULLY (T9: hang up,
    * return what was committed) once `stopWhen(nChanges, nHeartbeats)`
    * holds — the injectable form of the reference's KeyboardInterrupt/
    * shutdown-flag loop exit. The predicate is evaluated on PACKET
    * arrival: against a silent primary (no events, no heartbeats) the
    * stop waits for the 30 s read timeout — acceptable because
    * heartbeats are the protocol's own liveness signal; a primary that
    * stops sending them is down, and the timeout is the reconnect
    * path's job. */
  def tailBlocking(fromFile: String, fromPos: Long = 4L)(
      stopWhen: (Long, Long) => Boolean): TailResult =
    run(fromFile, fromPos, GtidSet.Empty, gtidDump = false,
      blocking = true, stopWhen = stopWhen)

  /** The primary's current (file, position) via `SHOW MASTER STATUS` —
    * how the reference picks its start point when no saved position
    * exists (`_get_current_binlog_position`,
    * `src/cdc_replicator.py:84-96`). 8.4 removed that spelling
    * (renamed `SHOW BINARY LOG STATUS`), so a server error on the old
    * form falls through to the new one — both return (File, Position)
    * leading columns. */
  def masterStatus(): (String, Long) = {
    // fall back ONLY on the unknown-statement errors (1064 parse error,
    // 1149 syntax) — any other failure (privileges, connection) must
    // surface as-is, not be re-diagnosed as a version problem
    val rows =
      try query("SHOW MASTER STATUS")
      catch {
        case e: IllegalStateException
            if e.getMessage != null &&
              // colon-terminated so a longer custom code (10641…)
              // never matches
              (e.getMessage.startsWith("MySQL error 1064:") ||
               e.getMessage.startsWith("MySQL error 1149:")) =>
          query("SHOW BINARY LOG STATUS")
      }
    require(rows.nonEmpty, "SHOW MASTER STATUS returned no row — " +
      "is the binlog enabled?") // the reference's own error message shape
    (rows.head(0), rows.head(1).toLong)
  }

  /** Connect + authenticate: the shared front half of every
    * conversation (dump and session query alike). */
  private def connect(): (Socket, DataInputStream, java.io.OutputStream) = {
    val sock = new Socket()
    sock.connect(new InetSocketAddress(host, port), 5000)
    sock.setSoTimeout(30000)
    // the protocol is strict request-response with multi-write packets
    // (header, then payload): Nagle + delayed-ACK turns every round
    // trip into a ~40 ms stall — disable it, and coalesce each packet's
    // writes into one segment with a buffer (flushed per packet)
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new java.io.BufferedInputStream(
      sock.getInputStream, 1 << 16))
    val os = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    handshake(in, os)
    (sock, in, os)
  }

  /** One text-protocol query over a fresh connection (the session-query
    * surface; the replication dump owns ITS connection to the end). */
  def query(sql: String): Seq[Seq[String]] = {
    val (sock, in, os) = connect()
    try {
      writePacket(os, 0,
        Array(ComQuery.toByte) ++ sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val first = readPacket(in).payload
      if (isErr(first)) throw new IllegalStateException(errMessage(first))
      // only resultset replies are supported: a 1-byte lenenc column
      // count (1..250). An OK (statement without a resultset) or a
      // multi-byte count must fail loudly, not hang misparsing.
      require(first.length == 1 && (first(0) & 0xff) >= 1 &&
        (first(0) & 0xff) < 0xfb,
        s"not a small-resultset reply to `$sql`: ${first.toSeq.take(4)}")
      val nCols = first(0) & 0xff
      // column definitions, then EOF
      var p = readPacket(in).payload
      while (!isEof(p)) p = readPacket(in).payload
      // rows until the trailing EOF
      val rows = Seq.newBuilder[Seq[String]]
      p = readPacket(in).payload
      while (!isEof(p)) {
        if (isErr(p)) throw new IllegalStateException(errMessage(p))
        rows += parseTextRow(p, nCols)
        p = readPacket(in).payload
      }
      rows.result()
    } finally sock.close()
  }

  private def run(fromFile: String, fromPos: Long, applied0: GtidSet,
                  gtidDump: Boolean, blocking: Boolean = false,
                  stopWhen: (Long, Long) => Boolean = (_, _) => false,
                  bound: Option[(String, Long)] = None)
      : TailResult = {
    val out = Vector.newBuilder[BinlogFormat.RowChange]
    val commits = Vector.newBuilder[BinlogSocketClient.Commit]
    var appliedGtids = applied0
    var resumeFile = fromFile
    var resumePos = fromPos
    var currentFile = fromFile
    var reconnects = 0 // total, reported for observability
    var failuresSinceProgress = 0 // the budget: consecutive, commit-reset
    var backoffMs = initialBackoffMs
    var heartbeats = 0L
    var nChanges = 0L
    var done = false
    // the bound file's ordinal is constant: parse it once per run, not
    // twice per commit
    val boundOrd = bound.map { case (bf, bp) =>
      (BinlogSource.fileOrdinal(bf), bp) }
    while (!done) {
      var sock: Socket = null
      try {
        val (sk, in, os) = connect()
        sock = sk
        // declare checksum capability BEFORE the dump — a
        // checksum-enabled primary refuses/garbles the stream otherwise
        // (the session SET every replication client issues on connect)
        if (negotiateChecksum) command(in, os, Array(ComQuery.toByte) ++
          "SET @master_binlog_checksum = @@global.binlog_checksum"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        command(in, os, encodeRegisterSlave(RegisterSlave(serverId, 0)))
        val dumpFlags = if (blocking) 0 else BinlogDumpNonBlock
        val dump =
          if (gtidDump) encodeBinlogDumpGtid(BinlogDumpGtid(
            dumpFlags, serverId, resumeFile, resumePos, appliedGtids))
          else encodeBinlogDump(BinlogDump(
            resumePos, dumpFlags, serverId, resumeFile))
        writePacket(os, 0, dump)
        val dec = new BinlogFormat.EventStreamDecoder
        while (!done) {
          val p = readPacket(in).payload
          if (isEof(p)) done = true
          else if (isErr(p)) throw new IllegalStateException(errMessage(p))
          else {
            require(isOk(p), s"unexpected stream packet ${p.headOption}")
            val ev = dec.onEvent(p, 1, p.length - 1)
            val tpe = ev.tpe
            if (tpe == BinlogFormat.HeartbeatEvent) {
              heartbeats += 1
              // a live, heartbeating connection is forward progress
              // too: the budget caps CONSECUTIVE failures, and an idle
              // primary must not turn it into a lifetime counter
              failuresSinceProgress = 0
              backoffMs = initialBackoffMs
            }
            else if (tpe == BinlogFormat.RotateEvent)
              currentFile = dec.nextFile.getOrElse(currentFile)
            else if (tpe == BinlogFormat.XidEvent ||
                tpe == BinlogFormat.TransactionPayloadEvent) {
              // a transaction commits at its XID — which for a
              // compressed transaction lives INSIDE the payload event,
              // so the payload packet is itself the commit boundary
              val commitEnd = ev.logPos
              // bound discipline, evaluated ONLY at commits (the
              // offsets' granularity): a commit ending AT the bound is
              // the last one included; a commit ending PAST it — the
              // log grew since the bound was captured — is discarded
              // whole, and the final offset stays at the last included
              // commit. Files compare by NUMERIC suffix, not
              // lexicographically: MySQL widens the suffix past
              // .999999 to .1000000, where string order inverts.
              val boundCmp = boundOrd.map { case (bOrd, bp) =>
                val ord = BinlogSource.fileOrdinal(currentFile)
                if (ord != bOrd) java.lang.Long.compare(ord, bOrd)
                else java.lang.Long.compare(commitEnd, bp)
              }
              if (boundCmp.exists(_ > 0)) {
                dec.drainCommitted() // past the bound: not ours
                done = true
              } else {
                val batch = dec.drainCommitted()
                out ++= batch
                nChanges += batch.size
                appliedGtids =
                  appliedGtids.union(GtidSet.fromGtids(batch.flatMap(_.gtid)))
                // resume offset: the commit event's end-log-pos in the
                // current file
                resumeFile = currentFile
                resumePos = commitEnd
                commits += BinlogSocketClient.Commit(currentFile, commitEnd,
                  nChanges.toInt)
                // forward progress re-arms the reconnect budget: the cap
                // bounds CONSECUTIVE failures, not a long tail's lifetime
                failuresSinceProgress = 0
                backoffMs = initialBackoffMs
                if (boundCmp.contains(0))
                  done = true // reached the bound exactly
              }
            }
            // graceful stop (T9): in blocking mode the stream never
            // EOFs — the caller's predicate ends it, commits intact
            if (blocking && stopWhen(nChanges, heartbeats)) done = true
          }
        }
      } catch {
        case e: IOException =>
          // the reference's reconnect loop (cdc_replicator.py:369-414):
          // back off, double the delay, resume from the last committed
          // offset — the torn transaction replays in full. The budget
          // caps CONSECUTIVE failures (reset on every commit), so a
          // days-long tail surviving occasional blips never dies on a
          // lifetime counter.
          reconnects += 1
          failuresSinceProgress += 1
          if (failuresSinceProgress > maxReconnects)
            throw new IllegalStateException(
              s"binlog stream lost $failuresSinceProgress times in a row " +
                s"(last: ${e.getMessage})", e)
          Thread.sleep(backoffMs)
          backoffMs = math.min(backoffMs * 2, maxBackoffMs)
      } finally if (sock != null) sock.close()
    }
    TailResult(out.result(), reconnects, resumeFile, resumePos, appliedGtids,
      commits.result())
  }

  /** Authenticate with whichever plugin the server runs:
    * mysql_native_password or caching_sha2_password (the 8.0 default),
    * following an AuthSwitchRequest when the user's plugin differs from
    * the handshake's advertised one, and completing caching_sha2's
    * COLD-CACHE full auth — the RSA public-key exchange a replica's
    * first-ever login after a primary restart hits (the cache is empty
    * until one successful auth): request the key with 0x02, send the
    * nonce-XOR'd password encrypted RSA-OAEP. The full 8.0 login state
    * machine, no warm-cache precondition left. */
  private def handshake(in: DataInputStream, os: java.io.OutputStream): Unit = {
    val hs = decodeHandshake(readPacket(in).payload)
    var nonce = hs.scramble
    writePacket(os, 1, encodeHandshakeResponse(HandshakeResponse(
      ClientCapabilities, user,
      authToken(hs.authPlugin, password, nonce), hs.authPlugin)))
    var done = false
    var switched = false
    var fullAuthDone = false
    while (!done) {
      val pkt = readPacket(in)
      val p = pkt.payload
      if (isErr(p)) throw new IllegalStateException(errMessage(p))
      else if (isOk(p)) done = true
      else if (isAuthSwitch(p)) {
        // the user's plugin differs from the advertised one: recompute
        // against the switch's plugin + fresh nonce, answer raw. The
        // protocol allows at most ONE switch — a second is a broken
        // (or hostile) server, not a loop to follow
        require(!switched, "server requested a second auth switch")
        switched = true
        val (plugin, n2) = decodeAuthSwitch(p)
        nonce = n2
        writePacket(os, pkt.seq + 1, authToken(plugin, password, nonce))
      }
      else if (isAuthMoreData(p)) {
        if (!isFastAuthSuccess(p)) {
          // 0x01 0x04: perform full authentication — the cache is cold.
          // Request the server's RSA public key, encrypt the nonce-XOR'd
          // password under it (without TLS the key exchange is the only
          // channel), and let the loop read the verdict. ONE shot: a
          // server that demands full auth AGAIN after receiving the
          // blob is broken or hostile (each re-demand would re-disclose
          // the password under an attacker-supplied key) — same
          // discipline as the single-switch cap above
          require(!fullAuthDone, "server demanded full auth twice")
          fullAuthDone = true
          writePacket(os, pkt.seq + 1, PublicKeyRequest)
          val pk = readPacket(in)
          if (isErr(pk.payload))
            throw new IllegalStateException(errMessage(pk.payload))
          require(pk.payload.length > 1 && pk.payload(0) == 1,
            s"expected the server public key, got lead ${pk.payload.headOption}")
          val pem = new String(pk.payload, 1, pk.payload.length - 1,
            java.nio.charset.StandardCharsets.UTF_8)
          writePacket(os, pk.seq + 1,
            rsaEncryptPassword(password, nonce, pem))
        }
        // fast-auth success: the OK follows; just keep reading
      }
      else throw new IllegalStateException(
        s"unexpected auth packet lead ${p.headOption}")
    }
  }

  /** Send one command and require its OK (sequence restarts at 0). */
  private def command(in: DataInputStream, os: java.io.OutputStream,
                      payload: Array[Byte]): Unit = {
    writePacket(os, 0, payload)
    val resp = readPacket(in).payload
    if (isErr(resp)) throw new IllegalStateException(errMessage(resp))
    require(isOk(resp), "command did not end in OK")
  }
}

object BinlogSocketClient {
  /** `changes` in commit order; `reconnects` = dropped-stream recoveries
    * that happened; (`file`, `pos`) = the final resume offset;
    * `appliedGtids` = the GTID set of every commit seen (the caller's
    * next failover token); `commits` = every commit's end, in order. */
  final case class TailResult(changes: Vector[BinlogFormat.RowChange],
                              reconnects: Int, file: String, pos: Long,
                              appliedGtids: GtidSet, commits: Vector[Commit])

  /** One commit's end: the (`file`, `pos`) a dump resumes from after it,
    * and how many of the tail's changes it and the commits before it
    * carried. */
  final case class Commit(file: String, pos: Long, changes: Int)
}
