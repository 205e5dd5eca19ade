package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8
import graft.sources.BinlogFormat.ColumnDef
import graft.sources.BinlogFixture.Change

/** [[MysqlProtocol]] + [[BinlogFixtureServer]] + [[BinlogSocketClient]]:
  * the replication socket half, tested over REAL loopback TCP.
  *
  * The auth golden vector is pinned against an independently computed
  * value (hashlib outside the JVM), and the handshake golden packet is
  * hand-composed from the protocol documentation — the same
  * encoder/decoder-bug-pair discipline the binlog format specs use.
  */
class MysqlProtocolSpec extends AnyFunSuite {
  import MysqlProtocol._

  private def hex(s: String): Array[Byte] =
    s.split("\\s+").filter(_.nonEmpty).map(Integer.parseInt(_, 16).toByte)

  private val scramble20 = Array.tabulate[Byte](20)(i => (i + 1).toByte)

  test("golden mysql_native_password token (independently computed)") {
    // python hashlib: SHA1(pw)=5918...f1f9, token for scramble 01..14:
    val tok = nativePasswordToken("graft-secret", scramble20)
    assert(tok.map(b => f"${b & 0xff}%02x").mkString ==
      "25dccbef0316e732327c49edde5e44bd28409217")
    assert(verifyNativePassword(doubleHash("graft-secret"), scramble20, tok))
    // a flipped token byte or the wrong password must fail the verify
    val bad = tok.clone(); bad(3) = (bad(3) ^ 0x40).toByte
    assert(!verifyNativePassword(doubleHash("graft-secret"), scramble20, bad))
    assert(!verifyNativePassword(doubleHash("other"), scramble20, tok))
    assert(nativePasswordToken("", scramble20).isEmpty)
  }

  test("golden caching_sha2_password vectors (independently computed)") {
    // python hashlib: SHA256(pw)=891c..., cache entry SHA256(SHA256(pw)),
    // token = SHA256(pw) XOR SHA256(cache ++ nonce) for nonce 01..14
    val tok = cachingSha2Token("graft-secret", scramble20)
    assert(tok.map(b => f"${b & 0xff}%02x").mkString ==
      "23a7949199ae281811ed8e3cfb6ed19632b0885239fcee31a7ef053433ff111a")
    assert(cachingSha2CacheEntry("graft-secret")
      .map(b => f"${b & 0xff}%02x").mkString ==
      "00ed1a1e17ac259e84cf13a741c8004dcbb3d6350c735afddc75cdb1dba4a662")
    assert(verifyCachingSha2(
      cachingSha2CacheEntry("graft-secret"), scramble20, tok))
    val bad = tok.clone(); bad(7) = (bad(7) ^ 1).toByte
    assert(!verifyCachingSha2(
      cachingSha2CacheEntry("graft-secret"), scramble20, bad))
    assert(!verifyCachingSha2(
      cachingSha2CacheEntry("other"), scramble20, tok))
    // auth-continuation packet shapes
    val sw = authSwitchPacket(CachingSha2Plugin, scramble20)
    assert(isAuthSwitch(sw) && !isEof(sw)) // longer than an EOF packet
    val (plugin, nonce) = decodeAuthSwitch(sw)
    assert(plugin == CachingSha2Plugin && nonce.toSeq == scramble20.toSeq)
    assert(isFastAuthSuccess(fastAuthSuccessPacket))
    assert(isAuthMoreData(fullAuthRequiredPacket) &&
      !isFastAuthSuccess(fullAuthRequiredPacket))
  }

  test("golden handshake v10 packet decodes field by field") {
    // hand-composed: proto 10, version "8.0.x" NUL, thread id 7,
    // scramble part1 = 01..08, filler, caps low 0x8201, charset 0x21,
    // status 2, caps high 0x0008, auth len 21, 10 reserved zeros,
    // scramble part2 = 09..14 + NUL, plugin name NUL
    val golden = hex("""
      0A
      38 2E 30 2E 78 00
      07 00 00 00
      01 02 03 04 05 06 07 08
      00
      01 82
      21
      02 00
      08 00
      15
      00 00 00 00 00 00 00 00 00 00
      09 0A 0B 0C 0D 0E 0F 10 11 12 13 14 00
      6D 79 73 71 6C 5F 6E 61 74 69 76 65 5F 70 61 73 73 77 6F 72 64 00
    """)
    val h = decodeHandshake(golden)
    assert(h.serverVersion == "8.0.x")
    assert(h.threadId == 7L)
    assert(h.scramble.toSeq == scramble20.toSeq)
    assert(h.capabilities == ClientCapabilities)
    assert(h.authPlugin == NativePasswordPlugin)
    // and the encoder reproduces a decodable packet with the same fields
    val h2 = decodeHandshake(encodeHandshake(h))
    assert(h2 == h.copy(scramble = h2.scramble) &&
      h2.scramble.toSeq == h.scramble.toSeq)
  }

  test("handshake response / dump commands / gtid set roundtrip the wire") {
    val r = HandshakeResponse(ClientCapabilities, "repl",
      nativePasswordToken("pw", scramble20), NativePasswordPlugin)
    val r2 = decodeHandshakeResponse(encodeHandshakeResponse(r))
    assert(r2.user == "repl" && r2.token.toSeq == r.token.toSeq &&
      r2.authPlugin == NativePasswordPlugin)

    val d = BinlogDump(1234L, BinlogDumpNonBlock, 100L, "events-bin.000002")
    assert(decodeBinlogDump(encodeBinlogDump(d)) == d)

    val g = GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:1-7:9,aaaabbbb-0506-0708-090a-0b0c0d0e0f10:4")
    assert(GtidSet.fromWire(g.wireBytes).render == g.render)
    val dg = BinlogDumpGtid(0, 100L, "f.000001", 4L, g)
    val dg2 = decodeBinlogDumpGtid(encodeBinlogDumpGtid(dg))
    assert(dg2.copy(gtids = GtidSet.Empty) == dg.copy(gtids = GtidSet.Empty))
    assert(dg2.gtids.render == g.render)

    val rs = RegisterSlave(100L, 3306)
    assert(decodeRegisterSlave(encodeRegisterSlave(rs)) == rs)
  }

  test("gtid wire decode: duplicate sids MERGE, hostile counts fail loudly") {
    // a wire set repeating a sid merges its intervals (last-wins toMap
    // would silently drop the earlier ones)
    val sid = Array.tabulate[Byte](16)(i => (i + 1).toByte)
    def wire(entries: Seq[Seq[(Long, Long)]]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(
        8 + entries.map(e => 16 + 8 + 16 * e.size).sum)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(entries.size.toLong)
      entries.foreach { ivs =>
        b.put(sid); b.putLong(ivs.size.toLong)
        ivs.foreach { case (lo, hiEx) => b.putLong(lo); b.putLong(hiEx) }
      }
      b.array()
    }
    val merged = GtidSet.fromWire(wire(Seq(Seq((1L, 6L)), Seq((4L, 10L)))))
    assert(merged.render == "01020304-0506-0708-090a-0b0c0d0e0f10:1-9",
      s"duplicate-sid intervals must union, got ${merged.render}")
    // a huge interval count must hit the diagnostic, not Long-overflow
    // past the bound into a raw BufferUnderflowException
    val hostile = java.nio.ByteBuffer.allocate(8 + 16 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hostile.putLong(1L); hostile.put(sid); hostile.putLong(1L << 60)
    val e = intercept[IllegalArgumentException](
      GtidSet.fromWire(hostile.array()))
    assert(e.getMessage.contains("overruns"))
    // roundtrip: wire → decode → identical coalesced set
    val set = GtidSet.fromGtids(Seq(3L, 1L, 2L, 9L, 10L, 40L).map(g =>
      s"01020304-0506-0708-090a-0b0c0d0e0f10:$g"))
    assert(GtidSet.fromWire(set.wireBytes) == set)
  }

  test("gtid set union coalesces adjacent and overlapping intervals") {
    val a = GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:1-5")
    val b = GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:6-8:12")
    assert(a.union(b).render == "01020304-0506-0708-090a-0b0c0d0e0f10:1-8:12")
    assert(a.union(GtidSet.Empty).render == a.render)
    assert(GtidSet.Empty.union(b).render == b.render)
  }

  test("result packets classify: OK / ERR / EOF vs 0xfe-leading events") {
    assert(isOk(okPacket) && !isErr(okPacket) && !isEof(okPacket))
    val err = errPacket(1045, "Access denied for user 'x'")
    assert(isErr(err) && errMessage(err) ==
      "MySQL error 1045: Access denied for user 'x'")
    assert(isEof(eofPacket))
    // an event packet whose payload starts 0xfe but is >= 9 bytes is NOT EOF
    assert(!isEof(Array.fill[Byte](19)(0xfe.toByte)))
  }

  test("packet framing roundtrips through a real stream") {
    val buf = new java.io.ByteArrayOutputStream()
    writePacket(buf, 3, "hello".getBytes(UTF_8))
    writePacket(buf, 4, Array.empty[Byte])
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    val p1 = readPacket(in); val p2 = readPacket(in)
    assert(p1.seq == 3 && new String(p1.payload, UTF_8) == "hello")
    assert(p2.seq == 4 && p2.payload.isEmpty)
  }

  test("golden full-auth scramble-XOR vector (independently computed)") {
    // python: (b'graft-secret'+b'\x00') XOR nonce 01..14 cycled
    assert(xorPassword("graft-secret", scramble20)
      .map(b => f"${b & 0xff}%02x").mkString ==
      "66706262712b746d6a786e780d")
    // un-XOR recovers the password + NUL
    val back = xorPassword("graft-secret", scramble20)
      .zipWithIndex.map { case (b, i) => (b ^ scramble20(i % 20)).toByte }
    assert(new String(back.dropRight(1), UTF_8) == "graft-secret" &&
      back.last == 0)
  }

  test("full-auth RSA exchange roundtrips: PEM → encrypt → decrypt") {
    val g = java.security.KeyPairGenerator.getInstance("RSA")
    g.initialize(2048)
    val kp = g.generateKeyPair()
    val pem = pemPublicKey(kp.getPublic)
    assert(pem.startsWith("-----BEGIN PUBLIC KEY-----"))
    val blob = rsaEncryptPassword("graft-secret", scramble20, pem)
    assert(blob.length == 256) // 2048-bit RSA block
    assert(rsaDecryptPassword(kp.getPrivate, blob, scramble20) ==
      "graft-secret")
    // OAEP is randomized: two encryptions differ, both decrypt
    val blob2 = rsaEncryptPassword("graft-secret", scramble20, pem)
    assert(!java.util.Arrays.equals(blob, blob2))
    assert(rsaDecryptPassword(kp.getPrivate, blob2, scramble20) ==
      "graft-secret")
  }

  test("packet framing splices the 16 MiB continuation form byte-exactly") {
    // exactly the sentinel (whose message needs an EMPTY terminator
    // packet), one past it, and a deterministic ~16.8 MB payload
    for (n <- Seq(MaxPacket, MaxPacket + 1, MaxPacket + 12345)) {
      val payload = Array.tabulate[Byte](n)(i => (i * 31 + (i >> 16)).toByte)
      val buf = new java.io.ByteArrayOutputStream()
      val next = writePacket(buf, 0, payload)
      writePacket(buf, next, "tail".getBytes(UTF_8))
      val in = new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(buf.toByteArray))
      val p = readPacket(in)
      assert(p.payload.length == n)
      assert(java.util.Arrays.equals(p.payload, payload))
      assert(p.seq == n / MaxPacket, // each fragment consumed one seq
        s"message of $n bytes should end on seq ${n / MaxPacket}")
      val t = readPacket(in)
      assert(t.seq == next && new String(t.payload, UTF_8) == "tail")
    }
    // an out-of-sequence continuation is a torn stream, not data
    val buf = new java.io.ByteArrayOutputStream()
    buf.write(Array[Byte](0xff.toByte, 0xff.toByte, 0xff.toByte, 0))
    buf.write(new Array[Byte](MaxPacket))
    buf.write(Array[Byte](1, 0, 0, 7)) // seq 7, expected 1
    buf.write(0)
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    assertThrows[IllegalArgumentException](readPacket(in))
  }

  // ---- end-to-end over loopback TCP ----

  private val cols = IndexedSeq(
    ColumnDef(BinlogFormat.TypeLongLong, 0),
    ColumnDef(BinlogFormat.TypeVarchar, 40))

  private def insert(k: Long): Change = Change.insert(IndexedSeq(k, s"v$k"))

  /** Two rotated GTID-mode files: txns 1..4 in file 1, 5..8 in file 2,
    * plus an uncommitted tail the stream must never surface. */
  private def twoFiles: IndexedSeq[(String, Array[Byte])] = IndexedSeq(
    "sock-bin.000001" -> BinlogFixture.encode("d", "t", cols,
      txns = (1L to 4L).map(k => Seq(insert(k))),
      rotateTo = Some("sock-bin.000002"), gtidFrom = Some(1L)),
    "sock-bin.000002" -> BinlogFixture.encode("d", "t", cols,
      txns = (5L to 8L).map(k => Seq(insert(k))),
      uncommittedTail = Seq(insert(99L)), gtidFrom = Some(5L)))

  private def withServer[A](files: IndexedSeq[(String, Array[Byte])],
                            drop: Map[Int, Int] = Map.empty)(
      f: BinlogFixtureServer => A): A = {
    val srv = new BinlogFixtureServer(files, "repl", "graft-secret", drop)
    try f(srv) finally srv.close()
  }

  private def client(srv: BinlogFixtureServer) =
    new BinlogSocketClient("127.0.0.1", srv.port, "repl", "graft-secret")

  test("e2e: a clean tail yields exactly the files' committed changes") {
    withServer(twoFiles) { srv =>
      val r = client(srv).tail("sock-bin.000001")
      assert(r.reconnects == 0)
      assert(r.changes.map(_.after.get.head) == (1L to 8L).map(identity))
      // the torn tail stayed pending and was never emitted
      assert(!r.changes.exists(_.after.get.head == 99L))
      assert(r.file == "sock-bin.000002")
      assert(r.appliedGtids.render ==
        "01020304-0506-0708-090a-0b0c0d0e0f10:1-8")
      // the socket stream decodes IDENTICALLY to the file parser
      val fromFiles = twoFiles.flatMap(f => BinlogFormat.parse(f._2).changes)
      assert(r.changes == fromFiles)
    }
  }

  test("e2e: resume from a (file, pos) offset skips everything before it") {
    withServer(twoFiles) { srv =>
      val full = client(srv).tail("sock-bin.000001")
      // replay from the final offset: nothing new arrives
      val again = client(srv).tail(full.file, full.pos)
      assert(again.changes.isEmpty)
      // resume exactly at the second file's start yields only its txns
      val half = client(srv).tail("sock-bin.000002", 4L)
      assert(half.changes.map(_.after.get.head) == (5L to 8L))
    }
  }

  test("e2e: mid-stream kill reconnects with backoff and emits exactly once") {
    // drop the FIRST connection after 9 event packets — inside the
    // stream, past several commits (FDE + PREV_GTIDS + TABLE_MAP +
    // (GTID, WRITE, XID) x2 = 10 packets for the first two txns)
    withServer(twoFiles, drop = Map(0 -> 9)) { srv =>
      val r = client(srv).tail("sock-bin.000001")
      assert(r.reconnects == 1, s"expected exactly one reconnect, got ${r.reconnects}")
      assert(srv.connections == 2)
      assert(r.changes.map(_.after.get.head) == (1L to 8L),
        "the kill replayed or lost a transaction")
    }
  }

  test("e2e: COM_BINLOG_DUMP_GTID makes the SERVER skip applied transactions") {
    withServer(twoFiles) { srv =>
      val applied = client(srv).tail("sock-bin.000001").appliedGtids
      // full applied set: the primary has nothing for us
      assert(client(srv).tailGtid(applied).changes.isEmpty)
      // a partial set (first 6 txns): only the missing two arrive
      val partial = GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:1-6")
      val r = client(srv).tailGtid(partial)
      assert(r.changes.map(_.after.get.head) == (7L to 8L))
      assert(r.appliedGtids.render ==
        "01020304-0506-0708-090a-0b0c0d0e0f10:1-8")
    }
  }

  test("e2e: SHOW MASTER STATUS returns the primary's current position") {
    withServer(twoFiles) { srv =>
      val (file, pos) = client(srv).masterStatus()
      assert(file == "sock-bin.000002" && pos == twoFiles.last._2.length)
      // and the dump's own final resume offset agrees with it
      val r = client(srv).tail("sock-bin.000001")
      assert(r.file == file)
      // unsupported session queries are refused, not mis-answered
      val e = intercept[IllegalStateException](
        client(srv).query("SELECT 1"))
      assert(e.getMessage.contains("1064"))
    }
  }

  test("e2e: blocking tail heartbeats at log end; graceful stop keeps " +
      "every commit") {
    withServer(twoFiles) { srv =>
      // stop once everything committed AND >= 2 heartbeats arrived (the
      // heartbeats only start after the last real event)
      val r = client(srv).tailBlocking("sock-bin.000001")(
        (changes, beats) => changes == 8 && beats >= 2)
      assert(r.reconnects == 0)
      assert(r.changes.map(_.after.get.head) == (1L to 8L))
      assert(r.appliedGtids.render ==
        "01020304-0506-0708-090a-0b0c0d0e0f10:1-8")
    }
  }

  test("e2e: a blocking tail streams writes that land AFTER the dump " +
      "started (reveal mid-dump)") {
    // like a real primary: the dump reaches log end, heartbeats, and
    // when new transactions land they stream on the SAME connection
    val firstHalf = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 4L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val full = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 8L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    assert(java.util.Arrays.equals(
      java.util.Arrays.copyOf(full, firstHalf.length), firstHalf))
    withServer(IndexedSeq("grow-bin.000001" -> full)) { srv =>
      srv.truncate("grow-bin.000001", firstHalf.length)
      val grower = new Thread(() => {
        Thread.sleep(150)
        srv.reveal("grow-bin.000001")
      })
      grower.start()
      // stop once all 8 arrived — 5..8 exist only AFTER the reveal
      val r = client(srv).tailBlocking("grow-bin.000001")(
        (changes, _) => changes == 8)
      grower.join()
      assert(r.changes.map(_.after.get.head) == (1L to 8L),
        "mid-dump reveal did not stream the landed writes")
      assert(r.pos == full.length.toLong)
    }
  }

  test("e2e: tailUntil stops at the bound's commit — O(range), " +
      "within a file and across the rotation") {
    // the prefix-encode trick: a shorter encode of the same txns is a
    // byte prefix of the file, so its length IS a commit boundary
    val prefix1 = BinlogFixture.encode("d", "t", cols,
      txns = (1L to 2L).map(k => Seq(insert(k))), gtidFrom = Some(1L))
    val prefix2 = BinlogFixture.encode("d", "t", cols,
      txns = (5L to 6L).map(k => Seq(insert(k))), gtidFrom = Some(5L))
    withServer(twoFiles) { srv =>
      // bound inside file 1: txns 1..2 only, offset parked at the bound
      val r1 = client(srv).tailUntil("sock-bin.000001", 4L,
        "sock-bin.000001", prefix1.length.toLong)
      assert(r1.changes.map(_.after.get.head) == (1L to 2L))
      assert(r1.file == "sock-bin.000001" &&
        r1.pos == prefix1.length.toLong)
      // bound inside file 2: the rotation is crossed, later commits of
      // file 2 are NOT read (5..6 yes, 7..8 no)
      val r2 = client(srv).tailUntil("sock-bin.000001", 4L,
        "sock-bin.000002", prefix2.length.toLong)
      assert(r2.changes.map(_.after.get.head) == (1L to 6L))
      assert(r2.file == "sock-bin.000002" &&
        r2.pos == prefix2.length.toLong)
      // resuming from the bound replays nothing of the bounded range
      val rest = client(srv).tail(r2.file, r2.pos)
      assert(rest.changes.map(_.after.get.head) == (7L to 8L))
    }
    // a bound that is NOT a commit boundary (mid-transaction — an
    // arbitrary user endPos, or a capture mid-write): the straddling
    // commit is excluded WHOLE and the offset stays at the last
    // included commit. This is the DISCARD branch — distinct from the
    // ==-stop the boundary cases above exercise
    withServer(twoFiles) { srv =>
      val r = client(srv).tailUntil("sock-bin.000001", 4L,
        "sock-bin.000001", prefix1.length.toLong + 1L)
      assert(r.changes.map(_.after.get.head) == (1L to 2L),
        "the commit straddling the bound must be excluded whole")
      assert(r.file == "sock-bin.000001" &&
        r.pos == prefix1.length.toLong,
        s"offset must stay at the last included commit, got ${r.pos}")
    }
    // the suffix-width rollover: .999999 → .1000000 inverts STRING
    // order ('9' > '1'), so the bound must compare numeric ordinals —
    // lexicographic comparison would stop at file 1's first commit
    val rollover = IndexedSeq(
      "roll-bin.999999" -> BinlogFixture.encode("d", "t", cols,
        txns = (1L to 2L).map(k => Seq(insert(k))),
        rotateTo = Some("roll-bin.1000000"), gtidFrom = Some(1L)),
      "roll-bin.1000000" -> BinlogFixture.encode("d", "t", cols,
        txns = (3L to 4L).map(k => Seq(insert(k))), gtidFrom = Some(3L)))
    val prefix3 = BinlogFixture.encode("d", "t", cols,
      txns = Seq(Seq(insert(3L))), gtidFrom = Some(3L))
    withServer(rollover) { srv =>
      val r = client(srv).tailUntil("roll-bin.999999", 4L,
        "roll-bin.1000000", prefix3.length.toLong)
      assert(r.changes.map(_.after.get.head) == (1L to 3L),
        s"rollover bound mis-ordered the chain: got ${r.changes.size}")
      assert(r.file == "roll-bin.1000000" &&
        r.pos == prefix3.length.toLong)
    }
  }

  test("only the last (active) file of the chain can grow — a sealed " +
      "file refuses truncate/reveal loudly") {
    // the dump walk and the blocking growth watch both assume earlier
    // files are sealed by their rotate; a mid-chain gap would skip
    // bytes silently, so the fixture fails the staging loudly instead
    withServer(twoFiles) { srv =>
      val sealedFile = twoFiles.head._1
      assert(sealedFile != twoFiles.last._1)
      val e1 = intercept[IllegalArgumentException](
        srv.truncate(sealedFile, 4))
      assert(e1.getMessage.contains("sealed"))
      val e2 = intercept[IllegalArgumentException](srv.reveal(sealedFile))
      assert(e2.getMessage.contains("sealed"))
    }
  }

  test("e2e: a wrong password is refused with the documented ERR") {
    withServer(twoFiles) { srv =>
      val bad = new BinlogSocketClient("127.0.0.1", srv.port, "repl", "wrong")
      val e = intercept[IllegalStateException](bad.tail("sock-bin.000001"))
      assert(e.getMessage.contains("Access denied"))
    }
  }

  test("e2e: cold-cache caching_sha2 completes FULL auth (RSA), which " +
      "warms the cache for the next login's fast path") {
    val srv = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
      authPlugin = MysqlProtocol.CachingSha2Plugin, sha2ColdCache = true)
    try {
      // FIRST-ever login against the empty cache: the 0x04 full-auth
      // demand, public-key request, RSA-OAEP blob — and a working tail
      val r = client(srv).tail("sock-bin.000001")
      assert(r.changes.map(_.after.get.head) == (1L to 8L))
      assert(srv.fullAuths == 1 && srv.fastAuths == 0,
        s"first login should be the RSA path (full=${srv.fullAuths}, " +
          s"fast=${srv.fastAuths})")
      // SECOND login: the success populated the cache — fast path now
      val again = client(srv).tail(r.file, r.pos)
      assert(again.changes.isEmpty)
      assert(srv.fullAuths == 1 && srv.fastAuths == 1,
        s"second login should be the cache fast path (full=${srv.fullAuths}, " +
          s"fast=${srv.fastAuths})")
      // a wrong password fails the full path too (fresh cold fixture)
      val cold2 = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
        authPlugin = MysqlProtocol.CachingSha2Plugin, sha2ColdCache = true)
      try {
        val bad = new BinlogSocketClient("127.0.0.1", cold2.port, "repl", "wrong")
        val e = intercept[IllegalStateException](bad.tail("sock-bin.000001"))
        assert(e.getMessage.contains("Access denied"))
        assert(cold2.fullAuths == 0, "a wrong password must not warm the cache")
        // and the right password still bootstraps after the failure
        val ok = new BinlogSocketClient("127.0.0.1", cold2.port, "repl",
          "graft-secret").tail("sock-bin.000001")
        assert(ok.changes.size == 8 && cold2.fullAuths == 1)
      } finally cold2.close()
    } finally srv.close()
  }

  test("e2e: a checksummed primary REFUSES a dump without the session " +
      "SET; the negotiating client streams fine") {
    withServer(twoFiles) { srv =>
      // the default client negotiates (SET @master_binlog_checksum …)
      assert(client(srv).tail("sock-bin.000001").changes.size == 8)
      // a client that skips the SET gets the real server's 1236 refusal
      val naive = new BinlogSocketClient("127.0.0.1", srv.port, "repl",
        "graft-secret", negotiateChecksum = false)
      val e = intercept[IllegalStateException](
        naive.tail("sock-bin.000001"))
      assert(e.getMessage.contains("1236") &&
        e.getMessage.contains("checksum"), e.getMessage)
      // an UNchecksummed log demands nothing — the naive client works
      val plain = IndexedSeq("plain-bin.000001" ->
        BinlogFixture.encode("d", "t", cols,
          txns = (1L to 3L).map(k => Seq(insert(k))), checksum = false))
      withServer(plain) { psrv =>
        val naive2 = new BinlogSocketClient("127.0.0.1", psrv.port, "repl",
          "graft-secret", negotiateChecksum = false)
        assert(naive2.tail("plain-bin.000001").changes.size == 3)
      }
    }
  }

  test("e2e: masterStatus falls back to the 8.4 SHOW BINARY LOG STATUS " +
      "spelling when the old form errors") {
    val srv84 = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
      masterStatusSpelling = "SHOW BINARY LOG STATUS")
    try {
      val (file, pos) = client(srv84).masterStatus()
      assert(file == "sock-bin.000002")
      assert(pos == twoFiles.last._2.length)
    } finally srv84.close()
  }

  test("e2e: caching_sha2_password fast path authenticates and tails") {
    val srv = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
      authPlugin = MysqlProtocol.CachingSha2Plugin)
    try {
      val r = client(srv).tail("sock-bin.000001")
      assert(r.changes.map(_.after.get.head) == (1L to 8L))
      val bad = new BinlogSocketClient("127.0.0.1", srv.port, "repl", "wrong")
      val e = intercept[IllegalStateException](bad.tail("sock-bin.000001"))
      assert(e.getMessage.contains("Access denied"))
    } finally srv.close()
  }

  test("e2e: AuthSwitchRequest re-authenticates under the demanded plugin") {
    // the handshake advertises mysql_native_password but the account
    // runs caching_sha2: the server switches, the client recomputes
    // against the switch's fresh nonce, and the tail proceeds
    val srv = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
      authPlugin = MysqlProtocol.CachingSha2Plugin,
      advertisePlugin = Some(MysqlProtocol.NativePasswordPlugin))
    try {
      val r = client(srv).tail("sock-bin.000001")
      assert(r.changes.map(_.after.get.head) == (1L to 8L))
      val bad = new BinlogSocketClient("127.0.0.1", srv.port, "repl", "wrong")
      val e = intercept[IllegalStateException](bad.tail("sock-bin.000001"))
      assert(e.getMessage.contains("Access denied"))
    } finally srv.close()
  }

  test("e2e: AuthSwitch INTO cold-cache caching_sha2 completes full auth " +
      "against the switch nonce") {
    // the compound path: handshake advertises native, the account runs
    // caching_sha2 with an EMPTY cache — switch first, then the RSA
    // exchange, with the XOR nonce being the SWITCH's, not the
    // handshake's
    val srv = new BinlogFixtureServer(twoFiles, "repl", "graft-secret",
      authPlugin = MysqlProtocol.CachingSha2Plugin,
      advertisePlugin = Some(MysqlProtocol.NativePasswordPlugin),
      sha2ColdCache = true)
    try {
      val r = client(srv).tail("sock-bin.000001")
      assert(r.changes.size == 8)
      assert(srv.fullAuths == 1 && srv.fastAuths == 0)
      // and the switch+fast path once warmed
      assert(client(srv).tail(r.file, r.pos).changes.isEmpty)
      assert(srv.fastAuths == 1)
    } finally srv.close()
  }

  test("e2e: an unknown dump file is refused with error 1236") {
    withServer(twoFiles) { srv =>
      val e = intercept[IllegalStateException](
        client(srv).tail("no-such-bin.000001"))
      assert(e.getMessage.contains("1236"))
    }
  }

  test("e2e: a >16 MiB LONGBLOB row event crosses continuation packets " +
      "byte-exactly") {
    // one row whose LONGBLOB value pushes the event packet past the
    // 0xffffff sentinel: the fixture splits it into continuation
    // fragments, the client splices them, and the decoded blob is
    // byte-identical — the shape a real primary emits for a ~16 MB
    // LONGBLOB/LONGTEXT column
    val blobCols = IndexedSeq(
      ColumnDef(BinlogFormat.TypeLongLong, 0),
      ColumnDef(BinlogFormat.TypeBlob, 4)) // LONGBLOB: 4-byte length prefix
    val big = Array.tabulate[Byte](MaxPacket + 70000)(i => (i * 131 + 7).toByte)
    val file = BinlogFixture.encode("d", "t", blobCols,
      txns = Seq(
        Seq(Change.insert(IndexedSeq[Any](1L, big))),
        Seq(Change.insert(IndexedSeq[Any](2L, "small".getBytes(UTF_8))))),
      gtidFrom = Some(1L), rowsPerEvent = 1)
    withServer(IndexedSeq("blob-bin.000001" -> file)) { srv =>
      val r = client(srv).tail("blob-bin.000001")
      assert(r.changes.size == 2)
      val got = r.changes.head.after.get(1).asInstanceOf[Array[Byte]]
      assert(got.length == big.length)
      assert(java.util.Arrays.equals(got, big), "blob bytes corrupted in flight")
      assert(r.changes(1).after.get.head == 2L)
      // a fresh tail from the final offset is empty — the resume
      // position survived the multi-fragment message too
      assert(client(srv).tail(r.file, r.pos).changes.isEmpty)
    }
  }

  test("decoder reconnect seam: a fresh decoder drops the torn txn and " +
      "requires the new dump's FDE first") {
    val bytes = twoFiles.head._2
    val dec = new BinlogFormat.EventStreamDecoder
    var off = 4
    // feed up to (but not including) the first XID: a torn transaction
    var stop = false
    while (!stop && off < bytes.length) {
      val h = BinlogFormat.header(bytes, off, bytes.length - off)
      if (h.tpe == BinlogFormat.XidEvent) stop = true
      else { dec.onEvent(bytes, off, bytes.length - off); off += h.size }
    }
    assert(dec.pendingCount == 1 && dec.drainCommitted().isEmpty)
    // the reconnect constructs a FRESH decoder (the client's loop): it
    // holds nothing and rejects a non-FDE first event — the new dump's
    // FDE must re-establish the checksum algorithm before anything else
    val fresh = new BinlogFormat.EventStreamDecoder
    assert(fresh.pendingCount == 0)
    val e = intercept[IllegalArgumentException](
      fresh.onEvent(bytes, off, bytes.length - off))
    assert(e.getMessage.contains("FORMAT_DESCRIPTION"))
  }

  test("e2e: compressed transactions commit at the payload packet") {
    // the commit boundary of a zstd TRANSACTION_PAYLOAD is the payload
    // event itself (its XID travels inside) — the tail must drain there,
    // advance its resume offset, and the GTID skip must still work
    val zFiles = IndexedSeq("zst-bin.000001" ->
      BinlogFixture.encode("d", "t", cols,
        txns = (1L to 6L).map(k => Seq(insert(k))),
        uncommittedTail = Seq(insert(99L)), gtidFrom = Some(1L),
        compressTxns = true))
    withServer(zFiles) { srv =>
      val r = client(srv).tail("zst-bin.000001")
      assert(r.changes.map(_.after.get.head) == (1L to 6L))
      assert(r.appliedGtids.render ==
        "01020304-0506-0708-090a-0b0c0d0e0f10:1-6")
      // the resume offset advanced past the last payload: nothing replays
      assert(client(srv).tail(r.file, r.pos).changes.isEmpty)
      // server-side GTID skip over compressed transactions: the
      // suppressed payload ends its own transaction
      val partial = GtidSet.parse("01020304-0506-0708-090a-0b0c0d0e0f10:1-4")
      assert(client(srv).tailGtid(partial).changes
        .map(_.after.get.head) == (5L to 6L))
    }
  }
}
