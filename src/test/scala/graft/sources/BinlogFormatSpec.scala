package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BinlogFormat._
import graft.sources.BinlogFixture.Change

/** [[BinlogFormat]] against the public binlog v4 layout.
  *
  * The first test parses a HAND-WRITTEN golden byte vector (composed
  * field-by-field from the format description, independent of
  * [[BinlogFixture]]) so a mirrored encoder/decoder bug pair cannot
  * cancel out; the t29 gate's DuckDB oracle is the second independent
  * anchor (it recomputes the final state from the parquet, not from
  * these bytes). The remaining tests cover the semantic surface through
  * encoder roundtrips: images per op, nulls, 2-byte VARCHAR lengths,
  * CRC32 verification, XID commit boundaries, rotation, and
  * unknown-event skipping.
  */
class BinlogFormatSpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.split("\\s+").filter(_.nonEmpty).map(Integer.parseInt(_, 16).toByte)

  /** magic; FDE (alg=0, reserved 4-byte tail); TABLE_MAP d.t
    * (id LONG, name VARCHAR(5)); WRITE_ROWS_V2 (id=7, name="ab"); XID.
    * Every offset/length below is hand-computed from the layout:
    * eventSizes 116/40/39/27, end-log-positions 120/160/199/226. */
  private val golden: Array[Byte] = hex("""
    FE 62 69 6E
    00 00 00 00 0F 01 00 00 00 74 00 00 00 78 00 00 00 00 00
    04 00
    67 6F 6C 64 65 6E 00 00 00 00 00 00 00 00 00 00
    00 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00
    00 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00
    00 00
    00 00 00 00
    13
    00 00 00 08 00 00 00 00 00 00 00 00 00 00 5C 08
    00 00 08 00 00 00 00 00 00 00 00 00 00 0A 0A 0A
    00 00 00
    00
    00 00 00 00
    00 00 00 00 13 01 00 00 00 28 00 00 00 A0 00 00 00 00 00
    05 00 00 00 00 00 01 00
    01 64 00 01 74 00 02 03 0F 02 05 00 00
    00 00 00 00 1E 01 00 00 00 27 00 00 00 C7 00 00 00 00 00
    05 00 00 00 00 00 00 00 02 00
    02 03 00 07 00 00 00 02 61 62
    00 00 00 00 10 01 00 00 00 1B 00 00 00 E2 00 00 00 00 00
    2A 00 00 00 00 00 00 00
  """)

  test("golden hand-written vector: FDE + TABLE_MAP + WRITE_ROWS + XID") {
    val p = parse(golden)
    assert(p.nextFile.isEmpty)
    assert(p.droppedUncommitted == 0)
    assert(p.changes == Vector(RowChange("d", "t", "I",
      None, Some(IndexedSeq(7L, "ab")), 199L,
      present = IndexedSeq(true, true))))
  }

  test("golden vector without its XID: the transaction never commits") {
    val torn = golden.dropRight(27)
    val p = parse(torn)
    assert(p.changes.isEmpty)
    assert(p.droppedUncommitted == 1)
  }

  private val cols = IndexedSeq(
    ColumnDef(TypeLongLong, 0), ColumnDef(TypeVarchar, 64),
    ColumnDef(TypeDouble, 8), ColumnDef(TypeVarchar, 400))

  test("roundtrip: op images, nulls, 1- and 2-byte varchar lengths") {
    val big = "x" * 300 // forces the meta>=256 2-byte length path
    val bytes = BinlogFixture.encode("db1", "docs", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(1L, "alpha", 1.5, big)),
      Change.insert(IndexedSeq(2L, null, null, null)),
      Change.update(IndexedSeq(1L, "alpha", 1.5, big),
        IndexedSeq(1L, "beta", -2.25, "short")),
      Change.delete(IndexedSeq(2L, null, null, null)))))
    val p = parse(bytes)
    assert(p.droppedUncommitted == 0)
    assert(p.changes.map(_.op) == Vector("I", "I", "U", "D"))
    assert(p.changes(0).after.get == IndexedSeq(1L, "alpha", 1.5, big))
    assert(p.changes(1).after.get == IndexedSeq(2L, null, null, null))
    assert(p.changes(2).before.get == IndexedSeq(1L, "alpha", 1.5, big))
    assert(p.changes(2).after.get == IndexedSeq(1L, "beta", -2.25, "short"))
    assert(p.changes(3).before.get == IndexedSeq(2L, null, null, null))
    assert(p.changes(3).after.isEmpty)
    // end-log-pos strictly monotone
    assert(p.changes.map(_.pos) == p.changes.map(_.pos).sorted)
  }

  test("integer widths and signedness: TINY/SHORT/LONG/LONGLONG") {
    val icols = IndexedSeq(ColumnDef(TypeTiny, 0), ColumnDef(TypeShort, 0),
      ColumnDef(TypeLong, 0), ColumnDef(TypeLongLong, 0))
    val row = IndexedSeq[Any](-5L, -1000L, -70000L, Long.MinValue + 1)
    val p = parse(BinlogFixture.encode("d", "t", icols,
      txns = Seq(Seq(Change.insert(row)))))
    assert(p.changes.head.after.get == row)
  }

  test("CRC32 on: a corrupted row byte aborts the parse") {
    val bytes = BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(1L, "a", 1.0, "p")))), checksum = true)
    assert(parse(bytes).changes.size == 1)
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 10) = (corrupt(corrupt.length - 10) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException](parse(corrupt))
    assert(e.getMessage.contains("CRC32"))
  }

  test("checksum off: same content parses with no trailing CRCs") {
    val p = parse(BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(9L, "z", 0.5, "q")))), checksum = false))
    assert(p.changes.head.after.get == IndexedSeq(9L, "z", 0.5, "q"))
  }

  test("XID boundaries: only committed transactions surface") {
    val t1 = Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p")))
    val t2 = Seq(Change.insert(IndexedSeq(2L, "b", 2.0, "q")),
      Change.delete(IndexedSeq(1L, "a", 1.0, "p")))
    val tail = Seq(Change.insert(IndexedSeq(3L, "c", 3.0, "r")),
      Change.update(IndexedSeq(2L, "b", 2.0, "q"),
        IndexedSeq(2L, "poison", 0.0, null)))
    val p = parse(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1, t2), uncommittedTail = tail))
    assert(p.changes.size == 3)
    assert(p.droppedUncommitted == 2)
    assert(!p.changes.exists(c => c.after.exists(_.contains("poison"))))
  }

  test("GTID mode: transactions stamped, previous-set decoded, tail bare") {
    val uuid = "01020304-0506-0708-090a-0b0c0d0e0f10" // FixtureSid rendered
    val t1 = Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p")))
    val t2 = Seq(Change.insert(IndexedSeq(2L, "b", 2.0, "q")),
      Change.delete(IndexedSeq(1L, "a", 1.0, "p")))
    val tail = Seq(Change.insert(IndexedSeq(3L, "c", 3.0, "r")))
    val p = parse(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1, t2), uncommittedTail = tail, gtidFrom = Some(8L)))
    assert(p.previousGtids.contains(s"$uuid:1-7"))
    assert(p.changes.map(_.gtid) ==
      Vector(Some(s"$uuid:8"), Some(s"$uuid:9"), Some(s"$uuid:9")))
    assert(p.droppedUncommitted == 1)
    // non-GTID files carry no stamps at all
    val bare = parse(BinlogFixture.encode("d", "t", cols, txns = Seq(t1)))
    assert(bare.previousGtids.isEmpty &&
      bare.changes.forall(_.gtid.isEmpty))
    // nothing applied before the first file: the EMPTY set (zero sids),
    // never a malformed degenerate interval like "uuid:1-0"
    val fresh = parse(BinlogFixture.encode("d", "t", cols, txns = Seq(t1),
      gtidFrom = Some(1L)))
    assert(fresh.previousGtids.contains(""))
    assert(fresh.changes.head.gtid.contains(s"$uuid:1"))
  }

  test("rotate chain: next file name surfaces; absent on the last file") {
    val one = Seq(Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p"))))
    val withRot = BinlogFixture.encode("d", "t", cols, one,
      rotateTo = Some("bin.000002"))
    val noRot = BinlogFixture.encode("d", "t", cols, one)
    assert(parse(withRot).nextFile.contains("bin.000002"))
    assert(parse(noRot).nextFile.isEmpty)
    // the header-only walk agrees with the full decode on both shapes
    assert(scanRotate(withRot) == parse(withRot).nextFile)
    assert(scanRotate(noRot) == parse(noRot).nextFile)
  }

  test("unknown event types are size-skipped (GTID/QUERY interleave)") {
    val bytes = BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(4L, "k", 4.0, "v")))), checksum = false)
    // splice a 25-byte unknown-type event (0x63) at the end
    val unk = java.nio.ByteBuffer.allocate(25)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    unk.putInt(0); unk.put(0x63.toByte); unk.putInt(1)
    unk.putInt(25); unk.putInt(0); unk.putShort(0)
    unk.put(Array[Byte](1, 2, 3, 4, 5, 6))
    val p = parse(bytes ++ unk.array())
    assert(p.changes.size == 1)
  }

  test("MINIMAL row image: absent columns decode as null") {
    // hand-built WRITE_ROWS over the golden table (id LONG, name
    // VARCHAR(5)) with columns-present = 0x01: only id ships. Replaces
    // the golden vector's rows event; sizes recomputed by hand
    // (eventSize 36, post-header 10 + body 7).
    val b = java.nio.ByteBuffer.allocate(36)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putInt(0); b.put(WriteRowsV2.toByte); b.putInt(1)
    b.putInt(36); b.putInt(196); b.putShort(0) // header
    b.put(Array[Byte](5, 0, 0, 0, 0, 0)) // tableId 5
    b.putShort(0); b.putShort(2) // flags, extraLen (self only)
    b.put(2.toByte) // column count
    b.put(1.toByte) // present bitmap: id only
    b.put(0.toByte) // null bitmap over the ONE present column
    b.putInt(9) // id = 9
    val xid = golden.takeRight(27)
    val p = parse(golden.take(4 + 116 + 40) ++ b.array() ++ xid)
    assert(p.changes.map(c => (c.op, c.after.get)) ==
      Vector(("I", IndexedSeq(9L, null))))
  }

  test("malformed inputs fail loudly: bad magic, truncated event") {
    intercept[IllegalArgumentException](parse("nope".getBytes))
    val bytes = BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(1L, "a", 1.0, "p")))))
    intercept[IllegalArgumentException](parse(bytes.dropRight(3)))
  }

  test("optional-metadata TLV: an inner length past the TLV fails diagnosably") {
    // a malformed COLUMN_NAME inner lenenc must not read into the NEXT
    // TLV's bytes (or allocate a negative-size array) — it fails with
    // the documented diagnostic before any read happens
    val names = IndexedSeq("user_id", "event_type", "value", "props")
    val bytes = BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(1L, "a", 1.0, "p")))), checksum = false,
      colNames = names)
    // the TLV starts [type=4, total lenenc, 7, 'u', 's', ...]; bump the
    // first inner name length beyond the TLV's remaining bytes
    val i = bytes.indices.find(i => bytes(i) == 4 && i + 3 < bytes.length &&
      (bytes(i + 2) & 0xff) == 7 && bytes(i + 3) == 'u').get
    val c = bytes.clone(); c(i + 2) = 0xf0.toByte
    val e = intercept[IllegalArgumentException](parse(c))
    assert(e.getMessage.contains("overruns its TLV"))
  }

  test("rows event before any FORMAT_DESCRIPTION is rejected") {
    // second event first: slice the golden TABLE_MAP to the front
    val noFde = Magic ++ golden.slice(4 + 116, golden.length)
    intercept[IllegalArgumentException](parse(noFde))
  }

  test("malformed frames: parse and both scans reject the same inputs") {
    // the scans frame like parse does, so chain validation and schema
    // discovery cannot accept a file the decode then rejects
    val fdeLen = 116 // the golden FDE; its alg byte sits at fdeLen - 5
    val noFde = Magic ++ golden.slice(4 + fdeLen, golden.length)
    val alg7 = golden.clone()
    alg7(4 + fdeLen - 5) = 7
    // a CRC32 file (golden FDE with alg = 1, its CRC recomputed) whose
    // next event is a bare 19-byte TABLE_MAP header: no room for a CRC
    val fde1 = golden.slice(4, 4 + fdeLen)
    fde1(fdeLen - 5) = 1
    val crc = new java.util.zip.CRC32()
    crc.update(fde1, 0, fdeLen - 4)
    java.nio.ByteBuffer.wrap(fde1, fdeLen - 4, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(crc.getValue.toInt)
    val shortEvent = Magic ++ fde1 ++
      hex("00 00 00 00 13 01 00 00 00 13 00 00 00 8B 00 00 00 00 00")
    assert(parse(Magic ++ fde1).changes.isEmpty) // the FDE alone is fine
    val readers = Seq[(String, Array[Byte] => Any)](
      "parse" -> (b => parse(b)),
      "scanRotate" -> (b => scanRotate(b)),
      "scanTableMaps" -> (b => scanTableMaps(b)))
    for ((input, bytes) <- Seq("no FDE first" -> noFde, "FDE alg 7" -> alg7,
           "event shorter than header + CRC" -> shortEvent);
         (reader, f) <- readers)
      withClue(s"$reader on $input: ") {
        intercept[IllegalArgumentException](f(bytes))
      }
  }

  test("robustness property: truncation/corruption fails cleanly, never hangs") {
    // A CDC source swallows whatever a crashed server left on disk: for
    // ANY truncation point and ANY single-byte corruption the parser
    // must either return a consistent prefix or throw a diagnosable
    // IllegalArgument/IllegalState — never loop, never emit rows from a
    // transaction whose XID it did not see.
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val full = BinlogFixture.encode("d", "t", cols, txns = Seq(
      Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p"))),
      Seq(Change.update(IndexedSeq(1L, "a", 1.0, "p"),
        IndexedSeq(1L, "b", 2.0, "q")),
        Change.delete(IndexedSeq(1L, "b", 2.0, "q")))),
      gtidFrom = Some(3L))
    val total = parse(full).changes.size
    // corruption may legitimately re-frame row boundaries (garbage in);
    // the invariants are termination + only diagnosable exceptions
    def outcome(bytes: Array[Byte]): Either[Throwable, Int] =
      try Right(parse(bytes).changes.size) catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException |
                  _: java.nio.BufferUnderflowException |
                  // corrupt typed values: month 13, day 0 … — the field
                  // decode throws the java.time diagnostic
                  _: java.time.DateTimeException) => Left(e)
      }
    val truncate = Prop.forAll(Gen.choose(0, full.length - 1)) { k =>
      // a prefix of a valid file can never yield MORE committed rows
      outcome(full.take(k)).forall(_ <= total)
    }
    def flipProp(bytes: Array[Byte]): Prop =
      Prop.forAll(Gen.choose(4, bytes.length - 1), Gen.choose(1, 255)) {
        (i, x) =>
          val c = bytes.clone(); c(i) = (c(i) ^ x).toByte
          outcome(c); true
      }
    val corrupt = flipProp(full)
    // the non-checksummed shape has no CRC to catch flips first — the
    // parser's own bounds guards must hold on their own
    val bare = BinlogFixture.encode("d", "t", cols, txns = Seq(
      Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p")))), checksum = false)
    val corruptBare = flipProp(bare)
    // and the TYPED surface: every r13 codec (decimal groups, date
    // fields, fsp fractions, enum dictionary, bit/blob lengths) must
    // fail diagnosably under any single-byte flip, CRCs off
    val typedCols = IndexedSeq(
      ColumnDef(TypeNewDecimal, (12 << 8) | 3), ColumnDef(TypeDate, 0),
      ColumnDef(TypeDatetime2, 3), ColumnDef(TypeTime2, 0),
      ColumnDef(TypeYear, 0),
      ColumnDef(TypeEnum, 1, labels = IndexedSeq("x", "y")),
      ColumnDef(TypeBit, 12), ColumnDef(TypeBlob, 2))
    val typedBare = BinlogFixture.encode("d", "t", typedCols, txns = Seq(Seq(
      Change.insert(IndexedSeq(new java.math.BigDecimal("123456789.125"),
        java.time.LocalDate.of(2024, 3, 7),
        java.time.LocalDateTime.of(2024, 3, 7, 13, 45, 30, 250000000),
        "05:06:07", 2021.toShort, "y", 0xABCL, "xy".getBytes)))),
      checksum = false)
    assert(outcome(typedBare) == Right(1)) // the uncorrupted baseline
    val corruptTyped = flipProp(typedBare)
    // and the MINIMAL-image shape: the per-image present bitmaps add a
    // second bitmap layer whose corruption must fail diagnosably too
    val minimalBare = BinlogFixture.encode("d", "t", cols, txns = Seq(Seq(
      Change.insert(IndexedSeq(1L, "a", 1.0, "p")),
      Change.update(
        IndexedSeq(1L, BinlogFixture.Absent, BinlogFixture.Absent,
          BinlogFixture.Absent),
        IndexedSeq(1L, BinlogFixture.Absent, 2.0, BinlogFixture.Absent)))),
      checksum = false)
    assert(outcome(minimalBare) == Right(2))
    val corruptMinimal = flipProp(minimalBare)
    Seq(truncate, corrupt, corruptBare, corruptTyped, corruptMinimal)
      .foreach { p =>
        val r = SCTest.check(SCTest.Parameters.default
          .withMinSuccessfulTests(200), p)
        assert(r.passed, r.status.toString)
      }
  }

  /** Second hand-written golden vector: the widened type surface.
    * TABLE_MAP d.t over (dec DECIMAL(14,4), d DATE, dt DATETIME2(3),
    * tm TIME2(0), y YEAR, en ENUM('lo','hi'), b BIT(12), bl BLOB) with
    * 8.0 optional metadata (SIGNEDNESS over the one numeric column,
    * ENUM_STR_VALUE carrying the labels); WRITE_ROWS_V2 with one row.
    * Every byte composed field-by-field from the MySQL Internals layout
    * (the DECIMAL bytes are the manual's own documented example for
    * 1234567890.1234 as DECIMAL(14,4)); eventSizes 65/60, end positions
    * 185/245, FDE reused from the first golden file (alg=0). */
  private val goldenTyped: Array[Byte] =
    golden.take(4 + 116) ++ hex("""
      00 00 00 00 13 01 00 00 00 41 00 00 00 B9 00 00 00 00 00
      06 00 00 00 00 00 01 00
      01 64 00 01 74 00
      08
      F6 0A 12 13 0D FE 10 FC
      09
      0E 04 03 00 F7 01 04 01 02
      00
      01 01 00
      06 07 02 02 6C 6F 02 68 69
      00 00 00 00 1E 01 00 00 00 3C 00 00 00 F5 00 00 00 00 00
      06 00 00 00 00 00 00 00 02 00
      08 FF 00
      81 0D FB 38 D2 04 D2
      67 D0 0F
      99 B2 CE DB 5E 09 C4
      80 51 87
      79
      02
      0A BC
      02 00 78 79
    """) ++ golden.takeRight(27)

  test("golden typed vector: decimal/date/datetime2/time2/year/enum/bit/blob") {
    val p = parse(goldenTyped)
    assert(p.changes.size == 1)
    val img = p.changes.head.after.get
    assert(img(0) == new java.math.BigDecimal("1234567890.1234"))
    assert(img(1) == java.time.LocalDate.of(2024, 3, 7))
    assert(img(2) == java.time.LocalDateTime.of(2024, 3, 7, 13, 45, 30, 250000000))
    assert(img(3) == "05:06:07")
    assert(img(4) == 2021.toShort)
    assert(img(5) == "hi") // ENUM index 2 through the in-band labels
    assert(img(6) == 0xABCL)
    assert(img(7).asInstanceOf[Array[Byte]].sameElements("xy".getBytes))
    assert(p.changes.head.pos == 245L)
  }

  test("typed roundtrip: every wire type through encoder and parser") {
    val tcols = IndexedSeq(
      ColumnDef(TypeTiny, 0, unsigned = true),
      ColumnDef(TypeShort, 0, unsigned = true),
      ColumnDef(TypeInt24, 0),
      ColumnDef(TypeInt24, 0, unsigned = true),
      ColumnDef(TypeLong, 0, unsigned = true),
      ColumnDef(TypeLongLong, 0, unsigned = true),
      ColumnDef(TypeFloat, 4),
      ColumnDef(TypeNewDecimal, (20 << 8) | 6),
      ColumnDef(TypeDate, 0),
      ColumnDef(TypeYear, 0),
      ColumnDef(TypeDatetime2, 6),
      ColumnDef(TypeTimestamp2, 2),
      ColumnDef(TypeTime2, 0),
      ColumnDef(TypeBit, 31),
      ColumnDef(TypeEnum, 2, labels = (1 to 300).map(i => s"e$i")),
      ColumnDef(TypeSet, 1, labels = IndexedSeq("a", "b", "c")),
      ColumnDef(TypeString, 10),
      ColumnDef(TypeBlob, 4),
      ColumnDef(TypeVarString, 20))
    val row = IndexedSeq[Any](
      200L, 65000L, -5000000L, 16000000L, 4000000000L,
      new java.math.BigDecimal("18446744073709551615"), // u64 max
      1.5f,
      new java.math.BigDecimal("-12345678901234.567890"),
      java.time.LocalDate.of(1991, 12, 31),
      2155.toShort,
      java.time.LocalDateTime.of(2026, 8, 16, 23, 59, 59, 999999000),
      java.time.Instant.ofEpochSecond(1723804800L, 990000000L),
      "-812:34:56",
      0x7fffffffL,
      "e299", // 2-byte enum index 299
      "a,c",  // set bitmask 0b101
      "charpad",
      "blobby".getBytes,
      "varstring")
    val p = parse(BinlogFixture.encode("d", "t", tcols,
      txns = Seq(Seq(Change.insert(row)))))
    val img = p.changes.head.after.get
    row.indices.foreach { i =>
      (img(i), row(i)) match {
        case (a: Array[Byte], e: Array[Byte]) => assert(a.sameElements(e), s"col $i")
        case (a, e) => assert(a == e, s"col $i: $a != $e")
      }
    }
  }

  test("time2: fractional and negative-fractional storage (signed wrap)") {
    // the fsp 1-4 layouts store int3 + a SIGNED scaled fraction; negative
    // times with fraction wrap through intpart++ (binary_to_my_time_packed)
    Seq(1, 2, 3, 4, 6).foreach { fsp =>
      val c = IndexedSeq(ColumnDef(TypeTime2, fsp))
      def rt(s: String): Any = parse(BinlogFixture.encode("d", "t", c,
        txns = Seq(Seq(Change.insert(IndexedSeq(s)))))).changes.head.after.get.head
      val digits = "998877".take(fsp)
      assert(rt(s"11:22:33.$digits") == s"11:22:33.$digits", s"fsp $fsp")
      assert(rt(s"-00:00:00.$digits") == s"-00:00:00.$digits", s"neg fsp $fsp")
      assert(rt("-838:59:59." + "0" * fsp) == "-838:59:59." + "0" * fsp)
    }
  }

  test("decimal: sign, leading-zero groups, scale-only and intg-only shapes") {
    def rt(s: String, p: Int, sc: Int): Any = {
      val c = IndexedSeq(ColumnDef(TypeNewDecimal, (p << 8) | sc))
      parse(BinlogFixture.encode("d", "t", c, txns = Seq(Seq(
        Change.insert(IndexedSeq(new java.math.BigDecimal(s)))))))
        .changes.head.after.get.head
    }
    assert(rt("0.0001", 10, 4) == new java.math.BigDecimal("0.0001"))
    assert(rt("-0.0001", 10, 4) == new java.math.BigDecimal("-0.0001"))
    assert(rt("99999999999999999999999999999999999998", 38, 0) ==
      new java.math.BigDecimal("99999999999999999999999999999999999998"))
    assert(rt("-123456789123456789.123456789123456789", 36, 18) ==
      new java.math.BigDecimal("-123456789123456789.123456789123456789"))
    assert(rt("0", 5, 0) == new java.math.BigDecimal("0"))
    assert(rt("0.00", 4, 2) == new java.math.BigDecimal("0.00"))
  }

  test("date/year zero sentinels and unsigned-less integers stay signed") {
    // a zero-date (year 0) decodes as null — the 0000-00-00 sentinel;
    // YEAR byte 0 decodes as year 0
    val dc = IndexedSeq(ColumnDef(TypeDate, 0), ColumnDef(TypeYear, 0))
    val p = parse(BinlogFixture.encode("d", "t", dc, txns = Seq(Seq(
      Change.insert(IndexedSeq(java.time.LocalDate.of(0, 1, 1), 0.toShort))))))
    assert(p.changes.head.after.get(0) == null)
    assert(p.changes.head.after.get(1) == 0.toShort)
    // without a SIGNEDNESS TLV match, integers decode signed (the
    // documented pre-8.0 caveat): -1 as unsigned-undeclared LONGLONG
    val ic = IndexedSeq(ColumnDef(TypeLongLong, 0))
    val q = parse(BinlogFixture.encode("d", "t", ic, txns = Seq(Seq(
      Change.insert(IndexedSeq(-1L))))))
    assert(q.changes.head.after.get.head == -1L)
  }

  /** Third hand-written golden vector: the PRE-5.6.4 legacy temporal
    * codes + GEOMETRY. TABLE_MAP d.t over (ts TIMESTAMP(7), tm TIME(11),
    * dt DATETIME(12), geo GEOMETRY(255, 2-byte length prefix));
    * WRITE_ROWS with one row: ts = 1500000000 epoch s (4-byte LE),
    * tm = -08:06:07 (3-byte LE signed −80607), dt = 2024-03-07 13:45:30
    * (8-byte LE packed 20240307134530), geo = bytes 01..05 behind a
    * 2-byte length. FDE (alg=0) and XID reused from the first golden. */
  private val goldenLegacy: Array[Byte] =
    golden.take(4 + 116) ++ hex("""
      00 00 00 00 13 01 00 00 00 29 00 00 00 A1 00 00 00 00 00
      01 00 00 00 00 00 01 00
      01 64 00 01 74 00
      04
      07 0B 0C FF
      01
      02
      00
      00 00 00 00 1E 01 00 00 00 36 00 00 00 D7 00 00 00 00 00
      01 00 00 00 00 00 00 00 02 00
      04 0F 00
      00 2F 68 59
      21 C5 FE
      42 20 51 90 68 12 00 00
      05 00 01 02 03 04 05
    """) ++ golden.takeRight(27)

  test("golden legacy vector: TIMESTAMP/TIME/DATETIME wire codes + GEOMETRY") {
    val p = parse(goldenLegacy)
    assert(p.changes.size == 1)
    val img = p.changes.head.after.get
    assert(img(0) == java.time.Instant.ofEpochSecond(1500000000L))
    assert(img(1) == "-08:06:07")
    assert(img(2) == java.time.LocalDateTime.of(2024, 3, 7, 13, 45, 30))
    assert(img(3).asInstanceOf[Array[Byte]].toSeq ==
      Seq[Byte](1, 2, 3, 4, 5))
  }

  test("legacy temporals roundtrip: values, zero sentinels, sign") {
    val legacyCols = IndexedSeq(
      ColumnDef(TypeLongLong, 0), ColumnDef(TypeTimestamp, 0),
      ColumnDef(TypeTime, 0), ColumnDef(TypeDatetime, 0),
      ColumnDef(TypeGeometry, 2))
    def row(k: Long, tm: String): IndexedSeq[Any] = IndexedSeq(
      k, java.time.Instant.ofEpochSecond(1500000000L + k), tm,
      java.time.LocalDateTime.of(2024, 3, 7, 13, 45, (k % 60).toInt),
      s"wkb-$k".getBytes)
    val p = parse(BinlogFixture.encode("d", "t", legacyCols, txns = Seq(Seq(
      Change.insert(row(1L, "838:59:59")), // TIME's documented extremes
      Change.insert(row(2L, "-00:00:01")),
      Change.insert(IndexedSeq(3L, java.time.Instant.ofEpochSecond(0),
        "00:00:00", java.time.LocalDateTime.of(2024, 3, 7, 0, 0, 0),
        Array[Byte]()))))))
    val imgs = p.changes.map(_.after.get)
    assert(imgs(0)(1) == java.time.Instant.ofEpochSecond(1500000001L))
    assert(imgs(0)(2) == "838:59:59")
    assert(imgs(0)(3) == java.time.LocalDateTime.of(2024, 3, 7, 13, 45, 1))
    assert(new String(imgs(0)(4).asInstanceOf[Array[Byte]]) == "wkb-1")
    assert(imgs(1)(2) == "-00:00:01")
    // the zero sentinels: epoch-0 TIMESTAMP decodes null (like t2's),
    // midnight DATETIME is a real value, empty geometry is empty
    assert(imgs(2)(1) == null)
    assert(imgs(2)(3) == java.time.LocalDateTime.of(2024, 3, 7, 0, 0, 0))
    assert(imgs(2)(4).asInstanceOf[Array[Byte]].isEmpty)
  }

  test("fileOrdinal: standard rotated names order numerically") {
    assert(BinlogSource.fileOrdinal("/a/b/mysql-bin.000042") == 42L)
    assert(BinlogSource.fileOrdinal("events-bin.000001") == 1L)
    intercept[IllegalArgumentException](BinlogSource.fileOrdinal("nodigits"))
  }

  test("compressed transactions: zstd payload events decode like plain ones") {
    // 8.0 binlog_transaction_compression: each transaction's TABLE_MAP +
    // rows + XID travel zstd-compressed inside one TRANSACTION_PAYLOAD
    val t1 = Seq(Change.insert(IndexedSeq(1L, "a", 1.0, "p")))
    val t2 = Seq(Change.insert(IndexedSeq(2L, "b", 2.0, "q")),
      Change.update(IndexedSeq(1L, "a", 1.0, "p"),
        IndexedSeq(1L, "a2", 1.5, "p2")),
      Change.delete(IndexedSeq(2L, "b", 2.0, "q")))
    val plain = parse(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1, t2), gtidFrom = Some(5L)))
    val zipped = parse(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1, t2), gtidFrom = Some(5L), compressTxns = true))
    // identical semantic stream: ops, images, gtids (pos differs — inner
    // events carry payload-relative positions)
    assert(zipped.changes.map(c => (c.op, c.before, c.after, c.gtid)) ==
      plain.changes.map(c => (c.op, c.before, c.after, c.gtid)))
    assert(zipped.droppedUncommitted == 0)
    // an uncompressed uncommitted tail after compressed txns still drops
    val torn = parse(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1), uncommittedTail = t2, compressTxns = true))
    assert(torn.changes.size == 1 && torn.droppedUncommitted == 3)
    // schema discovery sees THROUGH the compression (maps live inside)
    val maps = scanTableMaps(BinlogFixture.encode("d", "t", cols,
      txns = Seq(t1), compressTxns = true))
    assert(maps.contains(("d", "t")))
    // CRC corruption on the payload event aborts like any other event
    val bytes = BinlogFixture.encode("d", "t", cols, txns = Seq(t1, t2),
      compressTxns = true)
    val corrupt = bytes.clone()
    corrupt(corrupt.length - 40) = (corrupt(corrupt.length - 40) ^ 0x20).toByte
    intercept[IllegalArgumentException](parse(corrupt))
  }

  test("golden TRANSACTION_PAYLOAD vector: hand-written field layout") {
    // The payload FIELD layout pinned independently of the fixture
    // encoder (compression NONE so every byte is hand-writable):
    // header (type 0x28, size 134, end-pos 254); fields = (type 02,
    // len 03, value lenenc(255) = FC FF 00) compression NONE, (type 03,
    // len 01, value 6A) uncompressed size 106, end mark 00; then the
    // 106-byte inner stream = the first golden file's own TABLE_MAP +
    // WRITE_ROWS + XID events (already CRC-less, alg=0). Expected
    // decode = exactly the first golden test's single insert.
    val inner = golden.slice(4 + 116, golden.length) // 40 + 39 + 27 bytes
    assert(inner.length == 106)
    val payloadEvent = hex("""
      00 00 00 00 28 01 00 00 00 86 00 00 00 FE 00 00 00 00 00
      02 03 FC FF 00
      03 01 6A
      00
    """) ++ inner
    val p = parse(golden.take(4 + 116) ++ payloadEvent)
    assert(p.changes == Vector(RowChange("d", "t", "I",
      None, Some(IndexedSeq(7L, "ab")), 199L,
      present = IndexedSeq(true, true))))
    assert(p.droppedUncommitted == 0)
  }

  test("scanTableMaps + sparkTypeOf: the log is self-describing") {
    import org.apache.spark.sql.types._
    val cols = IndexedSeq(
      ColumnDef(TypeLongLong, 0, unsigned = true),
      ColumnDef(TypeNewDecimal, (12 << 8) | 3),
      ColumnDef(TypeDatetime2, 3),
      ColumnDef(TypeEnum, 1, labels = IndexedSeq("a", "b")),
      ColumnDef(TypeEnum, 1), // no dictionary → raw index
      ColumnDef(TypeBlob, 2),
      ColumnDef(TypeVarchar, 300))
    val names = IndexedSeq("id", "bal", "at", "kind", "rawkind", "body", "note")
    val bytes = BinlogFixture.encode("shop", "accts", cols,
      txns = Seq(Seq(Change.insert(IndexedSeq(
        1L, new java.math.BigDecimal("0.000"),
        java.time.LocalDateTime.of(2020, 1, 1, 0, 0, 0),
        "a", 1L, "x".getBytes, "n")))),
      colNames = names)
    val maps = scanTableMaps(bytes)
    val tm = maps(("shop", "accts"))
    assert(tm.colNames == names)
    assert(tm.cols == cols) // signedness + labels round-trip the TLVs
    assert(tm.cols.map(BinlogSource.sparkTypeOf) == IndexedSeq(
      DecimalType(20, 0), DecimalType(12, 3), TimestampNTZType,
      StringType, LongType, BinaryType, StringType))
    // and the full parse agrees with the scan-only walk
    assert(parse(bytes).changes.size == 1)
  }

  test("sparkTypeOf agrees with TypeMapper's DDL-string mapping") {
    import graft.model.TypeMapper.toSparkType
    // the same MySQL type reaches the engine two ways — as a DDL string
    // (snapshot path, information_schema) and as a wire code (binlog
    // path, TABLE_MAP); the two mappings must never drift
    val pairs = Seq(
      ColumnDef(TypeTiny, 0) -> "tinyint",
      ColumnDef(TypeTiny, 0, unsigned = true) -> "tinyint unsigned",
      ColumnDef(TypeShort, 0) -> "smallint",
      ColumnDef(TypeShort, 0, unsigned = true) -> "smallint unsigned",
      ColumnDef(TypeInt24, 0) -> "mediumint",
      ColumnDef(TypeLong, 0) -> "int",
      ColumnDef(TypeLong, 0, unsigned = true) -> "int unsigned",
      ColumnDef(TypeLongLong, 0) -> "bigint",
      ColumnDef(TypeLongLong, 0, unsigned = true) -> "bigint unsigned",
      ColumnDef(TypeFloat, 4) -> "float",
      ColumnDef(TypeDouble, 8) -> "double",
      ColumnDef(TypeDate, 0) -> "date",
      ColumnDef(TypeTimestamp2, 0) -> "timestamp",
      ColumnDef(TypeTime2, 0) -> "time",
      ColumnDef(TypeYear, 0) -> "year",
      ColumnDef(TypeBit, 12) -> "bit",
      ColumnDef(TypeBlob, 2) -> "blob",
      ColumnDef(TypeJson, 4) -> "json",
      ColumnDef(TypeVarchar, 64) -> "varchar(64)",
      ColumnDef(TypeString, 10) -> "char(10)",
      ColumnDef(TypeEnum, 1, labels = IndexedSeq("a")) -> "enum('a')",
      ColumnDef(TypeSet, 1, labels = IndexedSeq("a")) -> "set('a')")
    pairs.foreach { case (c, ddl) =>
      assert(BinlogSource.sparkTypeOf(c) == toSparkType(ddl),
        s"wire/DDL mapping drift for $ddl")
    }
    // decimal carries (p, s) in the wire metadata like the DDL suffix
    assert(BinlogSource.sparkTypeOf(ColumnDef(TypeNewDecimal, (12 << 8) | 3))
      == toSparkType("decimal", Some(12), Some(3)))
    // documented divergences: DATETIME has no zone on the wire → NTZ
    // (the DDL path returns TimestampType for both); BLOB's wire code is
    // shared with TEXT, so the wire default is the strict BinaryType
    assert(BinlogSource.sparkTypeOf(ColumnDef(TypeDatetime2, 0))
      == org.apache.spark.sql.types.TimestampNTZType)
  }

  test("GtidSet: parse/contains/render/fromGtids interval arithmetic") {
    val u1 = "01020304-0506-0708-090a-0b0c0d0e0f10"
    val u2 = "ffeeddcc-bbaa-9988-7766-554433221100"
    val set = GtidSet.parse(s"$u1:1-5:9:12-20,$u2:3")
    assert(Seq(1L, 5L, 9L, 12L, 20L).forall(g => set.contains(s"$u1:$g")))
    assert(Seq(6L, 8L, 10L, 11L, 21L).forall(g => !set.contains(s"$u1:$g")))
    assert(set.contains(s"$u2:3") && !set.contains(s"$u2:4"))
    assert(!set.contains(s"aaaaaaaa-0000-0000-0000-000000000000:1"))
    assert(GtidSet.parse("").isEmpty && !GtidSet.Empty.contains(s"$u1:1"))
    // fromGtids coalesces runs and renders canonically
    val built = GtidSet.fromGtids(Seq(s"$u1:3", s"$u1:1", s"$u1:2",
      s"$u1:7", s"$u1:2"))
    assert(built.render == s"$u1:1-3:7")
    assert(GtidSet.parse(built.render).contains(s"$u1:2"))
    intercept[IllegalArgumentException](GtidSet.parse(s"$u1"))
    intercept[IllegalArgumentException](GtidSet.parse(s"$u1:5-1"))
  }

  test("RotateChainGuard: out-of-order landing validates; mismatch fails") {
    // in-order
    val g = new BinlogSource.RotateChainGuard
    g.observe("b.000001", Some("b.000002"))
    g.observe("b.000002", Some("b.000003"))
    g.observe("b.000003", None)
    assert(g.seenCount == 3)
    // out of order: 3 lands before 2 — the (2,3) pair is checked once
    // both are present, and passes
    val g2 = new BinlogSource.RotateChainGuard
    g2.observe("b.000003", None)
    g2.observe("b.000001", Some("b.000002"))
    g2.observe("b.000002", Some("b.000003"))
    assert(g2.seenCount == 3)
    // a ROTATE disagreeing with the name order fails as soon as the
    // successor is visible — regardless of landing order
    val g3 = new BinlogSource.RotateChainGuard
    g3.observe("b.000001", Some("b.000009"))
    val e = intercept[IllegalArgumentException](g3.observe("b.000002", None))
    assert(e.getMessage.contains("rotate chain mismatch"))
    // a non-final file with NO rotate fails once its successor lands
    val g4 = new BinlogSource.RotateChainGuard
    g4.observe("b.000002", Some("b.000003"))
    intercept[IllegalStateException](g4.observe("b.000001", None))
  }
}
