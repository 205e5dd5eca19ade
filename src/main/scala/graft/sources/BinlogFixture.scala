package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** Binlog v4 test-vector ENCODER — the sandbox's stand-in for the MySQL
  * server side of the reference's replication link (no MySQL in the
  * container; the t29 gate and `BinlogFormatSpec` stage bytes with this
  * the way t12 stages Debezium JSON lines). Follows the same public
  * layout [[BinlogFormat]] documents; the spec additionally pins
  * HAND-WRITTEN golden byte vectors so an encoder/decoder bug pair
  * cannot cancel out.
  *
  * Writes: magic, FORMAT_DESCRIPTION (alg byte + 4 reserved trailing
  * bytes always, per the >= 5.6.1 layout), TABLE_MAP, WRITE/UPDATE/
  * DELETE_ROWS v2 with all-columns-present bitmaps, XID commits, and an
  * optional trailing ROTATE. `logPos` fields are true end-positions and
  * CRC32 trailers are emitted when `checksum = true`.
  */
object BinlogFixture {
  import BinlogFormat._

  final case class Change(op: String, before: IndexedSeq[Any],
                          after: IndexedSeq[Any])

  /** A JSON column's after-value shipped as DIFFS (PARTIAL_JSON) instead
    * of a full document — place in a [[Change.partialUpdate]]'s after
    * image at the JSON column's position. */
  final case class Partial(diffs: Seq[JsonBinary.Diff])

  /** A column NOT INCLUDED in an image (binlog_row_image=MINIMAL): the
    * columns-present bitmap clears its bit and the image carries no
    * bytes for it — distinct from an explicit SQL NULL, whose bit is
    * set and whose null-bitmap bit marks the value. Place in a
    * [[Change]] image at the omitted column's position. */
  case object Absent

  object Change {
    def insert(row: IndexedSeq[Any]): Change = Change("I", null, row)
    def update(before: IndexedSeq[Any], after: IndexedSeq[Any]): Change =
      Change("U", before, after)
    /** PARTIAL_UPDATE_ROWS_EVENT: after-image entries may be [[Partial]]
      * (diff-shipped JSON) at JSON columns; everything else is full. */
    def partialUpdate(before: IndexedSeq[Any], after: IndexedSeq[Any]): Change =
      Change("P", before, after)
    def delete(row: IndexedSeq[Any]): Change = Change("D", row, null)
  }

  /** The fixed source-UUID fixtures stamp GTIDs with. */
  val FixtureSid: Array[Byte] = Array.tabulate(16)(i => (i + 1).toByte)

  /** One replicated table in a multi-table file. `colNames` (when
    * non-empty) is written as COLUMN_NAME optional metadata — the 8.0
    * binlog_row_metadata=FULL shape that makes the log self-describing. */
  final case class TableDef(db: String, table: String, tableId: Long,
                            cols: IndexedSeq[ColumnDef],
                            colNames: IndexedSeq[String] = IndexedSeq.empty)

  /** Single-table [[encodeMulti]]: each inner Seq of `txns` is one
    * transaction (one rows-event per ≤ `rowsPerEvent` slice, then an
    * XID); `uncommittedTail` rows are appended WITHOUT an XID (a
    * mid-transaction crash image the parser must discard); `rotateTo`
    * appends the chain link. All rows must match `cols` (type codes +
    * metadata). `gtidFrom = Some(n)` writes a PREVIOUS_GTIDS set covering
    * `FixtureSid:1..n-1` after the FDE and a GTID event (gno = n, n+1, …)
    * before each transaction — the 5.7+ GTID-mode file shape. */
  def encode(db: String, table: String, cols: IndexedSeq[ColumnDef],
             txns: Seq[Seq[Change]], checksum: Boolean = true,
             rotateTo: Option[String] = None,
             uncommittedTail: Seq[Change] = Nil,
             serverId: Int = 1, tableId: Long = 23L,
             rowsPerEvent: Int = 100,
             gtidFrom: Option[Long] = None,
             colNames: IndexedSeq[String] = IndexedSeq.empty,
             compressTxns: Boolean = false): Array[Byte] =
    encodeMulti(Seq(TableDef(db, table, tableId, cols, colNames)),
      txns.map(_.map(table -> _)), checksum, rotateTo,
      uncommittedTail.map(table -> _), serverId, rowsPerEvent, gtidFrom,
      compressTxns)

  /** Multi-table form — a database's binlog, not a table's: transactions
    * interleave rows-events of several mapped tables and an XID commits
    * them ATOMICALLY (the property the reference's per-table threads
    * destroy and `MultiTableCdc` restores; here it arrives from the wire
    * itself). Each txn entry is (table name, change); table maps are
    * announced per transaction like real servers write them — the
    * placement a mid-file replication resume depends on. */
  def encodeMulti(tables: Seq[TableDef],
                  txns: Seq[Seq[(String, Change)]],
                  checksum: Boolean = true,
                  rotateTo: Option[String] = None,
                  uncommittedTail: Seq[(String, Change)] = Nil,
                  serverId: Int = 1,
                  rowsPerEvent: Int = 100,
                  gtidFrom: Option[Long] = None,
                  compressTxns: Boolean = false): Array[Byte] = {
    val byName = tables.map(t => t.table -> t).toMap
    val w = new EventWriter(4L, serverId, checksum)
    w.out.write(Magic)

    // FORMAT_DESCRIPTION: ver=4, server version, create ts, header len,
    // one post-header len per known event type (index = type - 1), alg
    val nTypes = 0x29 // through TRANSACTION_PAYLOAD, like an 8.0 server
    val fde = ByteBuffer.allocate(2 + 50 + 4 + 1 + nTypes + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    fde.putShort(4)
    val sv = "5.7.44-graft-fixture".getBytes(UTF_8)
    fde.put(java.util.Arrays.copyOf(sv, 50))
    fde.putInt(1700000000)
    fde.put(HeaderLen.toByte)
    val phl = new Array[Byte](nTypes)
    phl(RotateEvent - 1) = 8
    phl(FormatDescriptionEvent - 1) = (2 + 50 + 4 + 1 + nTypes).toByte
    phl(XidEvent - 1) = 8
    phl(TableMapEvent - 1) = 8
    phl(WriteRowsV2 - 1) = 10
    phl(UpdateRowsV2 - 1) = 10
    phl(DeleteRowsV2 - 1) = 10
    phl(PartialUpdateRowsV2 - 1) = 10
    fde.put(phl)
    fde.put((if (checksum) 1 else 0).toByte)
    w.emit(FormatDescriptionEvent, fde.array(), fde = true)

    // PREVIOUS_GTIDS: one sid, one interval [1, gtidFrom) applied before;
    // nothing applied yet (from <= 1) is the EMPTY set — zero sids, the
    // shape a fresh server writes (never a degenerate [1, 1) interval)
    gtidFrom.foreach { from =>
      val b =
        if (from <= 1L) ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
          .putLong(0L)
        else ByteBuffer.allocate(8 + 16 + 8 + 16)
          .order(ByteOrder.LITTLE_ENDIAN)
          .putLong(1L).put(FixtureSid).putLong(1L)
          .putLong(1L).putLong(from) // interval end is EXCLUSIVE on the wire
      w.emit(PreviousGtidsEvent, b.array())
    }

    // TABLE_MAP placement follows real servers: each transaction
    // announces its tables immediately before its rows events (which is
    // what makes a mid-file COM_BINLOG_DUMP resume work — the resumed
    // stream starts at a transaction boundary and carries its own maps);
    // compressed transactions carry theirs INSIDE the payload instead
    def emitMaps(changes: Seq[(String, Change)], sink: EventWriter): Unit =
      changes.map(_._1).distinct.foreach { tn =>
        val t = byName.getOrElse(tn,
          throw new IllegalArgumentException(s"unmapped table $tn"))
        sink.emit(TableMapEvent,
          tableMapBody(t.db, t.table, t.cols, t.tableId, t.colNames))
      }

    // group CONSECUTIVE same-(table, op, image masks) runs into one
    // rows-event (log order kept; a rows-event addresses exactly one
    // table map and carries ONE columns-present bitmap per image side,
    // so MINIMAL images with different included-column sets need
    // separate events — like a real server's per-statement events)
    def masks(c: Change): (Seq[Boolean], Seq[Boolean]) = (
      Option(c.before).fold(Seq.empty[Boolean])(_.map(_ != Absent)),
      Option(c.after).fold(Seq.empty[Boolean])(_.map(_ != Absent)))
    def rowsEvents(changes: Seq[(String, Change)], sink: EventWriter): Unit = {
      var i = 0
      val cs = changes.toIndexedSeq
      while (i < cs.length) {
        var j = i
        while (j < cs.length && cs(j)._2.op == cs(i)._2.op &&
          cs(j)._1 == cs(i)._1 && masks(cs(j)._2) == masks(cs(i)._2) &&
          j - i < rowsPerEvent) j += 1
        val slice = cs.slice(i, j).map(_._2)
        val tdef = byName.getOrElse(cs(i)._1,
          throw new IllegalArgumentException(s"unmapped table ${cs(i)._1}"))
        val tpe = cs(i)._2.op match {
          case "I" => WriteRowsV2
          case "U" => UpdateRowsV2
          case "P" => PartialUpdateRowsV2
          case "D" => DeleteRowsV2
        }
        sink.emit(tpe, rowsBody(tpe, slice, tdef.cols, tdef.tableId))
        i = j
      }
    }
    // one transaction's events rendered CRC-less into a buffer (the
    // inner stream of a TRANSACTION_PAYLOAD), then zstd-compressed
    def compressedTxn(txn: Seq[(String, Change)]): Array[Byte] = {
      val iw = new EventWriter(0L, serverId, checksum = false)
      emitMaps(txn, iw)
      rowsEvents(txn, iw)
      val xid = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      xid.putLong(iw.pos)
      iw.emit(XidEvent, xid.array())
      val inner = iw.out.toByteArray
      val compressed = com.github.luben.zstd.Zstd.compress(inner)
      // fields: (type lenenc, length lenenc, value lenenc) …, end mark,
      // then the compressed payload bytes
      val body = new ByteArrayOutputStream()
      def lenencField(t: Int, v: Long): Unit = {
        val tmp = new ByteArrayOutputStream()
        lenencW(tmp, v.toInt)
        body.write(t); lenencW(body, tmp.size()); body.write(tmp.toByteArray)
      }
      lenencField(2, 0L)                     // compression type: zstd
      lenencField(3, inner.length.toLong)    // uncompressed size
      lenencField(1, compressed.length.toLong) // payload size
      body.write(0)                          // header end mark
      body.write(compressed)
      body.toByteArray
    }

    txns.zipWithIndex.foreach { case (txn, ti) =>
      gtidFrom.foreach { from =>
        // flags1, sid16, gno8, then the 5.7 logical-clock tail
        // (lt_type1, last_committed8, sequence_number8) the parser skips
        val b = ByteBuffer.allocate(1 + 16 + 8 + 1 + 8 + 8)
          .order(ByteOrder.LITTLE_ENDIAN)
        b.put(1.toByte).put(FixtureSid).putLong(from + ti)
        b.put(2.toByte).putLong(ti.toLong).putLong(ti.toLong + 1)
        w.emit(GtidEvent, b.array())
      }
      if (compressTxns) w.emit(TransactionPayloadEvent, compressedTxn(txn))
      else {
        emitMaps(txn, w)
        rowsEvents(txn, w)
        val xid = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        xid.putLong(w.pos) // any id; fixtures use the position
        w.emit(XidEvent, xid.array())
      }
    }
    if (uncommittedTail.nonEmpty) {
      // a torn transaction carries its own maps too, like a real one
      emitMaps(uncommittedTail, w)
      rowsEvents(uncommittedTail, w)
    }
    rotateTo.foreach { next =>
      val name = next.getBytes(UTF_8)
      val b = ByteBuffer.allocate(8 + name.length).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(4L).put(name)
      w.emit(RotateEvent, b.array())
    }
    w.out.toByteArray
  }

  /** Back-to-back events from stream position `start` (4 after a file's
    * magic, 0 inside a payload), each framed by [[BinlogFormat.frame]]
    * with its true end-log-pos and, when `checksum`, a CRC32 trailer. */
  private final class EventWriter(start: Long, serverId: Int,
                                  checksum: Boolean) {
    val out = new ByteArrayOutputStream()
    var pos: Long = start
    /** `fde`: the FORMAT_DESCRIPTION reserves its 4 trailer bytes even
      * with checksums off (alg byte + reserved tail, >= 5.6.1). */
    def emit(tpe: Int, body: Array[Byte], fde: Boolean = false): Unit = {
      val ev = frame(tpe, body, pos + _, crc = checksum,
        reserveTrailer = fde, serverId = serverId,
        timestamp = 1700000000) // fixed: fixtures are deterministic
      pos += ev.length
      out.write(ev)
    }
  }

  /** Length-encoded integer writer (net_store_length, fixture subset —
    * payload-size fields can exceed 64 KiB, so the 3-byte form is real). */
  private def lenencW(o: ByteArrayOutputStream, x: Int): Unit = {
    if (x < 0xfb) o.write(x)
    else if (x < 0x10000) {
      o.write(0xfc); o.write(x & 0xff); o.write((x >> 8) & 0xff)
    } else {
      require(x < 0x1000000, "fixture lenenc limited to 3 bytes")
      o.write(0xfd); o.write(x & 0xff); o.write((x >> 8) & 0xff)
      o.write((x >> 16) & 0xff)
    }
  }

  /** The wire TYPE byte a column is announced with (ENUM/SET hide behind
    * STRING, per the format). */
  private def wireType(c: ColumnDef): Int = c.tpe match {
    case TypeEnum | TypeSet => TypeString
    case t => t
  }

  private def tableMapBody(db: String, table: String,
      cols: IndexedSeq[ColumnDef], tableId: Long,
      colNames: IndexedSeq[String] = IndexedSeq.empty): Array[Byte] = {
    val dbB = db.getBytes(UTF_8); val tbB = table.getBytes(UTF_8)
    val metaBytes = cols.flatMap { c => c.tpe match {
      case TypeVarchar | TypeVarString =>
        Seq((c.meta & 0xff).toByte, ((c.meta >> 8) & 0xff).toByte)
      case TypeDouble => Seq(8.toByte)
      case TypeFloat  => Seq(4.toByte)
      case TypeNewDecimal =>
        Seq(((c.meta >> 8) & 0xff).toByte, (c.meta & 0xff).toByte) // p, s
      case TypeTimestamp2 | TypeDatetime2 | TypeTime2 =>
        Seq((c.meta & 0xff).toByte) // fsp
      case TypeBit => Seq((c.meta % 8).toByte, (c.meta / 8).toByte)
      case TypeBlob | TypeJson | TypeGeometry =>
        Seq((c.meta & 0xff).toByte) // length-prefix bytes
      case TypeEnum | TypeSet =>
        Seq(c.tpe.toByte, (c.meta & 0xff).toByte) // real type + pack length
      case TypeString =>
        require(c.meta < 256, "fixture CHAR limited to length < 256")
        Seq(TypeString.toByte, (c.meta & 0xff).toByte)
      case _ => Nil
    }}
    // optional metadata TLVs (8.0 binlog_row_metadata): SIGNEDNESS over
    // the numeric columns whenever any exists; ENUM/SET_STR_VALUE
    // whenever a column carries its label dictionary
    val opt = new ByteArrayOutputStream()
    def tlv(t: Int, v: Array[Byte]): Unit = {
      opt.write(t); lenencW(opt, v.length); opt.write(v)
    }
    val numeric = cols.filter(c => BinlogFormat.isNumeric(c.tpe))
    if (numeric.nonEmpty) {
      val bits = new Array[Byte]((numeric.size + 7) / 8)
      numeric.zipWithIndex.foreach { case (c, i) =>
        if (c.unsigned) bits(i / 8) = (bits(i / 8) | (0x80 >> (i % 8))).toByte
      }
      tlv(MetaSignedness, bits)
    }
    def strValues(target: Int, metaType: Int): Unit = {
      val withLabels = cols.filter(_.tpe == target)
      if (withLabels.nonEmpty && withLabels.exists(_.labels.nonEmpty)) {
        val v = new ByteArrayOutputStream()
        withLabels.foreach { c =>
          lenencW(v, c.labels.size)
          c.labels.foreach { l =>
            val lb = l.getBytes(UTF_8); lenencW(v, lb.length); v.write(lb)
          }
        }
        tlv(metaType, v.toByteArray)
      }
    }
    strValues(TypeEnum, MetaEnumStrValue)
    strValues(TypeSet, MetaSetStrValue)
    if (colNames.nonEmpty) {
      require(colNames.size == cols.size,
        s"colNames arity ${colNames.size} != ${cols.size}")
      val v = new ByteArrayOutputStream()
      colNames.foreach { nm =>
        val nb = nm.getBytes(UTF_8); lenencW(v, nb.length); v.write(nb)
      }
      tlv(MetaColumnName, v.toByteArray)
    }
    val optBytes = opt.toByteArray
    val n = cols.size
    val b = ByteBuffer.allocate(6 + 2 + 1 + dbB.length + 1 + 1 + tbB.length +
      1 + 1 + n + 1 + metaBytes.size + (n + 7) / 8 + optBytes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    putUint48(b, tableId)
    b.putShort(1) // flags
    b.put(dbB.length.toByte).put(dbB).put(0.toByte)
    b.put(tbB.length.toByte).put(tbB).put(0.toByte)
    b.put(n.toByte) // lenenc, n < 0xfb in fixtures
    cols.foreach(c => b.put(wireType(c).toByte))
    b.put(metaBytes.size.toByte)
    metaBytes.foreach(b.put)
    b.put(new Array[Byte]((n + 7) / 8)) // nullability bitmap (all 0)
    b.put(optBytes)
    b.array()
  }


  private def rowsBody(tpe: Int, changes: Seq[Change],
      cols: IndexedSeq[ColumnDef], tableId: Long): Array[Byte] = {
    val n = cols.size
    // per-image-side columns-present bitmaps: cleared bits are MINIMAL
    // row-image omissions ([[Absent]] placeholders); uniform across the
    // event's rows by the caller's run grouping
    def maskBits(img: IndexedSeq[Any]): Array[Byte] = {
      val bits = Array.fill[Byte]((n + 7) / 8)(0)
      (0 until n).foreach(i =>
        if (img == null || img(i) != Absent)
          bits(i / 8) = (bits(i / 8) | (1 << (i % 8))).toByte)
      bits
    }
    val head = changes.head
    val (present1, present2) = tpe match {
      case WriteRowsV2  => (maskBits(head.after), null)
      case DeleteRowsV2 => (maskBits(head.before), null)
      case _            => (maskBits(head.before), maskBits(head.after))
    }
    val images = new ByteArrayOutputStream()
    def writeImage(row: IndexedSeq[Any]): Unit = {
      require(row.size == n, s"row arity ${row.size} != $n")
      // the null bitmap covers only the PRESENT columns, in order
      val included = row.filter(_ != Absent)
      val nulls = Array.fill[Byte]((included.size + 7) / 8)(0)
      included.zipWithIndex.foreach { case (v, i) =>
        if (v == null) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      images.write(nulls)
      row.zipWithIndex.foreach { case (v, i) =>
        if (v != null && v != Absent) images.write(valueBytes(v, cols(i)))
      }
    }
    // PARTIAL_UPDATE after-image: value_options (bit 0 = PARTIAL_JSON),
    // one bit per JSON column of the table, then nulls + values where a
    // flagged column carries framed diffs instead of a full document
    def writePartialAfter(row: IndexedSeq[Any]): Unit = {
      require(row.size == n, s"row arity ${row.size} != $n")
      images.write(1) // value_options lenenc: PARTIAL_JSON on
      val jsonIdx = cols.indices.filter(i => cols(i).tpe == TypeJson)
      val bits = new Array[Byte]((jsonIdx.size + 7) / 8)
      jsonIdx.zipWithIndex.foreach { case (colIdx, jIdx) =>
        if (row(colIdx).isInstanceOf[Partial])
          bits(jIdx / 8) = (bits(jIdx / 8) | (1 << (jIdx % 8))).toByte
      }
      images.write(bits)
      val nulls = Array.fill[Byte]((n + 7) / 8)(0)
      row.zipWithIndex.foreach { case (v, i) =>
        if (v == null) nulls(i / 8) = (nulls(i / 8) | (1 << (i % 8))).toByte
      }
      images.write(nulls)
      row.zipWithIndex.foreach {
        case (Partial(diffs), i) =>
          val d = JsonBinary.encodeDiffs(diffs)
          images.write(Array.tabulate(cols(i).meta)(k =>
            ((d.length >> (8 * k)) & 0xff).toByte))
          images.write(d)
        case (v, i) if v != null => images.write(valueBytes(v, cols(i)))
        case _ => ()
      }
    }
    changes.foreach { c =>
      tpe match {
        case WriteRowsV2  => writeImage(c.after)
        case DeleteRowsV2 => writeImage(c.before)
        case UpdateRowsV2 => writeImage(c.before); writeImage(c.after)
        case PartialUpdateRowsV2 =>
          writeImage(c.before); writePartialAfter(c.after)
      }
    }
    val img = images.toByteArray
    val twoBitmaps = tpe == UpdateRowsV2 || tpe == PartialUpdateRowsV2
    val nBitmaps = if (twoBitmaps) 2 else 1
    val b = ByteBuffer.allocate(6 + 2 + 2 + 1 + nBitmaps * present1.length +
      img.length).order(ByteOrder.LITTLE_ENDIAN)
    putUint48(b, tableId)
    b.putShort(0) // flags
    b.putShort(2) // extra-data length (self-inclusive, no extra data)
    b.put(n.toByte) // lenenc column count
    b.put(present1)
    if (twoBitmaps) b.put(present2)
    b.put(img)
    b.array()
  }

  private def valueBytes(v: Any, c: ColumnDef): Array[Byte] = {
    def le(n: Int, x: Long) = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      n match {
        case 1 => b.put(x.toByte); case 2 => b.putShort(x.toShort)
        case 4 => b.putInt(x.toInt); case 8 => b.putLong(x)
      }
      b.array()
    }
    def be(n: Int, x: Long): Array[Byte] =
      Array.tabulate(n)(i => ((x >> (8 * (n - 1 - i))) & 0xff).toByte)
    def frac(us: Long, fsp: Int): Array[Byte] = {
      val nB = (fsp + 1) / 2
      if (nB == 0) Array.empty
      else be(nB, us / math.pow(10, 6 - 2 * nB).toLong)
    }
    def lenPrefixed(s: Array[Byte]): Array[Byte] = {
      require(s.length <= c.meta, s"string overflow: ${s.length} > ${c.meta}")
      if (c.meta < 256) Array(s.length.toByte) ++ s
      else Array((s.length & 0xff).toByte, ((s.length >> 8) & 0xff).toByte) ++ s
    }
    c.tpe match {
      case TypeTiny     => le(1, v.asInstanceOf[Number].longValue())
      case TypeShort    => le(2, v.asInstanceOf[Number].longValue())
      case TypeInt24    =>
        val x = v.asInstanceOf[Number].longValue()
        Array((x & 0xff).toByte, ((x >> 8) & 0xff).toByte, ((x >> 16) & 0xff).toByte)
      case TypeLong     => le(4, v.asInstanceOf[Number].longValue())
      case TypeLongLong => v match {
        case bd: java.math.BigDecimal => le(8, bd.toBigInteger.longValue()) // u64: wraps
        case n: Number                => le(8, n.longValue())
      }
      case TypeFloat    =>
        val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        b.putFloat(v.asInstanceOf[Number].floatValue()); b.array()
      case TypeDouble   =>
        val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        b.putDouble(v.asInstanceOf[Number].doubleValue()); b.array()
      case TypeNewDecimal =>
        decimalBytes(v.asInstanceOf[java.math.BigDecimal], c.meta >> 8, c.meta & 0xff)
      case TypeDate =>
        val d = v.asInstanceOf[java.time.LocalDate]
        val x = (d.getYear << 9) | (d.getMonthValue << 5) | d.getDayOfMonth
        Array((x & 0xff).toByte, ((x >> 8) & 0xff).toByte, ((x >> 16) & 0xff).toByte)
      case TypeYear =>
        val y = v.asInstanceOf[Number].intValue()
        Array((if (y == 0) 0 else y - 1900).toByte)
      case TypeDatetime2 =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        val packed = 0x8000000000L |
          ((dt.getYear * 13L + dt.getMonthValue) << 22) |
          (dt.getDayOfMonth.toLong << 17) | (dt.getHour.toLong << 12) |
          (dt.getMinute.toLong << 6) | dt.getSecond.toLong
        be(5, packed) ++ frac(dt.getNano / 1000L, c.meta)
      case TypeTimestamp2 =>
        val t = v.asInstanceOf[java.time.Instant]
        be(4, t.getEpochSecond) ++ frac(t.getNano / 1000L, c.meta)
      case TypeTime2 =>
        // accepts the decoder's own rendering: [-]HH:MM:SS[.ffffff];
        // my_time_packed_to_binary layout (signed packed value, frac
        // stored signed for fsp 1-4, one int6 for fsp 5-6)
        val s = v.asInstanceOf[String]
        val neg = s.startsWith("-")
        val body = if (neg) s.tail else s
        val (hms, us) = body.split("\\.") match {
          case Array(x)    => (x, 0L)
          case Array(x, f) => (x, (f + "0" * (6 - f.length)).toLong)
        }
        val Array(h, m, sec) = hms.split(":").map(_.toLong)
        val mag = (((h << 12) | (m << 6) | sec) << 24) + us
        val nr = if (neg) -mag else mag
        c.meta match {
          case fsp if fsp >= 5 => be(6, 0x800000000000L + nr)
          case 0               => be(3, 0x800000L + (nr >> 24))
          case 1 | 2 =>
            be(3, 0x800000L + (nr >> 24)) ++
              Array(((nr % (1 << 24)) / 10000).toByte)
          case _ =>
            be(3, 0x800000L + (nr >> 24)) ++
              be(2, ((nr % (1 << 24)) / 100) & 0xffffL)
        }
      case TypeTimestamp =>
        le(4, v.asInstanceOf[java.time.Instant].getEpochSecond)
      case TypeTime =>
        // [-]HH:MM:SS → 3-byte LE signed H*10000 + M*100 + S
        val s = v.asInstanceOf[String]
        val neg = s.startsWith("-")
        val Array(h, m, sec) = (if (neg) s.tail else s).split(":").map(_.toLong)
        val packed = (if (neg) -1L else 1L) * (h * 10000 + m * 100 + sec)
        Array((packed & 0xff).toByte, ((packed >> 8) & 0xff).toByte,
          ((packed >> 16) & 0xff).toByte)
      case TypeDatetime =>
        val dt = v.asInstanceOf[java.time.LocalDateTime]
        le(8, ((dt.getYear * 10000L + dt.getMonthValue * 100L +
          dt.getDayOfMonth) * 1000000L) + dt.getHour * 10000L +
          dt.getMinute * 100L + dt.getSecond)
      case TypeGeometry =>
        val data = v match {
          case a: Array[Byte] => a
          case s: String      => s.getBytes(UTF_8)
        }
        Array.tabulate(c.meta)(i => ((data.length >> (8 * i)) & 0xff).toByte) ++ data
      case TypeBit =>
        be((c.meta + 7) / 8, v.asInstanceOf[Number].longValue())
      case TypeEnum =>
        val idx = v match {
          case s: String =>
            val i = c.labels.indexOf(s) + 1
            require(i >= 1, s"enum label $v not in ${c.labels}")
            i
          case n: Number => n.intValue() // 0 = the invalid-value sentinel
        }
        require(idx >= 0, s"negative enum index $idx")
        if (c.meta == 1) Array(idx.toByte)
        else Array((idx & 0xff).toByte, ((idx >> 8) & 0xff).toByte)
      case TypeSet =>
        val mask = v match {
          case s: String =>
            s.split(",").filter(_.nonEmpty).foldLeft(0L) { (m, l) =>
              val i = c.labels.indexOf(l)
              require(i >= 0, s"set label $l not in ${c.labels}"); m | (1L << i)
            }
          case n: Number => n.longValue()
        }
        Array.tabulate(c.meta)(i => ((mask >> (8 * i)) & 0xff).toByte)
      case TypeBlob =>
        val data = v match {
          case a: Array[Byte] => a
          case s: String      => s.getBytes(UTF_8)
        }
        Array.tabulate(c.meta)(i => ((data.length >> (8 * i)) & 0xff).toByte) ++ data
      case TypeJson =>
        val data = JsonBinary.encode(v.asInstanceOf[JsonBinary.J])
        Array.tabulate(c.meta)(i => ((data.length >> (8 * i)) & 0xff).toByte) ++ data
      case TypeVarchar | TypeVarString | TypeString =>
        lenPrefixed(v.asInstanceOf[String].getBytes(UTF_8))
      case t => throw new IllegalArgumentException(s"unsupported type $t")
    }
  }

  /** MySQL decimal2bin: see [[BinlogFormat.decodeDecimal]]'s layout doc. */
  private def decimalBytes(v: java.math.BigDecimal, precision: Int,
                           scale: Int): Array[Byte] = {
    val neg = v.signum() < 0
    val abs = v.abs().setScale(scale) // throws on rounding: fixtures must be exact
    val plain = abs.toPlainString
    val (ip, fp) = plain.indexOf('.') match {
      case -1 => (plain, "")
      case i  => (plain.substring(0, i), plain.substring(i + 1))
    }
    val intg = precision - scale
    // a bare "0" integer part is vacuous — DECIMAL(s, s) has intg == 0
    // and stores no integer bytes at all (the padding re-adds zeros
    // whenever intg > 0, so the emitted bytes are unchanged there)
    val ipEff = if (ip == "0") "" else ip
    require(ipEff.length <= intg && fp.length <= scale,
      s"$v does not fit DECIMAL($precision,$scale)")
    val ipad = "0" * (intg - ipEff.length) + ipEff
    val fpad = fp + "0" * (scale - fp.length)
    def bytesFor(d: Int) = (4 * d + 8) / 9 // == myisampack dig2bytes
    val out = new ByteArrayOutputStream()
    def group(digits: String): Unit = {
      val nB = bytesFor(digits.length)
      val x = if (digits.isEmpty) 0L else digits.toLong
      (0 until nB).foreach(i =>
        out.write(((x >> (8 * (nB - 1 - i))) & 0xff).toInt))
    }
    if (intg % 9 > 0) group(ipad.take(intg % 9))
    ipad.drop(intg % 9).grouped(9).foreach(group)
    fpad.dropRight(scale % 9).grouped(9).foreach(group)
    if (scale % 9 > 0) group(fpad.takeRight(scale % 9))
    val raw = out.toByteArray
    raw(0) = (raw(0) | 0x80).toByte // sign bit: non-negative
    if (neg) raw.indices.foreach(i => raw(i) = (~raw(i)).toByte)
    raw
  }

  private def putUint48(b: ByteBuffer, x: Long): Unit =
    (0 until 6).foreach(i => b.put(((x >> (8 * i)) & 0xff).toByte))
}
