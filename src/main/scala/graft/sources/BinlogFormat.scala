package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

/** Parser for the MySQL binary-log (binlog) v4 event format — the wire
  * bytes the reference consumes through `pymysqlreplication`'s
  * `BinLogStreamReader` (`/root/reference/src/cdc_replicator.py:8-9,99-145`:
  * fake-replica connection, `WriteRowsEvent`/`UpdateRowsEvent`/
  * `DeleteRowsEvent` decode, `(file, pos)` offsets). The replication
  * stream carries exactly the events of the binlog FILE format (each
  * stream packet is one file-format event behind a 1-byte OK header), so
  * parsing the file format IS the event-decode half of the reference's
  * binlog client; the socket/handshake half is [[BinlogSocketClient]] +
  * [[MysqlProtocol]], feeding this decoder one event per packet (t38).
  *
  * Layout implemented from the PUBLIC format description (MySQL
  * Internals manual, "Binary log versions" / "Row Based Replication"):
  *
  *   - file  = 4-byte magic `0xfe 'b' 'i' 'n'`, then events back-to-back;
  *   - event = common header v4 (19 bytes: ts4, type1, serverId4,
  *     eventSize4, logPos4, flags2 — all little-endian) + post-header +
  *     body [+ CRC32 when the format descriptor enables checksums];
  *   - FORMAT_DESCRIPTION (15): binlogVersion2 (=4), serverVersion50,
  *     createTs4, commonHeaderLen1 (=19), postHeaderLen byte per event
  *     type, checksumAlg1 [+ crc4 when alg=CRC32]. The alg byte governs
  *     every later event in the file (MySQL ≥ 5.6.1 always writes it);
  *   - TABLE_MAP (19): tableId6, flags2; dbLen1, db, NUL, tblLen1, tbl,
  *     NUL, colCount(lenenc), colTypes, metaLen(lenenc), per-type
  *     metadata, nullability bitmap;
  *   - WRITE/UPDATE/DELETE_ROWS v2 (30/31/32): tableId6, flags2,
  *     extraLen2 (self-inclusive); colCount(lenenc), columns-present
  *     bitmap (×2 for UPDATE), then row images to the end: per image a
  *     null bitmap over PRESENT columns, then one value per present
  *     non-null column. UPDATE rows come as (before, after) pairs;
  *   - XID (16): xid8 — the transaction commit marker;
  *   - GTID (33): flags1, sid16, gno8 (the 5.7+ logical-clock tail is
  *     skipped) — stamped onto every row change of the transaction it
  *     opens, so a consumer can track applied GTIDs and resume on ANY
  *     replica (a (file, pos) offset is server-specific);
  *   - PREVIOUS_GTIDS (35): the GTID set already applied before this
  *     file, decoded to the canonical `uuid:start-end` display form;
  *   - ROTATE (4): nextPos8, next file name to the end — the inter-file
  *     ordering chain;
  *   - any other event type is skipped via its header's eventSize (real
  *     binlogs interleave QUERY/STOP/ROWS_QUERY events a row-image
  *     consumer does not need).
  *
  * Column types supported — the full surface behind the reference's
  * 33-entry MySQL→ClickHouse map (`src/schema_converter.py:3-37`), i.e.
  * everything its `pymysqlreplication` client decodes: TINY/SHORT/
  * INT24/LONG/LONGLONG, FLOAT/DOUBLE, NEWDECIMAL (packed 9-digit-group
  * BCD), DATE/NEWDATE, YEAR, DATETIME2/TIMESTAMP2/TIME2 (fsp-aware,
  * the ≥5.6.4 small-time formats), the pre-5.6.4 LEGACY temporals
  * TIMESTAMP (4-byte LE epoch seconds) / TIME (3-byte LE signed
  * H*10000+M*100+S) / DATETIME (8-byte LE packed YYYYMMDDHHMMSS — the
  * shapes an old server's logs still carry), BIT, ENUM/SET (via the
  * STRING metadata packing), BLOB/TEXT (shared wire code 252),
  * GEOMETRY (blob-framed WKB bytes; the reference maps it through its
  * unknown-type → String fallback, `src/schema_converter.py:49`),
  * CHAR (STRING), VARCHAR/VAR_STRING. VARCHAR/CHAR length prefixes are 1 byte when the
  * column's max byte length < 256, else 2 (the documented metadata
  * rule). Integers decode signed unless the TABLE_MAP carries the
  * 8.0 SIGNEDNESS optional metadata (binlog_row_metadata), in which
  * case unsigned columns decode to their full positive range — the
  * in-band form of the DDL lookup the reference does over its client
  * connection; without the TLV the signed read matches the caveat the
  * reference documents for unsigned/`bit`. ENUM/SET likewise surface
  * their label strings when ENUM/SET_STR_VALUE metadata is present,
  * else the raw index/bitmask.
  *
  * Transactional semantics: row events buffer as PENDING and only an XID
  * commits them — a file that ends mid-transaction (server crash) yields
  * its committed prefix plus `droppedUncommitted > 0`, never a torn tail.
  * This is stronger than the reference, which applies row events as they
  * stream and can replay a torn tail on reconnect (its at-least-once
  * contract absorbs that; ours never surfaces uncommitted rows at all).
  *
  * The event frame — the 19-byte header plus the CRC32 trailer the FDE
  * declares — has ONE owner, this object: [[header]] reads the header,
  * a [[Framing]] applies the stream rules (bounds, FDE first, checksum
  * alg 0 or 1, room for the CRC), [[frames]] walks a file under them
  * and [[frame]] writes one event. The decoder, the scans, the socket
  * client, the fixture encoder and the fixture server all go through
  * these, so every reader rejects the same malformed input.
  *
  * Integrity: when the FDE declares CRC32 (alg=1), every event's trailing
  * 4 bytes are verified against `java.util.zip.CRC32` over the rest of
  * the event; a mismatch aborts the parse (corrupt log ≠ skippable row).
  *
  * Scale: one binlog file is a sequential log — parsing it is inherently
  * single-pass (each event's size lives in its own header), but files are
  * independent, so a fleet of servers × rotated files parallelizes
  * per-file; see [[BinlogSource]] for the distributed bridge.
  */
object BinlogFormat {

  // event type codes (public binlog v4 numbering)
  val RotateEvent = 0x04
  val FormatDescriptionEvent = 0x0f
  val XidEvent = 0x10
  val TableMapEvent = 0x13
  val WriteRowsV2 = 0x1e
  val UpdateRowsV2 = 0x1f
  val DeleteRowsV2 = 0x20
  val HeartbeatEvent = 0x1b // keepalive at log end; body = current file name
  val GtidEvent = 0x21
  val PreviousGtidsEvent = 0x23
  val PartialUpdateRowsV2 = 0x27 // 8.0 binlog_row_value_options=PARTIAL_JSON
  val TransactionPayloadEvent = 0x28 // 8.0.20+ compressed transactions

  // column type codes (MYSQL_TYPE_*)
  val TypeTiny = 1
  val TypeShort = 2
  val TypeLong = 3
  val TypeFloat = 4
  val TypeDouble = 5
  val TypeTimestamp = 7 // pre-5.6.4 legacy: 4-byte LE epoch seconds
  val TypeLongLong = 8
  val TypeInt24 = 9
  val TypeDate = 10
  val TypeTime = 11     // pre-5.6.4 legacy: 3-byte LE H*10000+M*100+S
  val TypeDatetime = 12 // pre-5.6.4 legacy: 8-byte LE YYYYMMDDHHMMSS
  val TypeYear = 13
  val TypeNewDate = 14 // DATE's storage alias — same 3-byte wire value
  val TypeVarchar = 15
  val TypeBit = 16
  val TypeTimestamp2 = 17
  val TypeDatetime2 = 18
  val TypeTime2 = 19
  val TypeJson = 245 // blob-framed binary JSON document (WL#8132)
  val TypeNewDecimal = 246
  val TypeEnum = 247 // never in TABLE_MAP directly: arrives packed in STRING meta
  val TypeSet = 248  //   "
  val TypeBlob = 252 // TINY/MEDIUM/LONG BLOB and all TEXTs share this wire code
  val TypeVarString = 253
  val TypeString = 254 // CHAR; meta byte0 may carry a REAL type (ENUM/SET)
  val TypeGeometry = 255 // blob-framed WKB; the reference's unknown→String fallback

  // TABLE_MAP optional-metadata TLV type codes (WL#4618, binlog_row_metadata)
  val MetaSignedness = 1
  val MetaColumnName = 4
  val MetaSetStrValue = 5
  val MetaEnumStrValue = 6

  val Magic: Array[Byte] = Array(0xfe.toByte, 'b'.toByte, 'i'.toByte, 'n'.toByte)
  val HeaderLen = 19

  /** One column of a TABLE_MAP: type code + decoded metadata, plus what
    * the optional-metadata TLVs contribute (MySQL 8.0's
    * binlog_row_metadata; absent on older servers).
    *
    * `meta` per type: VARCHAR/VAR_STRING/STRING → max byte length;
    * FLOAT/DOUBLE → pack length; NEWDECIMAL → (precision << 8) | scale;
    * TIMESTAMP2/DATETIME2/TIME2 → fractional-seconds precision (fsp);
    * BIT → total bit count; BLOB → number of length-prefix bytes;
    * ENUM/SET → value pack length; integer/DATE/YEAR → 0.
    *
    * `unsigned` comes from the SIGNEDNESS TLV (the binlog itself does
    * not record signedness in the column type — without the TLV,
    * integers decode signed, the reference's own documented caveat).
    * `labels` comes from ENUM_STR_VALUE / SET_STR_VALUE: the dictionary
    * that turns a stored ENUM index / SET bitmask into its strings. */
  final case class ColumnDef(tpe: Int, meta: Int,
                             unsigned: Boolean = false,
                             labels: IndexedSeq[String] = IndexedSeq.empty)

  /** `colNames` is non-empty only when the file carries the COLUMN_NAME
    * optional metadata (binlog_row_metadata=FULL). */
  final case class TableMap(tableId: Long, db: String, table: String,
                            cols: IndexedSeq[ColumnDef],
                            colNames: IndexedSeq[String] = IndexedSeq.empty)

  /** A committed row change. `pos` = the event's end-log-pos (the offset
    * the reference persists as its resume position,
    * `/root/reference/src/cdc_replicator.py:24-35`) — strictly monotone
    * within a file, so (file-ordinal, pos) totally orders a rotated
    * stream. Update rows carry both images; inserts only `after`;
    * deletes only `before` (the documented row-image rules).
    *
    * `present` = the columns-present bitmap of the SURFACED image (the
    * after image for I/U, the before image for D): under
    * binlog_row_image=MINIMAL an absent column decodes as null in the
    * image, and only this bitmap distinguishes "not included" from an
    * explicit SQL NULL — the distinction the coalescing apply needs.
    * Empty ⇔ every column present (the FULL default). */
  final case class RowChange(db: String, table: String, op: String,
                             before: Option[IndexedSeq[Any]],
                             after: Option[IndexedSeq[Any]],
                             pos: Long,
                             gtid: Option[String] = None,
                             present: IndexedSeq[Boolean] = IndexedSeq.empty)

  /** Parse result for one file: committed changes in log order, the
    * ROTATE target (next file in the chain) when present, how many row
    * changes sat in a never-committed trailing transaction, and the
    * PREVIOUS_GTIDS set (the GTIDs already applied before this file —
    * modern MySQL's resume token; a consumer that tracks the gtids it
    * applied can resume on any replica, where a (file, pos) offset is
    * server-specific). */
  final case class ParsedBinlog(changes: Vector[RowChange],
                                nextFile: Option[String],
                                droppedUncommitted: Int,
                                previousGtids: Option[String] = None)

  /** One event's place in a stream and its v4 common-header fields:
    * `off` = where it starts, `size` = its total length (header + body +
    * trailer), `logPos` = its end-log-pos. `trailer` = the bytes after
    * the body (4 on every event when the FDE declares CRC32, and always
    * 4 on the FDE itself); `crc` = whether that trailer holds a CRC32 to
    * verify. [[header]] leaves both at their defaults; a [[Framing]]
    * fills them in. */
  final case class Frame(off: Int, tpe: Int, size: Int, logPos: Long,
                         trailer: Int = 0, crc: Boolean = false) {
    def end: Int = off + size
  }

  /** The common header at `bytes(off)`, bounds-checked against the
    * `available` bytes (`bytes.length - off` for a file, the packet
    * length for a socket) — the one place the header's fields are read. */
  private[sources] def header(bytes: Array[Byte], off: Int,
                              available: Int): Frame = {
    require(available >= HeaderLen, s"truncated event header at $off")
    val b = buf(bytes, off, HeaderLen)
    b.getInt() // timestamp
    val tpe = b.get() & 0xff
    b.getInt() // server id
    val size = b.getInt()
    val logPos = b.getInt().toLong & 0xffffffffL
    // overflow-safe form: size can be any corrupt Int, so compare
    // against the REMAINING length, never `off + size`
    require(size >= HeaderLen && size <= available,
      s"event at $off overruns file (size=$size)")
    Frame(off, tpe, size, logPos)
  }

  /** The frame rules of one event stream: it opens with a
    * FORMAT_DESCRIPTION whose checksum algorithm (0 = none, 1 = CRC32)
    * sets every later event's trailer, and every event has room for
    * that trailer. A TRANSACTION_PAYLOAD's inner stream ([[Framing]]
    * built with `inPayload`) has no FDE and no trailers. Every reader of
    * binlog bytes — [[parse]]'s decoder, the socket decoder, the scans
    * and the fixture server — frames through one of these, so all of
    * them reject the same malformed input. */
  final class Framing private[sources] (inPayload: Boolean) {
    def this() = this(inPayload = false)

    // -1 until the FDE arrives; a payload's inner stream has none
    private var alg = if (inPayload) 0 else -1

    /** Check and frame the ONE event at `bytes(off)`. */
    def next(bytes: Array[Byte], off: Int, available: Int): Frame = {
      val h = header(bytes, off, available)
      if (h.tpe == FormatDescriptionEvent) {
        require(!inPayload, s"FORMAT_DESCRIPTION inside a payload at $off")
        // The FDE always reserves its trailing 5 bytes for alg + checksum
        // (MySQL >= 5.6.1 layout; its own reader fetches the alg byte at
        // eventSize-5 unconditionally, log_event.cc get_checksum_alg):
        // header + fixed part (2+50+4+1) + alg + crc = the v4 minimum
        require(h.size >= HeaderLen + 62, s"FDE too short: ${h.size}")
        val a = bytes(off + h.size - 5) & 0xff
        require(a == 0 || a == 1, s"unsupported checksum alg $a")
        alg = a
        h.copy(trailer = 4, crc = a == 1)
      } else {
        require(alg >= 0,
          s"first event must be FORMAT_DESCRIPTION, got type ${h.tpe}")
        val t = if (alg == 1) 4 else 0
        require(h.size >= HeaderLen + t,
          s"event at $off too short for its checksum (size=${h.size})")
        h.copy(trailer = t, crc = alg == 1)
      }
    }

    /** The frames of the back-to-back events in `bytes[from, until)`. */
    def walk(bytes: Array[Byte], from: Int, until: Int): Iterator[Frame] =
      Iterator.unfold(from) { off =>
        if (off >= until) None
        else { val f = next(bytes, off, until - off); Some((f, f.end)) }
      }
  }

  /** Every event of a binlog FILE (magic, then back-to-back events),
    * framed under the rules [[parse]] applies. */
  def frames(bytes: Array[Byte]): Iterator[Frame] = {
    require(bytes.length >= 4 && Magic.indices.forall(i => bytes(i) == Magic(i)),
      "not a binlog: bad magic")
    new Framing().walk(bytes, 4, bytes.length)
  }

  /** A frame's body: header and trailer excluded. */
  private[sources] def body(bytes: Array[Byte], f: Frame): ByteBuffer =
    buf(bytes, f.off + HeaderLen, f.size - HeaderLen - f.trailer)

  /** Write one event: the common header, `body`, then — when `crc` or
    * `reserveTrailer` — a 4-byte trailer holding the CRC32 of everything
    * before it (zeros when only reserved: the FDE's slot with
    * checksums off). `logPos` maps the event's size to the end-log-pos
    * field. The one writer of event headers. */
  private[sources] def frame(tpe: Int, body: Array[Byte],
                             logPos: Int => Long, crc: Boolean,
                             reserveTrailer: Boolean = false,
                             serverId: Int = 0,
                             timestamp: Int = 0): Array[Byte] = {
    val size = HeaderLen + body.length + (if (crc || reserveTrailer) 4 else 0)
    val ev = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    ev.putInt(timestamp).put(tpe.toByte).putInt(serverId).putInt(size)
      .putInt(logPos(size).toInt).putShort(0.toShort).put(body)
    if (crc) {
      val c = new CRC32(); c.update(ev.array(), 0, size - 4)
      ev.putInt(c.getValue.toInt)
    }
    ev.array()
  }

  /** A GTID body's `uuid:gno`: flags1, sid16, gno8 — the 5.7+
    * logical-clock tail is version-dependent and skipped. */
  private[sources] def gtidOf(b: ByteBuffer): String = {
    require(b.remaining() >= 1 + 16 + 8, "GTID body too short")
    b.get()
    val sid = new Array[Byte](16); b.get(sid)
    s"${uuidStr(sid)}:${b.getLong()}"
  }

  /** A ROTATE body's next file name (after nextPos8, always 4). */
  private def rotateTarget(b: ByteBuffer): String = {
    require(b.remaining() >= 8, "rotate body too short")
    b.getLong()
    str(b, b.remaining())
  }

  import CdcTransformOps.{InsertOp, UpdateOp, DeleteOp}

  /** Incremental event decoder — the stateful core shared by the
    * whole-file [[parse]] and the replication-SOCKET consumer
    * ([[BinlogSocketClient]]), where events arrive one per stream packet
    * instead of back-to-back in a file. Holds exactly the cross-event
    * state the format requires: the stream's [[Framing]] (the FDE's
    * checksum algorithm), the per-tableId TABLE_MAP registry, the
    * pending (uncommitted) transaction, the current GTID stamp, and the
    * trailing ROTATE/PREVIOUS_GTIDS markers.
    *
    * Contract: [[onEvent]] decodes ONE complete event (header + body
    * [+ CRC]) and returns its frame; committed row changes accumulate
    * until [[drainCommitted]] (a socket consumer drains at each commit
    * boundary, a file consumer once at the end). Reconnects get a FRESH
    * decoder ([[BinlogSocketClient]]'s loop): the torn pending
    * transaction dies with the old one, the new dump re-sends the FDE
    * and each transaction its TABLE_MAPs, and a resume from the
    * last-committed offset replays the interrupted transaction in
    * full — at-least-once on the wire, exactly-once at transaction
    * granularity. */
  final class EventStreamDecoder {
    private val framing = new Framing
    private val tableMaps = scala.collection.mutable.Map[Long, TableMap]()
    private var committed = Vector.newBuilder[RowChange]
    private var pending = Vector.empty[RowChange]
    private var currentGtid: Option[String] = None
    private var _nextFile: Option[String] = None
    private var _previousGtids: Option[String] = None

    /** Target of the last ROTATE seen (the next file in the chain). */
    def nextFile: Option[String] = _nextFile
    /** The last PREVIOUS_GTIDS set seen (canonical display form). */
    def previousGtids: Option[String] = _previousGtids
    /** Rows sitting in a transaction whose XID has not arrived. */
    def pendingCount: Int = pending.size

    /** Committed changes since the last drain, in commit order. */
    def drainCommitted(): Vector[RowChange] = {
      val r = committed.result()
      committed = Vector.newBuilder
      r
    }

    /** One event's semantic action — shared by the top-level stream and
      * the decompressed inner stream of a TRANSACTION_PAYLOAD (whose
      * events carry NO checksums and may not nest further payloads). */
    private def dispatch(tpe: Int, body: ByteBuffer, logPos: Long,
                         inPayload: Boolean): Unit = tpe match {
      case TableMapEvent =>
        val tm = parseTableMap(body)
        tableMaps(tm.tableId) = tm

      case WriteRowsV2 | UpdateRowsV2 | DeleteRowsV2 | PartialUpdateRowsV2 =>
        pending ++= parseRowsEvent(body, tpe, logPos, tableMaps)
          .map(_.copy(gtid = currentGtid))

      case XidEvent =>
        committed ++= pending
        pending = Vector.empty
        currentGtid = None

      case GtidEvent =>
        currentGtid = Some(gtidOf(body))

      case PreviousGtidsEvent =>
        _previousGtids = Some(parseGtidSet(body))

      case RotateEvent =>
        _nextFile = Some(rotateTarget(body))

      case TransactionPayloadEvent =>
        // 8.0 binlog_transaction_compression: the transaction's events
        // travel zstd-compressed inside ONE payload event
        require(!inPayload, "nested TRANSACTION_PAYLOAD — malformed")
        innerEvents(body).foreach { case (f, ibody) =>
          dispatch(f.tpe, ibody, f.logPos, inPayload = true)
        }

      case _ => // QUERY/STOP/… — size-skipped, row consumers don't need them
    }

    /** Decode the ONE event starting at `bytes(off)`; `available` bounds
      * the read (`bytes.length - off` for files, the packet length for a
      * socket). Returns the event's frame, so a caller can advance and
      * act on its type and end-log-pos without re-reading the header. */
    def onEvent(bytes: Array[Byte], off: Int, available: Int): Frame = {
      val f = framing.next(bytes, off, available)
      decode(bytes, f)
      f
    }

    /** Decode one event already framed by a file walk ([[frames]]). */
    private[BinlogFormat] def decode(bytes: Array[Byte], f: Frame): Unit = {
      if (f.crc) {
        val crc = new CRC32()
        crc.update(bytes, f.off, f.size - 4)
        val stored = buf(bytes, f.end - 4, 4).getInt().toLong & 0xffffffffL
        require(crc.getValue == stored,
          f"CRC32 mismatch on event type ${f.tpe} at offset ${f.off}: " +
            f"computed ${crc.getValue}%08x, stored $stored%08x")
      }
      val b = body(bytes, f)
      if (f.tpe == FormatDescriptionEvent) {
        val ver = b.getShort().toInt
        require(ver == 4, s"unsupported binlog version $ver")
        skip(b, 50 + 4) // server version, create ts
        val hdrLen = b.get() & 0xff
        require(hdrLen == HeaderLen, s"unsupported common header len $hdrLen")
        // remaining body = postHeaderLen array; the alg byte was framed
      } else dispatch(f.tpe, b, f.logPos, inPayload = false)
    }
  }

  def parse(bytes: Array[Byte]): ParsedBinlog = {
    val dec = new EventStreamDecoder
    frames(bytes).foreach(dec.decode(bytes, _))
    ParsedBinlog(dec.drainCommitted(), dec.nextFile, dec.pendingCount,
      dec.previousGtids)
  }

  /** Header-only walk returning the trailing ROTATE target — the chain
    * link at O(events) header reads, no row decode, no CRC pass (the
    * full [[parse]] is the integrity authority; this exists so chain
    * validation doesn't decode every row image a second time). Framed
    * like [[parse]], so it rejects the same malformed files. */
  def scanRotate(bytes: Array[Byte]): Option[String] =
    frames(bytes).foldLeft(Option.empty[String]) { (next, f) =>
      if (f.tpe == RotateEvent) Some(rotateTarget(body(bytes, f))) else next
    }

  // TRANSACTION_PAYLOAD field type codes (libbinlogevents
  // Transaction_payload_event, binlog_transaction_compression)
  private val PayloadHeaderEndMark = 0
  private val PayloadSizeField = 1
  private val PayloadCompressionField = 2
  private val PayloadUncompressedSizeField = 3
  private val CompressionZstd = 0
  private val CompressionNone = 255
  private val MaxUncompressed = 1L << 28 // 256 MiB zip-bomb bound

  /** A TRANSACTION_PAYLOAD body's inner events, each with its body:
    * the payload decompressed, then walked CRC-less ([[Framing]] with
    * `inPayload`) — shared by the decoder and the schema-discovery scan
    * so the bounds contract lives once. */
  private def innerEvents(payloadBody: ByteBuffer): Iterator[(Frame, ByteBuffer)] = {
    val inner = payloadEvents(payloadBody)
    new Framing(inPayload = true).walk(inner, 0, inner.length)
      .map(f => (f, body(inner, f)))
  }

  /** TRANSACTION_PAYLOAD body → the inner event stream (decompressed).
    * Field wire form: (type lenenc, length lenenc, value) repeated until
    * the HEADER_END_MARK type, then the raw payload to the end; the
    * known fields' values are themselves lenenc integers. Compression 0
    * = zstd (the server default when the feature is on), 255 = none. */
  private def payloadEvents(b: ByteBuffer): Array[Byte] = {
    var compression = CompressionNone
    var uncompressedSize = -1L
    var payload: Array[Byte] = null
    while (payload == null) {
      require(b.hasRemaining, "TRANSACTION_PAYLOAD without end mark")
      lenenc(b) match {
        case PayloadHeaderEndMark =>
          payload = new Array[Byte](b.remaining()); b.get(payload)
        case t =>
          val len = lenenc(b).toInt
          require(len >= 0 && len <= b.remaining(),
            s"payload field $t overruns event (len=$len)")
          val end = b.position() + len
          t match {
            case PayloadCompressionField => compression = lenenc(b).toInt
            case PayloadUncompressedSizeField => uncompressedSize = lenenc(b)
            case PayloadSizeField => lenenc(b) // informational
            case _ => // unknown field: skipped by length
          }
          b.position(end)
      }
    }
    compression match {
      case CompressionNone => payload
      case CompressionZstd =>
        require(uncompressedSize >= 0 && uncompressedSize <= MaxUncompressed,
          s"unreasonable uncompressed size $uncompressedSize")
        val out = com.github.luben.zstd.Zstd.decompress(
          payload, uncompressedSize.toInt)
        require(out.length == uncompressedSize,
          s"zstd decompressed ${out.length} != declared $uncompressedSize")
        out
      case c => throw new IllegalStateException(
        s"unsupported payload compression type $c")
    }
  }

  /** TABLE_MAP-only walk: the table definitions a file announces, by
    * (db, table) — last definition wins, like the parser's per-tableId
    * map. Skips row images and CRC verification (the full [[parse]] is
    * the integrity authority) but frames like [[parse]], so it rejects
    * the same malformed files; this is the schema-DISCOVERY path:
    * together with the 8.0 COLUMN_NAME / SIGNEDNESS / ENUM_STR_VALUE
    * optional metadata it lets a consumer derive the Spark schema from
    * the log itself instead of a separate catalog query (the reference
    * needs a live `information_schema` connection for the same job,
    * `src/mysql_client.py`). */
  def scanTableMaps(bytes: Array[Byte]): Map[(String, String), TableMap] =
    frames(bytes).flatMap { f =>
      if (f.tpe == TableMapEvent) Iterator(parseTableMap(body(bytes, f)))
      // compressed transactions carry their TABLE_MAPs INSIDE the
      // payload — schema discovery must look through the compression
      else if (f.tpe == TransactionPayloadEvent)
        innerEvents(body(bytes, f)).collect {
          case (i, ib) if i.tpe == TableMapEvent => parseTableMap(ib)
        }
      else Iterator.empty
    }.foldLeft(Map.empty[(String, String), TableMap]) { (m, tm) =>
      m.updated((tm.db, tm.table), tm)
    }

  /** GTID-set wire encoding (PREVIOUS_GTIDS body): n_sids8, then per sid
    * sid16 + n_intervals8 + (start8, endExclusive8)*. Rendered in the
    * canonical `uuid:start[-endInclusive]` display form, comma-joined;
    * an empty set renders as "". Empty/inverted intervals (endEx <=
    * start) and sids left with no intervals are dropped defensively —
    * real servers never write them, but a consumer resuming "from the
    * set" must not see a malformed `uuid:1-0`. */
  private def parseGtidSet(b: ByteBuffer): String = {
    val nSids = b.getLong()
    (0L until nSids).flatMap { _ =>
      val sid = new Array[Byte](16); b.get(sid)
      val nIv = b.getLong()
      val ivs = (0L until nIv).flatMap { _ =>
        val start = b.getLong(); val endEx = b.getLong()
        if (endEx <= start) None
        else if (endEx - 1 == start) Some(s"$start")
        else Some(s"$start-${endEx - 1}")
      }
      if (ivs.isEmpty) None
      else Some(s"${uuidStr(sid)}:${ivs.mkString(":")}")
    }.mkString(",")
  }

  /** 16 raw sid bytes → the display UUID — the ONE rendering GTID
    * membership depends on (shared by the parser, [[GtidSet.fromWire]]
    * and the fixture server's skip filter; divergent copies would break
    * skip-set membership silently). */
  private[sources] def uuidStr(sid: Array[Byte]): String = {
    val h = sid.map(x => f"${x & 0xff}%02x").mkString
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-${h.substring(12, 16)}-" +
      s"${h.substring(16, 20)}-${h.substring(20)}"
  }

  private def parseTableMap(b: ByteBuffer): TableMap = {
    val tableId = uint48(b)
    b.getShort() // flags
    val dbLen = b.get() & 0xff
    val db = str(b, dbLen); b.get() // NUL
    val tblLen = b.get() & 0xff
    val tbl = str(b, tblLen); b.get() // NUL
    // bound counts by the bytes actually present BEFORE allocating —
    // a corrupted non-checksummed file must fail, not balloon memory
    val n = lenenc(b).toInt
    require(n >= 0 && n <= b.remaining(), s"column count $n overruns event")
    val types = Array.fill(n)(b.get() & 0xff)
    val metaLen = lenenc(b).toInt
    require(metaLen >= 0 && metaLen <= b.remaining(),
      s"metadata length $metaLen overruns event")
    val metaEnd = b.position() + metaLen
    var cols = types.map { t =>
      t match {
        case TypeVarchar | TypeVarString =>
          ColumnDef(t, (b.get() & 0xff) | ((b.get() & 0xff) << 8))
        case TypeFloat | TypeDouble =>
          ColumnDef(t, b.get() & 0xff) // pack length (4 / 8)
        case TypeNewDecimal =>
          val precision = b.get() & 0xff; val scale = b.get() & 0xff
          ColumnDef(t, (precision << 8) | scale)
        case TypeTimestamp2 | TypeDatetime2 | TypeTime2 =>
          ColumnDef(t, b.get() & 0xff) // fsp
        case TypeBit =>
          // meta byte0 = bits % 8, byte1 = bits / 8 (save_field_metadata)
          val rem = b.get() & 0xff; val whole = b.get() & 0xff
          ColumnDef(t, whole * 8 + rem)
        case TypeBlob | TypeJson | TypeGeometry =>
          ColumnDef(t, b.get() & 0xff) // length-prefix byte count (1..4)
        case TypeString =>
          // CHAR packs a REAL type into meta byte0: plain CHAR keeps
          // 254 (0xfe & 0x30 == 0x30, the "short field" form for
          // lengths <= 255 — the only lengths the fsp-era charsets
          // produce per column byte length here); ENUM/SET columns
          // arrive as STRING with byte0 = 0xf7 / 0xf8 and byte1 = the
          // value pack length (log_event.cc, Field_enum::pack_length)
          val b0 = b.get() & 0xff; val b1 = b.get() & 0xff
          b0 match {
            case TypeEnum | TypeSet => ColumnDef(b0, b1)
            case _ if (b0 & 0x30) != 0x30 =>
              // long CHAR: length's high bits hide in the type byte
              ColumnDef(b0 | 0x30, b1 | (((b0 & 0x30) ^ 0x30) << 4))
            case _ => ColumnDef(b0, b1)
          }
        case _ => ColumnDef(t, 0) // integers, DATE/NEWDATE, YEAR
      }
    }.toIndexedSeq
    require(b.position() == metaEnd,
      s"table-map metadata length mismatch: ${b.position()} vs $metaEnd")
    // nullability bitmap (row decoding uses per-row bitmaps instead)
    skip(b, (n + 7) / 8)
    // ---- optional metadata TLVs (MySQL 8.0 binlog_row_metadata) ----
    var colNames = IndexedSeq.empty[String]
    while (b.hasRemaining) {
      val t = b.get() & 0xff
      val len = lenenc(b).toInt
      require(len >= 0 && len <= b.remaining(),
        s"optional metadata field $t overruns event (len=$len)")
      val end = b.position() + len
      // inner lenenc reads must stay inside THIS TLV's value: a malformed
      // length would otherwise read into the next TLV's bytes before
      // position(end) resets, and a lenenc > Int.MaxValue would turn into
      // a negative array size instead of a diagnosable failure
      def innerLen(what: String): Int = {
        val l = lenenc(b)
        require(l >= 0 && l <= end - b.position(),
          s"optional-metadata $what length $l overruns its TLV (type $t)")
        l.toInt
      }
      t match {
        case MetaSignedness =>
          // one bit per NUMERIC column in column order, MSB-first bytes,
          // 1 = unsigned (libbinlogevents Optional_metadata signedness)
          val bits = new Array[Byte](len); b.get(bits)
          var ni = 0
          cols = cols.map { c =>
            if (!isNumeric(c.tpe)) c
            else {
              val u = ni / 8 < bits.length &&
                (bits(ni / 8) & (0x80 >> (ni % 8))) != 0
              ni += 1
              c.copy(unsigned = u)
            }
          }
        case MetaColumnName =>
          val names = Vector.newBuilder[String]
          while (b.position() < end) names += str(b, innerLen("column name"))
          colNames = names.result()
        case MetaEnumStrValue | MetaSetStrValue =>
          // per ENUM (resp. SET) column in column order:
          //   count(lenenc), then count strings each lenenc-prefixed
          val target = if (t == MetaEnumStrValue) TypeEnum else TypeSet
          var labelSets = Vector.empty[IndexedSeq[String]]
          while (b.position() < end) {
            val cnt = innerLen("label count")
            labelSets :+= IndexedSeq.fill(cnt)(str(b, innerLen("label")))
          }
          var li = 0
          cols = cols.map { c =>
            if (c.tpe != target || li >= labelSets.size) c
            else { val ls = labelSets(li); li += 1; c.copy(labels = ls) }
          }
        case _ => // charsets, PK hints, visibility — not needed to decode
      }
      b.position(end)
    }
    TableMap(tableId, db, tbl, cols, colNames)
  }

  /** The SIGNEDNESS bitmap covers exactly these (rows_event.cc
    * is_numeric_type). Shared with [[BinlogFixture]] — the TLV is a
    * POSITIONAL bitmap, so writer and reader must agree on the set or
    * unsigned flags land on the wrong columns. */
  private[sources] def isNumeric(t: Int): Boolean = t match {
    case TypeTiny | TypeShort | TypeInt24 | TypeLong | TypeLongLong |
         TypeFloat | TypeDouble | TypeNewDecimal => true
    case _ => false
  }

  private def parseRowsEvent(b: ByteBuffer, tpe: Int, pos: Long,
      maps: collection.Map[Long, TableMap]): Vector[RowChange] = {
    val tableId = uint48(b)
    b.getShort() // flags
    val extraLen = (b.get() & 0xff) | ((b.get() & 0xff) << 8)
    skip(b, extraLen - 2) // extra-data length includes its own 2 bytes
    val tm = maps.getOrElse(tableId,
      throw new IllegalStateException(s"rows event for unmapped table id $tableId"))
    val n = lenenc(b).toInt
    require(n == tm.cols.size,
      s"rows event column count $n != table map ${tm.cols.size}")
    val present1 = bitmap(b, n)
    val present2 =
      if (tpe == UpdateRowsV2 || tpe == PartialUpdateRowsV2) bitmap(b, n)
      else present1
    val out = Vector.newBuilder[RowChange]
    while (b.hasRemaining) {
      // zero-progress guard: a corrupt all-zeros present bitmap would
      // otherwise make image() consume 0 bytes per iteration and this
      // loop emit empty rows until OOM (only reachable without CRCs)
      val p0 = b.position()
      tpe match {
        case WriteRowsV2 =>
          out += RowChange(tm.db, tm.table, InsertOp,
            None, Some(image(b, tm, present1)), pos, present = present1)
        case DeleteRowsV2 =>
          out += RowChange(tm.db, tm.table, DeleteOp,
            Some(image(b, tm, present1)), None, pos, present = present1)
        case UpdateRowsV2 =>
          val before = image(b, tm, present1)
          val after = image(b, tm, present2)
          out += RowChange(tm.db, tm.table, UpdateOp,
            Some(before), Some(after), pos, present = present2)
        case PartialUpdateRowsV2 =>
          // PARTIAL_JSON: the after-image ships DIFFS for flagged JSON
          // columns — decode the before with its JSON as AST, apply
          // the diffs, surface both images as text
          val beforeAst = image(b, tm, present1, jsonAst = true)
          val after = partialImage(b, tm, present2, beforeAst)
          val before = beforeAst.map {
            case j: JsonBinary.J => JsonBinary.renderAst(j)
            case x => x
          }
          out += RowChange(tm.db, tm.table, UpdateOp,
            Some(before), Some(after), pos, present = present2)
      }
      require(b.position() > p0,
        "zero-progress row image — corrupt columns-present bitmap")
    }
    out.result()
  }

  /** A partial after-image (WL#2955): value_options (lenenc; bit 0 =
    * PARTIAL_JSON), then — when set — one bit per JSON column of the
    * TABLE (LSB-first; the documented pack_row layout sizes the bitmap
    * by the table's JSON columns, which is also how pymysqlreplication
    * reads it), then the ordinary [[image]] walk where a flagged
    * non-null JSON column carries a framed DIFF sequence applied to the
    * before-image's document instead of a full value.
    *
    * Supported row image: FULL (the server default). Under
    * binlog_row_image=MINIMAL an 8.0 after-image may OMIT a JSON column,
    * and whether the server then sizes partial_bits by the table's JSON
    * columns or the included ones is not pinned by a capture we can run
    * in this sandbox — rather than risk a silent bitmap misalignment,
    * an image that excludes any JSON column while PARTIAL_JSON is on
    * fails loudly here (the reference's own client has the same
    * untested corner; real deployments running PARTIAL_JSON keep
    * binlog_row_image=FULL). */
  private def partialImage(b: ByteBuffer, tm: TableMap,
      present: IndexedSeq[Boolean],
      beforeAst: IndexedSeq[Any]): IndexedSeq[Any] = {
    val opts = lenenc(b)
    val jsonCols = tm.cols.count(_.tpe == TypeJson)
    if ((opts & 1L) != 0) {
      val excluded = tm.cols.indices.count(i =>
        tm.cols(i).tpe == TypeJson && !present(i))
      require(excluded == 0,
        s"PARTIAL_JSON after-image excludes $excluded JSON column(s) " +
          "(binlog_row_image=MINIMAL?) — only FULL row images are " +
          "supported with partial JSON updates")
    }
    val partialBits =
      if ((opts & 1L) != 0) bitmap(b, jsonCols)
      else IndexedSeq.fill(jsonCols)(false)
    image(b, tm, present, partial = Some((partialBits, beforeAst)))
  }

  /** One row image: null bitmap over PRESENT columns, then values. Absent
    * columns (minimal row images) decode as null — the consumer treats a
    * partial image like the reference treats its discarded before-values.
    * `jsonAst = true` keeps JSON columns as [[JsonBinary.J]] ASTs instead
    * of rendered text — the base a partial update's diffs apply to.
    * `partial` = (per-table-JSON-column diff bitmap, before-image) routes
    * flagged JSON columns through the diff-apply path — ONE walk for
    * plain and partial images, so null/present handling can't drift. */
  private def image(b: ByteBuffer, tm: TableMap,
                    present: IndexedSeq[Boolean],
                    jsonAst: Boolean = false,
                    partial: Option[(IndexedSeq[Boolean], IndexedSeq[Any])] = None)
      : IndexedSeq[Any] = {
    val nPresent = present.count(identity)
    val nulls = bitmap(b, nPresent)
    var pi = 0; var ji = 0
    tm.cols.indices.map { i =>
      val c = tm.cols(i)
      val jIdx = if (c.tpe == TypeJson) { val x = ji; ji += 1; x } else -1
      if (!present(i)) null
      else {
        val isNull = nulls(pi); pi += 1
        if (isNull) null
        else partial match {
          case Some((bits, beforeAst)) if jIdx >= 0 && bits(jIdx) =>
            val diffs = JsonBinary.parseDiffs(framedBytes(b, c.meta))
            val base = beforeAst(i) match {
              case j: JsonBinary.J => j
              case other => throw new IllegalStateException(
                s"partial JSON diff over a non-JSON before-image at column $i: $other")
            }
            JsonBinary.renderAst(diffs.foldLeft(base)(JsonBinary.applyDiff))
          case _ =>
            if (jsonAst && c.tpe == TypeJson)
              JsonBinary.toAst(framedBytes(b, c.meta))
            else value(b, c)
        }
      }
    }
  }

  /** Decode one non-null value. JVM result types, chosen so
    * [[BinlogSource]] can hand them to Spark's `Row` encoder against the
    * [[graft.model.TypeMapper]] mapping of the same MySQL type:
    * integers → Long (masked when the SIGNEDNESS TLV says unsigned;
    * unsigned BIGINT → BigDecimal, the one case a Long cannot hold),
    * FLOAT → Float, DOUBLE → Double, NEWDECIMAL → java.math.BigDecimal,
    * DATE → LocalDate, DATETIME2 → LocalDateTime (no zone on the wire),
    * TIMESTAMP2 → Instant (UTC seconds on the wire), TIME2 → "HH:MM:SS
    * [.ffffff]" String (Spark has no TIME type; TypeMapper maps time →
    * String), YEAR → Short, ENUM/SET → label String when the TABLE_MAP
    * carried ENUM/SET_STR_VALUE metadata else the raw index/bitmask as
    * Long, BIT → Long, BLOB/TEXT → Array[Byte] (the source coerces to
    * String where the target schema says so), CHAR/VARCHAR → String. */
  private def value(b: ByteBuffer, c: ColumnDef): Any = c.tpe match {
    case TypeTiny =>
      val v = b.get().toLong; if (c.unsigned) v & 0xffL else v
    case TypeShort =>
      val v = b.getShort().toLong; if (c.unsigned) v & 0xffffL else v
    case TypeInt24 =>
      val u = (b.get() & 0xff) | ((b.get() & 0xff) << 8) |
        ((b.get() & 0xff) << 16)
      if (c.unsigned) u.toLong & 0xffffffL
      else ((u << 8) >> 8).toLong // sign-extend 24 bits
    case TypeLong =>
      val v = b.getInt(); if (c.unsigned) v.toLong & 0xffffffffL else v.toLong
    case TypeLongLong =>
      val v = b.getLong()
      if (c.unsigned) new java.math.BigDecimal(java.lang.Long.toUnsignedString(v))
      else v
    case TypeFloat  => b.getFloat()
    case TypeDouble => b.getDouble()
    case TypeNewDecimal => decodeDecimal(b, c.meta >> 8, c.meta & 0xff)
    case TypeDate | TypeNewDate =>
      // 3 bytes LE: day 5 bits, month 4, year the rest
      val v = (b.get() & 0xff) | ((b.get() & 0xff) << 8) | ((b.get() & 0xff) << 16)
      val (y, m, d) = (v >> 9, (v >> 5) & 0x0f, v & 0x1f)
      if (y == 0 || m == 0 || d == 0) null // the zero-date sentinel
      else java.time.LocalDate.of(y, m, d)
    case TypeYear =>
      val v = b.get() & 0xff
      (if (v == 0) 0 else 1900 + v).toShort
    case TypeTimestamp =>
      // pre-5.6.4 storage: 4-byte LE epoch seconds, no fraction; the
      // same zero sentinel as TIMESTAMP2 (valid range starts at :01)
      val sec = b.getInt().toLong & 0xffffffffL
      if (sec == 0) null else java.time.Instant.ofEpochSecond(sec)
    case TypeTime =>
      // pre-5.6.4 storage: 3-byte LE SIGNED H*10000 + M*100 + S
      val u = (b.get() & 0xff) | ((b.get() & 0xff) << 8) |
        ((b.get() & 0xff) << 16)
      val v = (u << 8) >> 8 // sign-extend 24 bits
      val mag = math.abs(v)
      f"${if (v < 0) "-" else ""}${mag / 10000}%02d:${mag / 100 % 100}%02d:${mag % 100}%02d"
    case TypeDatetime =>
      // pre-5.6.4 storage: 8-byte LE packed decimal YYYYMMDDHHMMSS;
      // the zero-date sentinel decodes as null like DATETIME2's
      val v = b.getLong()
      require(v >= 0, s"legacy DATETIME value $v out of range")
      val (d, t) = (v / 1000000L, v % 1000000L)
      val (y, mo, dd) = ((d / 10000L).toInt, (d / 100L % 100L).toInt,
        (d % 100L).toInt)
      if (y == 0 || mo == 0 || dd == 0) null
      else java.time.LocalDateTime.of(y, mo, dd, (t / 10000L).toInt,
        (t / 100L % 100L).toInt, (t % 100L).toInt)
    case TypeDatetime2 =>
      // 5 bytes BE, offset 1<<39: sign1 | (year*13+month)17 | day5 |
      // hour5 | minute6 | second6 — then the fsp fraction
      val raw = readBE(b, 5) - 0x8000000000L
      val us = readFrac(b, c.meta)
      val ym = ((raw >> 22) & 0x1ffff).toInt
      // the zero-datetime sentinel (0000-00-00 …, legal without
      // NO_ZERO_DATE) decodes as null, like TypeDate's — any zero
      // field of the DATE half (year, month, day) marks it
      if (ym / 13 == 0 || ym % 13 == 0 || ((raw >> 17) & 0x1f) == 0) null
      else java.time.LocalDateTime.of(ym / 13, ym % 13,
        ((raw >> 17) & 0x1f).toInt, ((raw >> 12) & 0x1f).toInt,
        ((raw >> 6) & 0x3f).toInt, (raw & 0x3f).toInt, us.toInt * 1000)
    case TypeTimestamp2 =>
      val sec = readBE(b, 4)
      val us = readFrac(b, c.meta)
      // the zero-timestamp sentinel: valid TIMESTAMP range starts at
      // 1970-01-01 00:00:01, so stored 0 is unambiguously '0000-00-00'
      if (sec == 0 && us == 0) null
      else java.time.Instant.ofEpochSecond(sec, us * 1000L)
    case TypeTime2 =>
      // my_time_packed_to_binary: the packed value is SIGNED
      // (hour10|minute6|second6) << 24 | microseconds, negated for
      // negative times. fsp 0–4 store int3(0x800000 + (nr >> 24)) plus
      // the SIGNED fraction scaled into 0–2 trailing bytes; fsp 5–6
      // store the whole thing as int6(0x800000000000 + nr).
      val nr =
        if (c.meta >= 5) readBE(b, 6) - 0x800000000000L
        else {
          var intPart = readBE(b, 3) - 0x800000L // nr >> 24, sign included
          val fb = (c.meta + 1) / 2 // 0, 1 or 2 fraction bytes
          var f = if (fb == 0) 0L else readBE(b, fb) // stored unsigned
          // binary_to_my_time_packed: a negative intpart with a nonzero
          // fraction means the fraction wrapped — shift it back
          if (intPart < 0 && f > 0) { intPart += 1; f -= (1L << (8 * fb)) }
          val scale = if (fb == 1) 10000L else 100L
          (intPart << 24) + f * (if (fb == 0) 0L else scale)
        }
      val neg = nr < 0
      val mag = math.abs(nr)
      val us = mag & 0xffffffL
      val p = mag >> 24
      val base = f"${(p >> 12) & 0x3ff}%02d:${(p >> 6) & 0x3f}%02d:${p & 0x3f}%02d"
      val frac = if (c.meta > 0) "." + f"$us%06d".take(c.meta) else ""
      (if (neg) "-" else "") + base + frac
    case TypeBit => readBE(b, (c.meta + 7) / 8) // big-endian, unlike ints
    case TypeEnum =>
      val idx = (if (c.meta == 1) (b.get() & 0xff)
                 else (b.get() & 0xff) | ((b.get() & 0xff) << 8)).toLong
      if (c.labels.isEmpty) idx
      else if (idx == 0) null // the invalid-value sentinel index
      else {
        // diagnosable failure on corrupt non-checksummed bytes, not a
        // bare IndexOutOfBounds
        require(idx <= c.labels.size,
          s"enum index $idx exceeds the ${c.labels.size}-label dictionary")
        c.labels((idx - 1).toInt)
      }
    case TypeSet =>
      var mask = 0L
      (0 until c.meta).foreach(i => mask |= (b.get().toLong & 0xff) << (8 * i))
      if (c.labels.isEmpty) mask
      else c.labels.zipWithIndex
        .collect { case (l, i) if (mask & (1L << i)) != 0 => l }
        .mkString(",")
    case TypeBlob | TypeJson | TypeGeometry =>
      val a = framedBytes(b, c.meta)
      // JSON ships as a blob-framed BINARY document; surface the text
      // (the reference's json → String mapping, schema_converter.py:36).
      // GEOMETRY is blob-framed WKB surfaced as raw bytes — the caller
      // schema decides String vs Binary, mirroring the reference's
      // unknown-type → String fallback (schema_converter.py:49)
      if (c.tpe == TypeJson) JsonBinary.render(a) else a
    case TypeVarchar | TypeVarString | TypeString =>
      val len = if (c.meta < 256) b.get() & 0xff
                else (b.get() & 0xff) | ((b.get() & 0xff) << 8)
      str(b, len)
    case t => throw new IllegalStateException(s"unsupported column type $t")
  }

  /** Digit-count → byte-count for one decimal group (myisampack
    * dig2bytes). */
  private val Dig2Bytes = Array(0, 1, 1, 2, 2, 3, 3, 4, 4, 4)

  /** How many bytes a NEWDECIMAL(precision, scale) occupies on the wire. */
  def decimalBinSize(precision: Int, scale: Int): Int = {
    val intg = precision - scale
    intg / 9 * 4 + Dig2Bytes(intg % 9) + scale / 9 * 4 + Dig2Bytes(scale % 9)
  }

  /** MySQL's packed decimal (decimal2bin): the integer and fractional
    * digit strings split into 9-digit groups of 4 big-endian bytes each,
    * leftover digits packed into [[Dig2Bytes]] bytes at the FRONT of the
    * integer part and the END of the fraction; the first byte's MSB is
    * the sign (1 = non-negative) and a negative number is the positive
    * encoding with every byte inverted. */
  private def decodeDecimal(b: ByteBuffer, precision: Int, scale: Int): java.math.BigDecimal = {
    // corrupt TABLE_MAP metadata (scale > precision) would make the
    // integer-digit count negative and index Dig2Bytes out of bounds
    require(precision >= 1 && precision <= 65 && scale >= 0 &&
      scale <= precision, s"invalid decimal($precision,$scale) metadata")
    val size = decimalBinSize(precision, scale)
    require(size > 0 && size <= b.remaining(),
      s"decimal($precision,$scale) overruns event")
    val raw = new Array[Byte](size); b.get(raw)
    val positive = (raw(0) & 0x80) != 0
    if (!positive) raw.indices.foreach(i => raw(i) = (~raw(i)).toByte)
    raw(0) = (raw(0) ^ 0x80).toByte
    val intg = precision - scale
    val sb = new java.lang.StringBuilder(precision + 2)
    var off = 0
    def group(nBytes: Int, digits: Int): Unit = {
      var v = 0L
      (0 until nBytes).foreach { i => v = (v << 8) | (raw(off + i) & 0xff) }
      off += nBytes
      val s = v.toString
      require(s.length <= digits, s"decimal group $v exceeds $digits digits")
      (s.length until digits).foreach(_ => sb.append('0'))
      sb.append(s); ()
    }
    if (intg % 9 > 0) group(Dig2Bytes(intg % 9), intg % 9)
    (0 until intg / 9).foreach(_ => group(4, 9))
    if (sb.length() == 0) sb.append('0')
    if (scale > 0) {
      sb.append('.')
      (0 until scale / 9).foreach(_ => group(4, 9))
      if (scale % 9 > 0) group(Dig2Bytes(scale % 9), scale % 9)
    }
    val mag = new java.math.BigDecimal(sb.toString)
    if (positive) mag else mag.negate()
  }

  /** Fractional-seconds trailer: ceil(fsp/2) big-endian bytes holding the
    * fraction at 2·bytes digits; returns microseconds. */
  private def readFrac(b: ByteBuffer, fsp: Int): Long = {
    val n = (fsp + 1) / 2
    if (n == 0) 0L
    else {
      val stored = readBE(b, n)
      stored * math.pow(10, 6 - 2 * n).toLong
    }
  }

  /** Little-endian length prefix of `lenBytes` bytes, then the bytes —
    * the BLOB/TEXT/JSON framing (and a partial update's diff stream). */
  private def framedBytes(b: ByteBuffer, lenBytes: Int): Array[Byte] = {
    var len = 0L
    (0 until lenBytes).foreach(i => len |= (b.get().toLong & 0xff) << (8 * i))
    require(len >= 0 && len <= b.remaining(), s"framed length $len overruns event")
    val a = new Array[Byte](len.toInt); b.get(a); a
  }

  private def readBE(b: ByteBuffer, n: Int): Long = {
    var v = 0L
    (0 until n).foreach(_ => v = (v << 8) | (b.get() & 0xff))
    v
  }

  // --- little-endian primitives ---

  private def buf(bytes: Array[Byte], off: Int, len: Int): ByteBuffer =
    ByteBuffer.wrap(bytes, off, len).order(ByteOrder.LITTLE_ENDIAN)

  private def skip(b: ByteBuffer, n: Int): Unit = b.position(b.position() + n)

  private def str(b: ByteBuffer, len: Int): String = {
    val a = new Array[Byte](len); b.get(a); new String(a, UTF_8)
  }

  private def uint48(b: ByteBuffer): Long =
    (0 until 6).map(i => (b.get().toLong & 0xff) << (8 * i)).sum

  /** net_store_length / length-encoded integer. */
  private def lenenc(b: ByteBuffer): Long = (b.get() & 0xff) match {
    case x if x < 0xfb => x.toLong
    case 0xfc => ((b.get() & 0xff) | ((b.get() & 0xff) << 8)).toLong
    case 0xfd => ((b.get() & 0xff) | ((b.get() & 0xff) << 8) |
      ((b.get() & 0xff) << 16)).toLong
    case 0xfe => b.getLong()
    case x => throw new IllegalStateException(s"bad length-encoded int $x")
  }

  /** LSB-first bitmap over `n` bits (the binlog's bit order). */
  private def bitmap(b: ByteBuffer, n: Int): IndexedSeq[Boolean] = {
    require(n >= 0 && (n + 7) / 8 <= b.remaining(),
      s"bitmap over $n bits overruns event")
    val bytes = new Array[Byte]((n + 7) / 8)
    b.get(bytes)
    (0 until n).map(i => (bytes(i / 8) & (1 << (i % 8))) != 0)
  }
}

/** A GTID set in the canonical `uuid:a[-b][:c-d],uuid2:e` display form —
  * the resume token modern MySQL replication uses instead of the
  * server-specific (file, pos) offset the reference persists
  * (`/root/reference/src/cdc_replicator.py:24-35`). A consumer that
  * tracks the set of transactions it has APPLIED can resume against ANY
  * replica: transactions whose GTID is already in the set are skipped,
  * so the overlap a failover replay produces (the same transactions
  * present at the tail of the old server's log and the head of the new
  * one's) applies exactly once. Interval arithmetic over (sid →
  * inclusive ranges); membership is a binary search, O(log intervals).
  */
final case class GtidSet(intervals: Map[String, IndexedSeq[(Long, Long)]])
    extends Serializable {
  /** Is `gtid` ("uuid:gno") already in the set? Unstamped changes (None)
    * are never "already applied". */
  def contains(gtid: String): Boolean = {
    val i = gtid.lastIndexOf(':')
    require(i > 0, s"malformed GTID $gtid")
    val gno = gtid.substring(i + 1).toLong
    intervals.get(gtid.substring(0, i).toLowerCase).exists { ivs =>
      // ivs sorted by lo: find the last interval starting <= gno
      var lo = 0; var hi = ivs.size - 1; var hit = false
      while (lo <= hi && !hit) {
        val mid = (lo + hi) / 2
        if (ivs(mid)._1 > gno) hi = mid - 1
        else if (ivs(mid)._2 < gno) lo = mid + 1
        else hit = true
      }
      hit
    }
  }
  def isEmpty: Boolean = intervals.isEmpty

  /** Set union with intervals coalesced — how a consumer's applied set
    * grows as commits arrive (adjacent gnos merge into one range). */
  def union(other: GtidSet): GtidSet = GtidSet(
    (intervals.keySet ++ other.intervals.keySet).map { sid =>
      val ivs = (intervals.getOrElse(sid, IndexedSeq.empty) ++
        other.intervals.getOrElse(sid, IndexedSeq.empty)).sortBy(_._1)
      sid -> ivs.foldLeft(IndexedSeq.empty[(Long, Long)]) { (acc, iv) =>
        acc.lastOption match {
          case Some((lo, hi)) if iv._1 <= hi + 1 =>
            acc.init :+ (lo, math.max(hi, iv._2))
          case _ => acc :+ iv
        }
      }
    }.toMap)

  /** Canonical display form (sids sorted, intervals ascending). */
  def render: String = intervals.toSeq.sortBy(_._1).map { case (sid, ivs) =>
    sid + ":" + ivs.map { case (a, b) => if (a == b) s"$a" else s"$a-$b" }
      .mkString(":")
  }.mkString(",")

  /** The wire encoding shared by PREVIOUS_GTIDS bodies and
    * COM_BINLOG_DUMP_GTID's gtid-set payload: n_sids8 LE, then per sid
    * the raw 16 bytes + n_intervals8 + (start8, endEXCLUSIVE8) pairs —
    * the form a replica sends the primary to say "start after these". */
  def wireBytes: Array[Byte] = {
    val sids = intervals.toSeq.sortBy(_._1)
    val size = 8 + sids.map { case (_, ivs) => 16 + 8 + 16 * ivs.size }.sum
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.putLong(sids.size.toLong)
    sids.foreach { case (sid, ivs) =>
      b.put(GtidSet.sidBytes(sid))
      b.putLong(ivs.size.toLong)
      ivs.foreach { case (lo, hi) => b.putLong(lo); b.putLong(hi + 1) }
    }
    b.array()
  }
}

object GtidSet {
  val Empty: GtidSet = GtidSet(Map.empty)

  /** `aaaaaaaa-bbbb-…` display sid → the 16 raw bytes the wire carries. */
  private[sources] def sidBytes(sid: String): Array[Byte] = {
    val hex = sid.replace("-", "")
    require(hex.length == 32, s"malformed sid $sid")
    Array.tabulate(16)(i =>
      Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  /** Decode [[GtidSet.wireBytes]]' layout (also a PREVIOUS_GTIDS body).
    * Degenerate intervals are dropped like [[BinlogFormat]]'s display
    * decode — a malformed set must not turn into a `1-0` skip range. */
  def fromWire(bytes: Array[Byte]): GtidSet = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val nSids = b.getLong()
    require(nSids >= 0 && nSids <= bytes.length / 24,
      s"gtid set sid count $nSids overruns its ${bytes.length} bytes")
    (0L until nSids).foldLeft(Empty) { (acc, _) =>
      val sid = new Array[Byte](16); b.get(sid)
      val nIv = b.getLong()
      // divide, don't multiply: nIv * 16 can Long-overflow past the check
      require(nIv >= 0 && nIv <= b.remaining() / 16,
        s"gtid interval count $nIv overruns the set")
      val ivs = (0L until nIv).flatMap { _ =>
        val lo = b.getLong(); val hiEx = b.getLong()
        if (hiEx <= lo) None else Some((lo, hiEx - 1))
      }.toIndexedSeq.sortBy(_._1)
      // union (not toMap) so a wire set repeating a sid MERGES its
      // intervals instead of last-wins dropping the earlier ones
      if (ivs.isEmpty) acc
      else acc.union(GtidSet(Map(BinlogFormat.uuidStr(sid) -> ivs)))
    }
  }

  /** Parse the canonical display form ([[BinlogFormat.parseGtidSet]]'s
    * output shape and MySQL's own `gtid_executed` rendering). */
  def parse(s: String): GtidSet =
    if (s.trim.isEmpty) Empty
    else GtidSet(s.split(',').map(_.trim).filter(_.nonEmpty).map { part =>
      val xs = part.split(':')
      require(xs.length >= 2, s"malformed GTID set entry $part")
      val ivs = xs.tail.map { r =>
        r.split('-') match {
          case Array(a)    => (a.toLong, a.toLong)
          case Array(a, b) => (a.toLong, b.toLong)
          case _ => throw new IllegalArgumentException(s"bad interval $r")
        }
      }.toIndexedSeq.sortBy(_._1)
      ivs.foreach { case (a, b) => require(a <= b, s"inverted interval in $part") }
      xs.head.toLowerCase -> ivs
    }.toMap)

  /** The set covering exactly the given GTIDs (what a consumer builds
    * from the transactions it applied), intervals coalesced. */
  def fromGtids(gtids: IterableOnce[String]): GtidSet = {
    val bySid = gtids.iterator.toSeq.map { g =>
      val i = g.lastIndexOf(':')
      require(i > 0, s"malformed GTID $g")
      (g.substring(0, i).toLowerCase, g.substring(i + 1).toLong)
    }.groupMap(_._1)(_._2)
    GtidSet(bySid.map { case (sid, gnos) =>
      val sorted = gnos.distinct.sorted
      val ivs = IndexedSeq.newBuilder[(Long, Long)]
      var start = sorted.head; var prev = sorted.head
      sorted.tail.foreach { g =>
        if (g == prev + 1) prev = g
        else { ivs += ((start, prev)); start = g; prev = g }
      }
      ivs += ((start, prev))
      sid -> ivs.result()
    })
  }
}

/** The op constants [[BinlogFormat]] emits — aliased here so the parser
  * file has no Spark import (pure bytes → rows). They match
  * [[graft.operators.CdcTransform]]'s `Insert`/`Update`/`Delete`. */
private[sources] object CdcTransformOps {
  val InsertOp = "I"; val UpdateOp = "U"; val DeleteOp = "D"
}
