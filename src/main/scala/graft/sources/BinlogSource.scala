package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

/** Distributed bridge: directory of rotated binlog files →
  * [[graft.streaming.CdcPipeline]]-shaped change rows (row-image columns
  * + `op` I/U/D + `_seq` + `_tbl`), the exact frame
  * [[graft.operators.CdcTransform.stamp]] consumes — so everything the
  * reference receives from `BinLogStreamReader`
  * (`/root/reference/src/cdc_replicator.py:326-368`) arrives here from
  * raw bytes instead of a Python library object.
  *
  * Scale: `binaryFile` scan → per-file [[BinlogFormat.parse]] inside
  * `mapPartitions`-style `flatMap` — one task per binlog file, so a
  * server fleet's rotated logs (the 100 TB shape: many 1 GiB files)
  * parallelize across executors while each file is decoded in its
  * inherently sequential single pass. The imperative byte walk is the
  * one place the DataFrame API genuinely cannot express the work
  * (self-describing variable-length binary records).
  *
  * Ordering: `_seq` = (file ordinal << 40) | per-file change ordinal.
  * The file ordinal is the numeric suffix of the standard `<base>.NNNNNN`
  * binlog name — the same total order the ROTATE chain encodes (MySQL
  * increments the suffix on rotation); [[rotateChain]] lets a caller
  * REQUIRE the two agree before trusting it. Within a file the CHANGE
  * ordinal is used, not the raw end-log-pos: a multi-row rows-event
  * stamps every row with the same event position, so pos alone ties
  * two changes to one key inside one event and the survivor would be
  * arbitrary (the reference inherits exactly that nondeterminism from
  * its batch-granular version, README.md "duplicate versions"; we keep
  * SURVEY §7.4's deterministic contract instead). The ordinal is
  * order-isomorphic to (end-log-pos, row-index-in-event) and < 2^40 for
  * any real file (MySQL caps binlogs at 1 GiB); the raw pos stays on
  * [[BinlogFormat.RowChange]] as the resume offset.
  *
  * This object owns the CHANGE ROW for every binlog path — files here,
  * a collected socket tail ([[collectedChanges]]) and the
  * `mysql-binlog` V2 source ([[MysqlBinlogSource]]): which image a
  * change surfaces, the arity check and pre-ALTER padding, the value
  * coercion onto the caller's schema, and the `op`/`_seq`/`_tbl` tail
  * all live in [[changeRow]].
  *
  * Row-image policy (parity with the reference's processors,
  * `src/cdc_replicator.py:157-212`): updates surface the AFTER image
  * (before-images discarded), deletes their BEFORE image, inserts their
  * AFTER image. Partial images (binlog_row_image=MINIMAL) surface absent
  * columns as null; `presentCol = true` additionally surfaces the
  * columns-present bitmap, which is what
  * [[graft.operators.MinimalImage.coalesce]] needs to MERGE minimal
  * updates onto prior state instead of nulling untouched columns (the
  * reference has no such apply and requires FULL row images).
  */
object BinlogSource {

  /** Numeric suffix of a rotated binlog name (`mysql-bin.000042` → 42). */
  def fileOrdinal(path: String): Long = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val digits = base.reverse.takeWhile(_.isDigit).reverse
    require(digits.nonEmpty, s"binlog name without numeric suffix: $base")
    digits.toLong
  }

  /** The fixed schema of the `binaryFile` format (streaming reads must
    * state it explicitly — file-stream schema inference is off by
    * default and the format's schema is not inferred for streams). */
  val BinaryFileSchema: StructType = new StructType()
    .add("path", StringType).add("modificationTime", TimestampType)
    .add("length", LongType).add("content", BinaryType)

  /** Bridge the parser's JVM values onto the caller's declared field
    * type — the small set of representation gaps between what the WIRE
    * can say and what the Row encoder wants: BLOB/TEXT share one wire
    * code so bytes become String exactly when the schema says so;
    * integer wire values are Long and narrow to the schema's
    * Byte/Short/Int (the TypeMapper widths); LocalDate/Instant/
    * LocalDateTime land as-is for DATE/TIMESTAMP/TIMESTAMP_NTZ fields
    * (the Row encoder takes the java.time forms); unsigned BIGINT's
    * BigDecimal widens onto any DecimalType field. Everything else
    * passes through and mismatches fail loudly in the encoder. */
  private def checked(l: Long, lo: Long, hi: Long, dt: DataType): Long = {
    // fail loudly like the parser's own diagnostics: a caller schema that
    // understates the wire range (ByteType for an unsigned TINY of 200)
    // must not silently wrap to -56
    if (l < lo || l > hi) throw new IllegalStateException(
      s"wire value $l does not fit the caller-declared $dt")
    l
  }

  /** The row image a change SURFACES: updates and inserts their after
    * image, deletes their before image (the reference's processors,
    * `src/cdc_replicator.py:157-212`). The one image rule. */
  private def surfaced(ch: BinlogFormat.RowChange): IndexedSeq[Any] =
    (if (ch.op == "D") ch.before else ch.after)
      .getOrElse(throw new IllegalStateException(
        s"${ch.op} row without its image at pos ${ch.pos}"))

  /** The change row: the [[surfaced]] image arity-checked against
    * `fieldTypes` and coerced onto them, then `op`, `_seq` and `_tbl` —
    * in an array of `width` slots, so a caller can fill extra tail
    * columns after them. `padNarrower` lets an image with FEWER
    * columns (a pre-ALTER file under an evolved schema) pad the added
    * trailing columns with NULL, MySQL's own ADD COLUMN semantics.
    * `conv` maps each value onto the caller's representation: the
    * identity for an external `Row`, Catalyst's internal form for the
    * V2 reader. Shared by every decode path — files, a collected socket
    * tail and the `mysql-binlog` source — so their frames cannot
    * diverge. */
  private[sources] def changeRow(ch: BinlogFormat.RowChange, seq: Long,
      fieldTypes: IndexedSeq[DataType], width: Int,
      padNarrower: Boolean = false,
      conv: (Any, DataType) => Any = (v, _) => v): Array[Any] = {
    val n = fieldTypes.size
    val img = surfaced(ch)
    require(img.size == n || (padNarrower && img.size < n),
      s"row arity ${img.size} != schema arity $n for ${ch.table}")
    val vals = new Array[Any](width)
    var k = 0
    while (k < img.size) {
      vals(k) = conv(coerce(img(k), fieldTypes(k)), fieldTypes(k))
      k += 1
    }
    // k < n only under padNarrower: the slots stay null
    vals(n) = conv(ch.op, StringType)
    vals(n + 1) = conv(seq, LongType)
    vals(n + 2) = conv(ch.table, StringType)
    vals
  }

  private[sources] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _)                       => null
    case (l: java.lang.Long, ShortType)   =>
      checked(l, Short.MinValue, Short.MaxValue, dt).toShort
    case (l: java.lang.Long, IntegerType) =>
      checked(l, Int.MinValue, Int.MaxValue, dt).toInt
    case (l: java.lang.Long, ByteType)    =>
      checked(l, Byte.MinValue, Byte.MaxValue, dt).toByte
    case (l: java.lang.Long, _: DecimalType) => new java.math.BigDecimal(l)
    case (s: java.lang.Short, IntegerType) => s.intValue()
    case (s: java.lang.Short, LongType)    => s.longValue()
    case (b: Array[Byte], StringType)    => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case (d: java.time.LocalDate, DateType) => java.sql.Date.valueOf(d)
    case (t: java.time.Instant, TimestampType) => java.sql.Timestamp.from(t)
    case (dt2: java.time.LocalDateTime, TimestampType) =>
      java.sql.Timestamp.valueOf(dt2)
    case _ => v
  }

  private def decode(files: Dataset[(String, Array[Byte])], table: String,
                     rowSchema: StructType,
                     skipGtids: GtidSet = GtidSet.Empty,
                     beforeKey: Option[String] = None,
                     chainCols: Boolean = false,
                     gtidCol: Boolean = false,
                     padNarrower: Boolean = false,
                     presentCol: Boolean = false): DataFrame = {
    val base = MysqlBinlogSource.withMeta(rowSchema)
    val withBk = beforeKey.fold(base)(f =>
      base.add(s"_before_$f", rowSchema(f).dataType))
    val withGtid = if (gtidCol) withBk.add("_gtid", StringType) else withBk
    val withPresent =
      if (presentCol) withGtid.add("_present", ArrayType(BooleanType, false))
      else withGtid
    val out = if (chainCols) withPresent.add("_file", StringType)
                                        .add("_next", StringType)
              else withPresent
    val n = rowSchema.size
    val fieldTypes = rowSchema.fields.map(_.dataType).toIndexedSeq
    val bkIdx = beforeKey.map(rowSchema.fieldIndex)
    implicit val enc = Encoders.row(out)
    files.flatMap { case (path, bytes) =>
      val ord = fileOrdinal(path)
      val parsed = BinlogFormat.parse(bytes)
      parsed.changes.iterator
        .zipWithIndex // per-file change ordinal: see ordering scaladoc
        .filter(_._1.table == table)
        // GTID resume: skip transactions already in the applied set
        // (unstamped changes are never "already applied")
        .filter(!_._1.gtid.exists(skipGtids.contains))
        .map { case (ch, i) =>
          val vals = changeRow(ch, (ord << 40) | i.toLong, fieldTypes,
            out.size, padNarrower)
          var k = n + 3
          // before-image key: for updates the OLD key (the one the
          // reference discards — the t28 orphan repair's input); for
          // inserts/deletes it equals the image's own key
          bkIdx.foreach { b =>
            vals(k) =
              if (ch.op != "U") vals(b)
              else coerce(ch.before.getOrElse(throw new IllegalStateException(
                s"update without before-image at pos ${ch.pos}"))(b),
                fieldTypes(b))
            k += 1
          }
          if (gtidCol) { vals(k) = ch.gtid.orNull; k += 1 }
          // the surfaced image's columns-present bitmap, padded to the
          // caller schema (an evolving decode's added columns read as
          // absent for pre-ALTER rows — which they are)
          if (presentCol) {
            vals(k) = (if (ch.present.isEmpty)
              IndexedSeq.fill(surfaced(ch).size)(true)
            else ch.present).padTo(n, false)
            k += 1
          }
          if (chainCols) {
            vals(k) = path.substring(path.lastIndexOf('/') + 1)
            vals(k + 1) = parsed.nextFile.orNull
          }
          new GenericRow(vals): Row
        }
    }.toDF()
  }

  private def asFiles(df: DataFrame): Dataset[(String, Array[Byte])] =
    df.select("path", "content")
      .as[(String, Array[Byte])](
        Encoders.tuple(Encoders.STRING, Encoders.BINARY))

  /** Every binlog file under `dir` as a `binaryFile` frame. */
  private def load(s: SparkSession, dir: String): DataFrame =
    s.read.format("binaryFile").load(dir)

  /** Change rows for `table` from every binlog file under `dir`.
    * `rowSchema` = the row-image columns in TABLE_MAP order, with Spark
    * types per the decoded type surface ([[BinlogFormat.value]]'s doc).
    *
    * `skipGtids`: the GTID-set resume filter — transactions whose GTID
    * is in the set are dropped before they reach the apply path (see
    * [[GtidSet]]); pass the set of transactions already applied to read
    * an OVERLAPPING rotated chain (e.g. after a replica failover)
    * exactly once.
    *
    * `beforeKey = Some(field)` appends a `_before_<field>` column
    * carrying the UPDATE before-image's value of that field (equal to
    * the image's own value for inserts/deletes) — the input
    * [[graft.operators.CdcTransform.stampWithBeforeImage]] needs to
    * tombstone PK-updates' old keys from the wire. */
  def changes(s: SparkSession, dir: String, table: String,
              rowSchema: StructType,
              skipGtids: GtidSet = GtidSet.Empty,
              beforeKey: Option[String] = None,
              presentCol: Boolean = false): DataFrame =
    decode(asFiles(load(s, dir)), table, rowSchema, skipGtids, beforeKey,
      presentCol = presentCol)

  /** [[changes]] over an ALREADY-LOADED (path, content) frame — the form
    * a `foreachBatch` consumer needs (the batch is the file set; loading
    * by dir would re-read everything every micro-batch). `padNarrower`
    * lets rows from files announcing FEWER columns than `rowSchema`
    * (pre-ALTER files under an evolved schema) decode with the added
    * trailing columns as NULL — [[graft.streaming.BinlogEvolvingCdc]]'s
    * widen-and-continue contract. */
  def changesFrom(files: DataFrame, table: String, rowSchema: StructType,
                  padNarrower: Boolean = false): DataFrame =
    decode(asFiles(files), table, rowSchema, padNarrower = padNarrower)

  /** A socket tail's collected changes ([[BinlogSocketClient.tail]])
    * rendered as the same frame [[changes]] emits (row image + op +
    * `_seq` + `_tbl`), parallelized for the distributed apply. `_seq` is
    * the stream ordinal — one replication connection is a total order,
    * so no file-ordinal bit-packing is needed. The collect-then-
    * parallelize shape is inherent to the source (a replication stream
    * IS a single ordered connection, the reference's own topology); the
    * apply/dedup work downstream stays distributed. */
  def collectedChanges(s: SparkSession,
                       changes: Seq[BinlogFormat.RowChange],
                       table: String, rowSchema: StructType): DataFrame = {
    val out = MysqlBinlogSource.withMeta(rowSchema)
    val fieldTypes = rowSchema.fields.map(_.dataType).toIndexedSeq
    val rows = changes.iterator.zipWithIndex
      .filter(_._1.table == table)
      .map { case (ch, i) =>
        new GenericRow(changeRow(ch, i.toLong, fieldTypes, out.size)): Row
      }.toSeq
    s.createDataFrame(s.sparkContext.parallelize(rows), out)
  }

  /** Streaming form — the reference's continuous mode
    * (`CDCReplicator.run_continuous`, `src/cdc_replicator.py:296-326`)
    * as a file-shipped tail: the landing dir is watched and each NEW
    * binlog file is decoded exactly once, with the file-stream
    * checkpoint playing the reference's position file (S5 offset
    * capture at whole-file granularity). Deployment caveat, documented
    * rather than hidden: file-stream sources treat files as immutable,
    * so a file must land COMPLETE — i.e. the server's ACTIVE binlog is
    * consumed only once rotated (standard relay/backup shipping); the
    * live SOCKET tail of the active file is [[BinlogSocketClient]],
    * which speaks the replication protocol itself (t38). */
  def changesStream(s: SparkSession, dir: String, table: String,
                    rowSchema: StructType,
                    chainCols: Boolean = false,
                    skipGtids: GtidSet = GtidSet.Empty,
                    gtidCol: Boolean = false,
                    presentCol: Boolean = false): DataFrame =
    decode(asFiles(s.readStream.format("binaryFile")
      .schema(BinaryFileSchema).load(dir)), table, rowSchema,
      skipGtids = skipGtids, chainCols = chainCols, gtidCol = gtidCol,
      presentCol = presentCol)

  /** Driver-side applied-GTID tracker for the STREAMING path — the
    * failover token, persisted alongside the checkpoint on
    * [[graft.streaming.CdcPipeline]]'s POST-write `onBatchApplied` seam
    * (never pre-write: the durable set must only claim transactions
    * whose rows actually landed): a consumer feeds each applied
    * micro-batch's distinct `_gtid` values (the `gtidCol = true`
    * column; bounded — one value per TRANSACTION per batch, not per
    * row) and the tracker unions them into the applied [[GtidSet]],
    * atomically rewriting `path` (temp + move) after every batch. On a
    * failover the NEXT stream — pointed at the promoted replica's logs,
    * where the checkpoint's (file, pos) offsets mean nothing — passes
    * [[load]]'s set as `changesStream(skipGtids)` and the overlap
    * replays nothing. Constructing over an existing file resumes the
    * set (a restart keeps everything already recorded). */
  // deliberately NOT Serializable: driver-only (holds a local
  // java.nio.file.Path); the marker would falsely invite task-side capture
  final class GtidTracker(path: java.nio.file.Path) {
    @volatile private var applied: GtidSet = GtidTracker.load(path)

    def observe(gtids: IterableOnce[String]): Unit = synchronized {
      import java.nio.file.StandardOpenOption.{CREATE, TRUNCATE_EXISTING, WRITE}
      applied = applied.union(GtidSet.fromGtids(
        gtids.iterator.filter(_ != null)))
      val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
      // the bytes reach the disk BEFORE the rename publishes them: a
      // crash must never leave an empty record, which would parse as the
      // empty set and make a failover replay everything already applied
      val ch = java.nio.channels.FileChannel.open(tmp, CREATE,
        TRUNCATE_EXISTING, WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(
          applied.render.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      java.nio.file.Files.move(tmp, path,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    /** The applied set as of the last drained batch. */
    def set: GtidSet = applied
  }

  object GtidTracker {
    /** The persisted applied set (empty if nothing was ever tracked). */
    def load(path: java.nio.file.Path): GtidSet =
      if (java.nio.file.Files.exists(path))
        GtidSet.parse(java.nio.file.Files.readString(path))
      else GtidSet.Empty
  }

  /** Driver-side ROTATE-chain validator for the STREAMING path — the
    * batch path REQUIREs the chain up front via [[rotateChain]], but a
    * stream sees files one micro-batch at a time and until now trusted
    * the name ordinal alone. A consumer feeds every newly-seen file's
    * (name, rotate target) — the `_file`/`_next` columns
    * `changesStream(chainCols = true)` emits, collected per batch on
    * the driver (bounded: one row per FILE per batch) — and the guard
    * REQUIREs, over everything seen so far, that each file's declared
    * successor IS the next file by ordinal. Out-of-order landings are
    * legal (file N+1 may arrive before N; the pair is checked once both
    * are present); a file whose ROTATE disagrees with the name order,
    * or a non-final file with no ROTATE once its successor landed,
    * fails the stream loudly instead of silently misordering `_seq`. */
  final class RotateChainGuard extends Serializable {
    private val seen =
      scala.collection.concurrent.TrieMap.empty[Long, (String, Option[String])]

    def observe(name: String, rotateTarget: Option[String]): Unit = {
      seen.put(fileOrdinal(name), (name, rotateTarget))
      seen.foreach { case (ord, (f, target)) =>
        seen.get(ord + 1).foreach { case (successor, _) =>
          target match {
            case Some(t) => require(t == successor,
              s"rotate chain mismatch: $f declares next=$t but the " +
                s"successor file is $successor")
            case None => throw new IllegalStateException(
              s"rotate chain broken: $f carries no ROTATE but $successor follows it")
          }
        }
      }
    }

    /** Files validated so far (for in-gate completeness REQUIREs). */
    def seenCount: Int = seen.size
  }

  /** Spark type for one TABLE_MAP column — [[graft.model.TypeMapper]]'s
    * mapping keyed by WIRE type code instead of the DDL type string,
    * with the same unsigned widenings (u8→Short … u64→Decimal(20,0))
    * driven by the SIGNEDNESS optional metadata. BLOB/TEXT share wire
    * code 252 and default to BinaryType (the strict reading; a TEXT
    * column's caller overrides to StringType and the decode coerces);
    * ENUM/SET surface labels (String) when the log carries their
    * dictionaries, else the raw index/bitmask (Long). */
  def sparkTypeOf(c: BinlogFormat.ColumnDef): DataType = {
    import BinlogFormat._
    c.tpe match {
      case TypeTiny       => if (c.unsigned) ShortType else ByteType
      case TypeShort      => if (c.unsigned) IntegerType else ShortType
      case TypeInt24      => IntegerType // u24 max fits IntegerType
      case TypeLong       => if (c.unsigned) LongType else IntegerType
      case TypeLongLong   => if (c.unsigned) DecimalType(20, 0) else LongType
      case TypeFloat      => FloatType
      case TypeDouble     => DoubleType
      case TypeNewDecimal => DecimalType(c.meta >> 8, c.meta & 0xff)
      case TypeDate | TypeNewDate => DateType
      case TypeDatetime2  => TimestampNTZType // no zone on the wire
      case TypeTimestamp2 => TimestampType    // UTC seconds on the wire
      case TypeTime2      => StringType       // Spark has no TIME type
      case TypeDatetime   => TimestampNTZType // legacy wire, same mapping
      case TypeTimestamp  => TimestampType
      case TypeTime       => StringType
      case TypeGeometry   => BinaryType // WKB; ref's fallback coerces to String
      case TypeYear       => ShortType
      case TypeEnum | TypeSet =>
        if (c.labels.nonEmpty) StringType else LongType
      case TypeBit        => LongType
      case TypeBlob       => BinaryType
      case TypeJson       => StringType // rendered JSON text
      case TypeVarchar | TypeVarString | TypeString => StringType
      case t => throw new IllegalStateException(s"unsupported column type $t")
    }
  }

  /** Derive `table`'s row schema from the binlog DIRECTORY itself — no
    * catalog connection, no hand-written DDL: the TABLE_MAP events carry
    * the wire types and (on 8.0 with binlog_row_metadata) the
    * SIGNEDNESS/label/COLUMN_NAME metadata; [[sparkTypeOf]] maps them
    * exactly like `model/TypeMapper` maps the DDL strings the reference
    * fetches over a live `information_schema` query. Columns are named
    * from COLUMN_NAME metadata when present, else positionally
    * (`c1..cn`). Files may re-announce the table; all definitions must
    * agree (a mid-log ALTER belongs to the EvolvingCdc path, not a
    * silent schema pick). Bounded: one row per (file, table) — the
    * table-map scan never decodes row images. */
  def inferSchema(s: SparkSession, dir: String, table: String): StructType = {
    val defs = tableDefs(load(s, dir), table)
      .map { case (_, tm) => (tm.cols, tm.colNames) }.distinct
    require(defs.nonEmpty, s"no TABLE_MAP for `$table` under $dir")
    require(defs.length == 1,
      s"`$table` has ${defs.length} distinct definitions across $dir — " +
        "schema drift mid-log; use streaming/BinlogEvolvingCdc for DDL " +
        "replication")
    structOf(defs.head._1, defs.head._2)
  }

  /** `table`'s TABLE_MAP definitions per binlog file of a (path,
    * content) frame, as (path, definition) in file-ordinal order —
    * the schema-discovery walk [[inferSchema]] and
    * [[graft.streaming.BinlogEvolvingCdc]] share. Bounded collect: one
    * row per (file, table); [[BinlogFormat.scanTableMaps]] never decodes
    * row images. */
  def tableDefs(files: DataFrame, table: String)
      : Seq[(String, BinlogFormat.TableMap)] =
    asFiles(files)
      .flatMap { case (path, bytes) =>
        BinlogFormat.scanTableMaps(bytes).collect {
          case ((_, t), tm) if t == table => (path, tm)
        }
      }(Encoders.kryo[(String, BinlogFormat.TableMap)])
      .collect().toSeq
      .sortBy(d => fileOrdinal(d._1))

  /** One TABLE_MAP definition → its Spark schema: [[sparkTypeOf]] per
    * column, named from COLUMN_NAME metadata when present, else
    * positionally (`c1..cn`) — shared by [[inferSchema]] and the
    * per-file drift walk in [[graft.streaming.BinlogEvolvingCdc]]. */
  def structOf(cols: IndexedSeq[BinlogFormat.ColumnDef],
               names: IndexedSeq[String]): StructType = {
    val fieldNames =
      if (names.size == cols.size) names
      else cols.indices.map(i => s"c${i + 1}")
    StructType(cols.zip(fieldNames).map { case (c, n) =>
      StructField(n, sparkTypeOf(c))
    })
  }

  /** (file name, rotate target) per binlog under `dir`, name-ordered —
    * lets callers REQUIRE the ROTATE chain matches the suffix order.
    * Uses [[BinlogFormat.scanRotate]]'s header-only walk, so chain
    * validation never decodes row images a second time. Bounded collect:
    * one row per FILE (a fleet's file count, not rows). */
  def rotateChain(s: SparkSession, dir: String): Seq[(String, Option[String])] =
    asFiles(load(s, dir))
      .map { case (path, bytes) =>
        (path.substring(path.lastIndexOf('/') + 1),
          BinlogFormat.scanRotate(bytes).getOrElse(""))
      }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
      .collect().toSeq.sortBy(x => fileOrdinal(x._1))
      .map { case (f, nx) => (f, Option(nx).filter(_.nonEmpty)) }
}
