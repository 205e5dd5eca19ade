package graft.sources

import java.util.{Map => JuMap}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.model.SourceConfig

/** `spark.readStream.format("mysql-binlog")` — the replication-protocol
  * tail as a first-class DataSource V2 streaming source: the idiomatic
  * Spark packaging of the reference's continuous mode
  * (`/root/reference/src/cdc_replicator.py:296-326`), where the
  * reference hand-rolls a position file and a reader loop, and the
  * imperative form here is [[BinlogSocketClient]] (t38/o21/o22). As a
  * V2 source the OFFSET LOG is Spark's own: `{file, pos, count}`
  * offsets land in the query checkpoint, restarts resume from the
  * committed offset with no custom position plumbing, and exactly-once
  * falls out of the offset contract plus the binlog's append-only
  * immutability (re-planning a write-ahead-logged batch re-reads the
  * SAME byte range and yields the SAME rows).
  *
  * Options: `host`, `port`, `user`, `password`, `table` (the table to
  * surface — other tables' rows are dropped before they count against
  * offsets), optional `database` (disambiguates same-named tables
  * across schemas), optional `startfile`/`startpos` (defaults to the
  * primary's `SHOW MASTER STATUS` position at stream start — the
  * reference's own no-saved-position behavior), optional
  * `endfile`/`endpos` (batch reads only: a stable explicit end),
  * `serverid`, `negotiatechecksum`. `spark.read` on the same format
  * is the bounded BATCH form ([[BinlogBatch]]). The schema is caller-declared (the TABLE_MAP
  * row-image columns, like [[BinlogSource.changes]]' `rowSchema`) and
  * must end with the meta columns `op STRING, _seq BIGINT, _tbl
  * STRING` — [[MysqlBinlogSource.withMeta]] builds it; the emitted
  * frame is byte-compatible with [[BinlogSource.collectedChanges]], so
  * the same stamped apply and live view consume either path.
  *
  * Scale shape (PLANS.md): a replication stream is ONE ordered
  * connection per primary that finds the batch's end — the tail is
  * driver-side (the reference's single reader thread; the same
  * adjudication as [[BinlogSocketClient]]). The Spark driver holds only
  * the CURRENT window of committed-but-unprocessed transactions and the
  * offset at each of their commit ends (dropped at every `commit()`,
  * exactly Spark's own TextSocket source shape). A micro-batch that fits
  * in one split of Spark's file-scan rule (`maxPartitionBytes`, an even
  * share of the default parallelism, at least `openCostInBytes`) is one
  * partition carrying those rows: every live-tail batch. A larger one —
  * a catch-up backlog — is planned as transaction-aligned byte ranges
  * of about one split each; every task re-dumps and decodes its own
  * range with a bounded tail, the way the batch read does, so the
  * convert, stamp and append run on all slots and no task carries the
  * decoded backlog. Each range's `_seq` starts at its batch start's
  * count plus the table's rows before it, so rows are identical however
  * a batch is cut. Many primaries = many parallel streams, each with
  * its own offset log.
  */
final class MysqlBinlogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mysql-binlog"
  override def supportsExternalMetadata(): Boolean = true

  /** No server connection at plan time: the row image is not inferable
    * without a dump, so the schema is caller-declared like every other
    * binlog entry point ([[BinlogSource.changes]]' `rowSchema`). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "mysql-binlog needs an explicit .schema(...): the row-image columns " +
        "in TABLE_MAP order plus the trailing meta columns op STRING, " +
        "_seq BIGINT, _tbl STRING (MysqlBinlogSource.withMeta builds it)")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JuMap[String, String]): Table =
    new MysqlBinlogTable(schema, MysqlBinlogSource.Config.from(properties))
}

object MysqlBinlogSource {
  /** The source's output schema for a row-image schema: payload columns
    * first (positional, TABLE_MAP order), then the meta tail — the
    * exact frame [[BinlogSource.collectedChanges]] emits. */
  def withMeta(rowSchema: StructType): StructType = rowSchema
    .add("op", StringType).add("_seq", LongType).add("_tbl", StringType)

  /** The reader options that tail `table` from `source`'s binlog,
    * starting at `start` (file, pos). With no `start` the stream's
    * initial offset is the primary's position when it first plans; an
    * empty `source.database` sets no database filter. */
  def options(source: SourceConfig, table: String,
              start: Option[(String, Long)]): Map[String, String] =
    Map("host" -> source.host, "port" -> source.port.toString,
      "user" -> source.user, "password" -> source.password,
      "database" -> source.database, "table" -> table) ++
      start.toSeq.flatMap { case (f, p) =>
        Seq("startFile" -> f, "startPos" -> p.toString) }

  private[sources] def validateSchema(schema: StructType): Unit = {
    require(schema.size > 3 &&
      schema.fields.takeRight(3).map(f => (f.name, f.dataType)).toSeq ==
        Seq(("op", StringType), ("_seq", LongType), ("_tbl", StringType)),
      s"mysql-binlog schema must be row-image columns + (op STRING, _seq " +
        s"BIGINT, _tbl STRING) — got ${schema.simpleString}; build it with " +
        "MysqlBinlogSource.withMeta")
  }

  /** Parsed connection options; fails loudly at PLAN time, not in the
    * stream, when a required option is missing or malformed. */
  private[sources] final case class Config(
      host: String, port: Int, user: String, password: String,
      table: String, database: Option[String], serverId: Long,
      start: Option[(String, Long)], end: Option[(String, Long)],
      negotiateChecksum: Boolean) {
    def client(): BinlogSocketClient =
      new BinlogSocketClient(host, port, user, password, serverId,
        negotiateChecksum = negotiateChecksum)
    /** The stream's row filter. `database` disambiguates when two
      * schemas on the primary hold a table of the same name — without
      * it both would interleave (and count against offsets) under one
      * `_tbl` value. */
    def matches(ch: BinlogFormat.RowChange): Boolean =
      ch.table == table && database.forall(_ == ch.db)
  }

  private[sources] object Config {
    def from(props: JuMap[String, String]): Config = {
      val m = new CaseInsensitiveStringMap(props)
      def req(k: String): String = {
        val v = m.get(k)
        require(v != null && v.nonEmpty, s"mysql-binlog: missing option '$k'")
        v
      }
      def filePos(fileKey: String, posKey: String): Option[(String, Long)] = {
        val file = Option(m.get(fileKey))
        val pos = Option(m.get(posKey)).map(_.toLong)
        require(file.isDefined == pos.isDefined,
          s"mysql-binlog: $fileKey and $posKey come together or not at all")
        file.map(f => (f, pos.get))
      }
      Config(req("host"), req("port").toInt, req("user"), req("password"),
        req("table"), Option(m.get("database")).filter(_.nonEmpty),
        m.getLong("serverid", 100L),
        filePos("startfile", "startpos"), filePos("endfile", "endpos"),
        m.getBoolean("negotiatechecksum", true))
    }
  }
}

private[sources] final class MysqlBinlogTable(
    tableSchema: StructType, cfg: MysqlBinlogSource.Config)
    extends Table with SupportsRead {
  MysqlBinlogSource.validateSchema(tableSchema)

  override def name(): String =
    s"mysql-binlog(${cfg.host}:${cfg.port}/${cfg.table})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def description(): String = name()
        override def toMicroBatchStream(ckp: String): MicroBatchStream = {
          // a stream has no end: accepting-and-ignoring the batch-only
          // bound options would tail past the user's intended stop
          require(cfg.end.isEmpty,
            "endFile/endPos are batch-read options — use spark.read, " +
              "or drop them for an unbounded stream")
          new BinlogMicroBatchStream(tableSchema, cfg)
        }
        override def toBatch(): Batch = new BinlogBatch(tableSchema, cfg)
      }
    }
}

/** `spark.read.format("mysql-binlog")` — the bounded BATCH form of the
  * same source: one dump of `[start, end]` straight into a DataFrame.
  * `startFile`/`startPos` are REQUIRED (an unanchored batch has no
  * deterministic meaning); `endFile`/`endPos` default to the log end
  * captured when the action plans — each action of an unbounded read
  * re-captures, so pass an explicit end for a frame that is stable
  * across actions. Commits ending past the end (writes landing after
  * the capture) are excluded whole ([[BinlogSocketClient.tailUntil]]).
  * The dump runs INSIDE the partition reader — a task, not the driver,
  * holds the rows — and `_seq` is the 0-based commit-order ordinal of
  * the range. */
private[sources] final class BinlogBatch(schema: StructType,
    cfg: MysqlBinlogSource.Config) extends Batch {
  override def planInputPartitions(): Array[InputPartition] = {
    val (sf, sp) = cfg.start.getOrElse(throw new IllegalArgumentException(
      "mysql-binlog batch read requires startFile/startPos"))
    val (ef, ep) = cfg.end.getOrElse(cfg.client().masterStatus())
    // an inverted range must fail loudly — the bounded dump would
    // discard its first commit and return an empty frame, which a
    // backfill reads as "no changes in range" (silent loss)
    val (sOrd, eOrd) =
      (BinlogSource.fileOrdinal(sf), BinlogSource.fileOrdinal(ef))
    require(eOrd > sOrd || (eOrd == sOrd && ep >= sp),
      s"mysql-binlog batch range inverted: ($sf, $sp) .. ($ef, $ep)")
    Array(BinlogRangePartition(sf, sp, ef, ep))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogPartitionReaderFactory(schema, cfg)
}

/** A partition of the source: its changes (this table's, in commit
  * order) and the `_seq` of the first. */
private[sources] sealed trait BinlogPartition extends InputPartition {
  def changes(cfg: MysqlBinlogSource.Config): IndexedSeq[BinlogFormat.RowChange]
  def baseSeq: Long
}

/** A partition that dumps its own range of the log, in the TASK that
  * reads it, through the same one-connection-per-primary tail as the
  * stream. A batch read is one such range with `_seq` its 0-based
  * commit-order ordinal; a large micro-batch is several, each bounded by
  * commit ends, starting at `baseSeq` and holding exactly `rows` rows of
  * the table (`rows < 0`: not known in advance). */
private[sources] final case class BinlogRangePartition(
    fromFile: String, fromPos: Long, endFile: String, endPos: Long,
    baseSeq: Long = 0L, rows: Int = -1)
    extends BinlogPartition {
  def changes(cfg: MysqlBinlogSource.Config): IndexedSeq[BinlogFormat.RowChange] = {
    val mine = cfg.client().tailUntil(fromFile, fromPos, endFile, endPos)
      .changes.filter(cfg.matches)
    require(rows < 0 || mine.size == rows,
      s"re-tail of ($fromFile, $fromPos)..($endFile, $endPos) carried " +
        s"${mine.size} rows of ${cfg.table}, the range needs $rows — " +
        "the log changed under a logged batch?")
    mine
  }
}

/** The stream offset: the primary's (file, pos) the NEXT dump resumes
  * from, plus the cumulative count of this table's rows emitted since
  * the stream's initial offset — `count` makes micro-batch boundaries
  * exact (a (file,pos) pair alone cannot split inside a transaction)
  * and gives every row a deterministic, replay-stable `_seq`. */
final case class BinlogSourceOffset(file: String, pos: Long, count: Long)
    extends Offset {
  require(!file.exists(c => c == '"' || c == '\\'),
    s"binlog file name not JSON-safe: $file")
  override def json(): String =
    s"""{"file":"$file","pos":$pos,"count":$count}"""
}

object BinlogSourceOffset {
  private val Re =
    """\{"file":"([^"\\]*)","pos":(\d+),"count":(\d+)\}""".r
  def parse(json: String): BinlogSourceOffset = json match {
    case Re(f, p, c) => BinlogSourceOffset(f, p.toLong, c.toLong)
    case _ => throw new IllegalArgumentException(
      s"not a mysql-binlog offset: $json")
  }
}

private[sources] final class BinlogMicroBatchStream(
    schema: StructType, cfg: MysqlBinlogSource.Config)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  // Driver-side window of committed-but-unprocessed changes: buffered
  // holds this table's rows for offsets [bufferBase, bufferBase +
  // buffered.size), and marks the window's start followed by every
  // commit's end offset in it; commit() drops below the committed
  // offset, so the window is bounded by one trigger's data (the
  // TextSocket-source shape). planInputPartitions falls back to a
  // bounded re-tail when a recovered write-ahead-logged batch predates
  // this stream object — the binlog is append-only and immutable, so the
  // re-read is byte-identical and the batch reproduces exactly.
  private var bufferBase: Long = 0L
  private var buffered: Vector[BinlogFormat.RowChange] = Vector.empty
  private var marks: Vector[BinlogSourceOffset] = Vector.empty
  private var cur: BinlogSourceOffset = null
  private var availableNowPrepared = false
  private var availableNowEnd: BinlogSourceOffset = null

  override def initialOffset(): Offset = {
    val (f, p) = cfg.start.getOrElse(cfg.client().masterStatus())
    BinlogSourceOffset(f, p, 0L)
  }

  override def deserializeOffset(json: String): Offset =
    BinlogSourceOffset.parse(json)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Catch-up dump from `start`, appending to the buffer. `start` may
    * be ahead of `cur` (restart: the engine hands the checkpointed
    * offset to a fresh stream object) — then the buffer resets. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[BinlogSourceOffset]
    if (availableNowEnd != null) return clampedAvailableNow(s)
    if (cur == null || s != cur) {
      cur = s; buffered = Vector.empty; bufferBase = s.count
      marks = Vector(s)
    }
    val (mine, ends) = BinlogMicroBatchStream.window(
      cfg.client().tail(cur.file, cur.pos), cur, cfg)
    buffered ++= mine
    marks ++= ends
    cur = marks.last
    if (availableNowPrepared) availableNowEnd = cur // freeze: Trigger.AvailableNow
    cur
  }

  private def clampedAvailableNow(s: BinlogSourceOffset): BinlogSourceOffset =
    if (s.count >= availableNowEnd.count) s else availableNowEnd

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "mysql-binlog implements SupportsAdmissionControl: " +
      "latestOffset(start, limit) is the entry point")

  /** Trigger.AvailableNow: the FIRST catch-up dump after this call
    * fixes the end offset; writes landing later wait for the next
    * query run (the trigger's contract). */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowPrepared = true

  /** A batch that fits in one split is one partition carrying its
    * buffered rows. A larger one becomes transaction-aligned byte ranges
    * that the tasks dump and decode themselves, each anchored at its own
    * `_seq`, so the Spark driver ships offsets, not rows, and the apply
    * runs on every slot. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[BinlogSourceOffset]
    val e = end.asInstanceOf[BinlogSourceOffset]
    require(e.count >= s.count, s"offset range inverted: $s .. $e")
    val n = (e.count - s.count).toInt
    if (n == 0) // an idle batch needs no connection
      return Array(BinlogInputPartition(Vector.empty, s.count))
    val (i, j) = (marks.indexOf(s), marks.indexOf(e))
    val (rows, ends) =
      if (i >= 0 && j > i)
        (buffered.slice((s.count - bufferBase).toInt,
          (e.count - bufferBase).toInt), marks.slice(i, j + 1))
      else {
        // recovery re-plan of a batch this object never tailed: re-dump
        // the immutable range — BOUNDED at the batch's end offset, so
        // the cost is O(batch) even when the log has since grown
        val (mine, commits) = BinlogMicroBatchStream.window(
          cfg.client().tailUntil(s.file, s.pos, e.file, e.pos), s, cfg)
        require(mine.size == n,
          s"re-tail of (${s.file}, ${s.pos})..(${e.file}, ${e.pos}) " +
            s"carried ${mine.size} rows of ${cfg.table}, batch needs " +
            s"$n — the log changed under a logged batch?")
        (mine, s +: commits)
      }
    val split = BinlogMicroBatchStream.splitBytes(ends)
    if (BinlogMicroBatchStream.span(ends) <= split)
      Array(BinlogInputPartition(rows, s.count))
    else BinlogMicroBatchStream.ranges(ends, split)
      .filter { case (a, b) => b.count > a.count }
      .map { case (a, b) => BinlogRangePartition(a.file, a.pos, b.file, b.pos,
        a.count, (b.count - a.count).toInt) }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BinlogPartitionReaderFactory(schema, cfg)

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[BinlogSourceOffset]
    if (e.count > bufferBase) {
      val drop = math.min(e.count - bufferBase, buffered.size.toLong).toInt
      buffered = buffered.drop(drop)
      bufferBase = e.count
    }
    val k = marks.indexOf(e)
    if (k > 0) marks = marks.drop(k)
  }

  /** NON_BLOCK dumps open and close their own sockets per catch-up —
    * no held connection to release. */
  override def stop(): Unit = ()
}

private[sources] object BinlogMicroBatchStream {
  /** This table's rows of a tail that started at `from`, and the offset
    * at each of its commit ends: `count` is the cumulative row count of
    * the table through that commit. */
  def window(r: BinlogSocketClient.TailResult, from: BinlogSourceOffset,
             cfg: MysqlBinlogSource.Config)
      : (Vector[BinlogFormat.RowChange], Vector[BinlogSourceOffset]) = {
    val before = r.changes.scanLeft(0)((k, ch) => if (cfg.matches(ch)) k + 1 else k)
    (r.changes.filter(cfg.matches), r.commits.map(c =>
      BinlogSourceOffset(c.file, c.pos, from.count + before(c.changes))))
  }

  /** Log bytes from one commit end to the next: a rotation restarts the
    * position in the new file. */
  private def bytes(a: BinlogSourceOffset, b: BinlogSourceOffset): Long =
    if (a.file == b.file) b.pos - a.pos else b.pos

  /** Log bytes between the first and last of `ends`. */
  def span(ends: IndexedSeq[BinlogSourceOffset]): Long =
    ends.lazyZip(ends.drop(1)).map(bytes).sum

  /** The split size of Spark's file scans, applied to the log bytes
    * between the first and last of `ends`: the session's
    * `spark.sql.files.maxPartitionBytes`, shrunk toward an even share of
    * the default parallelism but not below `openCostInBytes`. */
  def splitBytes(ends: IndexedSeq[BinlogSourceOffset]): Long = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    val slots = org.apache.spark.sql.SparkSession.active.sparkContext
      .defaultParallelism
    math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes, ceilDiv(span(ends), slots)))
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b

  /** `ends` (a start offset, then commit ends in log order) cut into
    * `ceil(span / split)` consecutive ranges of near-even bytes: range k
    * closes at the first commit end at or past k/m of the span. A
    * commit is never cut, so a range can hold more than its share. */
  def ranges(ends: IndexedSeq[BinlogSourceOffset], split: Long)
      : Seq[(BinlogSourceOffset, BinlogSourceOffset)] = {
    val total = span(ends)
    val m = ceilDiv(total, split)
    val out = Seq.newBuilder[(BinlogSourceOffset, BinlogSourceOffset)]
    var from = ends.head
    var acc = 0L
    var k = 1L
    ends.lazyZip(ends.drop(1)).foreach { (a, b) =>
      acc += bytes(a, b)
      if (k < m && acc * m >= k * total) {
        out += (from -> b)
        from = b
        while (k < m && acc * m >= k * total) k += 1
      }
    }
    if (from != ends.last) out += (from -> ends.last)
    out.result()
  }
}

/** A micro-batch small enough for one split: its changes were tailed on
  * the Spark driver and ride in the partition; `baseSeq` anchors the
  * rows' `_seq` so it is globally monotonic and replay-stable across
  * batches. */
private[sources] final case class BinlogInputPartition(
    rows: IndexedSeq[BinlogFormat.RowChange], baseSeq: Long)
    extends BinlogPartition {
  def changes(cfg: MysqlBinlogSource.Config): IndexedSeq[BinlogFormat.RowChange] =
    rows
}

/** The one reader of both partition kinds: each change becomes the
  * source's internal row through [[BinlogSource.changeRow]] — payload
  * columns in TABLE_MAP order, then op / `_seq` / `_tbl` — converted
  * straight to Catalyst's form, so the stream and batch frames cannot
  * diverge. */
private[sources] final class BinlogPartitionReaderFactory(schema: StructType,
    cfg: MysqlBinlogSource.Config) extends PartitionReaderFactory {
  private val payloadTypes = schema.fields.dropRight(3).map(_.dataType).toIndexedSeq

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[BinlogPartition]
    new PartitionReader[InternalRow] {
      // a batch range dumps here, in the task, on first next()
      private lazy val changes = part.changes(cfg)
      private var i = -1
      override def next(): Boolean = { i += 1; i < changes.size }
      override def get(): InternalRow =
        new GenericInternalRow(BinlogSource.changeRow(changes(i),
          part.baseSeq + i, payloadTypes, schema.size,
          conv = BinlogPartitionReaderFactory.toCatalyst))
      override def close(): Unit = ()
    }
  }
}

private[sources] object BinlogPartitionReaderFactory {
  /** External JVM value ([[BinlogSource.coerce]]'s output range) →
    * Catalyst internal representation. Hand-rolled instead of the
    * private CatalystTypeConverters: the decode surface is a closed
    * set, and an unmapped type fails loudly below. */
  private[sources] def toCatalyst(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (s: String, StringType) => UTF8String.fromString(s)
    case (b: Array[Byte], BinaryType) => b
    case (x: java.lang.Long, LongType) => x.longValue()
    case (x: java.lang.Integer, IntegerType) => x.intValue()
    case (x: java.lang.Short, ShortType) => x.shortValue()
    case (x: java.lang.Byte, ByteType) => x.byteValue()
    case (x: java.lang.Double, DoubleType) => x.doubleValue()
    case (x: java.lang.Float, FloatType) => x.floatValue()
    case (x: java.lang.Boolean, BooleanType) => x.booleanValue()
    case (d: java.math.BigDecimal, t: DecimalType) =>
      Decimal(scala.math.BigDecimal(d), t.precision, t.scale)
    case (d: java.sql.Date, DateType) => d.toLocalDate.toEpochDay.toInt
    // epoch micros: whole seconds from getTime (floor), sub-second
    // entirely from getNanos (getTime's millis would double-count it)
    case (t: java.sql.Timestamp, TimestampType) =>
      math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L) +
        t.getNanos / 1000L
    // DATETIME/DATETIME2 decode as LocalDateTime and coerce passes them
    // through for NTZ fields; internal form = micros from the epoch of
    // the WALL-CLOCK value (zone-less by definition)
    case (dt2: java.time.LocalDateTime, TimestampNTZType) =>
      math.multiplyExact(
        dt2.toEpochSecond(java.time.ZoneOffset.UTC), 1000000L) +
        dt2.getNano / 1000L
    case _ => throw new IllegalStateException(
      s"no catalyst conversion for ${v.getClass.getName} as $dt")
  }
}
