package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import graft.sources.BinlogFixture
import graft.sources.BinlogFixture.Change
import graft.sources.BinlogFormat.{ColumnDef, GtidEvent, TypeDouble, TypeLongLong, TypeVarchar, XidEvent}

/** Seeded change generator for the `bench.accounts` table: BIGINT id,
  * VARCHAR(40) name, DOUBLE bal (the row shape of `graft.BenchSocket`).
  *
  * Keys `1..keys` start live; key 0 is the reserved clock row. Every
  * transaction first updates the clock row's `bal` to the transaction's
  * ordinal (1, 2, …), then changes `rowsPerTxn - 1` skewed keys: a live
  * key is updated (95 %) or deleted (5 %), a deleted key is inserted
  * again. The generator keeps the source's state as the model the
  * replica must equal. The same seed gives the same changes. */
final class CdcGen(seed: Long, val keys: Int) {
  private val rng = new java.util.SplittableRandom(seed)
  private val names = new Array[String](keys + 1)
  private val bals = new Array[Double](keys + 1)
  private val live = Array.fill(keys + 1)(true)
  private var ordinal = 0L

  names(0) = "clock"
  bals(0) = 0.0
  (1 to keys).foreach { k => names(k) = freshName(k); bals(k) = freshBal() }

  private def freshName(k: Int): String =
    f"acct-$k%08d-${rng.nextInt(1 << 30)}%010d" // 24 chars ≤ VARCHAR(40)

  private def freshBal(): Double = rng.nextInt(100000000) / 100.0

  private def row(k: Int): IndexedSeq[Any] =
    IndexedSeq[Any](k.toLong, names(k), bals(k))

  /** Skewed key choice: density grows toward low ids (u³ mapping). */
  private def pickKey(): Int = {
    val u = rng.nextDouble()
    1 + math.min(keys - 1, (keys * u * u * u).toInt)
  }

  /** The initial source table, as the snapshot the replica starts from. */
  def snapshotRows: Seq[(Long, String, Double)] =
    (0 to keys).map(k => (k.toLong, names(k), bals(k)))

  /** The next transaction's changes, applied to the model. */
  def nextTxn(rowsPerTxn: Int): Seq[Change] = {
    ordinal += 1
    val b = Seq.newBuilder[Change]
    val before0 = row(0)
    bals(0) = ordinal.toDouble
    b += Change.update(before0, row(0))
    var i = 1
    while (i < rowsPerTxn) {
      val k = pickKey()
      if (!live(k)) {
        names(k) = freshName(k); bals(k) = freshBal(); live(k) = true
        b += Change.insert(row(k))
      } else if (rng.nextInt(100) < 5) {
        b += Change.delete(row(k))
        live(k) = false
      } else {
        val before = row(k)
        bals(k) = freshBal()
        if (rng.nextInt(4) == 0) names(k) = freshName(k)
        b += Change.update(before, row(k))
      }
      i += 1
    }
    b.result()
  }

  /** The source's current rows (clock row included). */
  def modelRows: Seq[(Long, String, Double)] =
    (0 to keys).filter(live(_)).map(k => (k.toLong, names(k), bals(k)))
}

object CdcGen {
  val Db = "bench"
  val Table = "accounts"
  val File = "graft-bin.000001"
  val Cols: IndexedSeq[ColumnDef] = IndexedSeq(
    ColumnDef(TypeLongLong, 0), ColumnDef(TypeVarchar, 40),
    ColumnDef(TypeDouble, 8))
  val RowDdl = "id BIGINT, name STRING, bal DOUBLE"

  /** The binlog file holding `txns`, GTID-mode, checksummed. */
  def encode(txns: Seq[Seq[Change]]): Array[Byte] =
    BinlogFixture.encode(Db, Table, Cols, txns, gtidFrom = Some(1L))

  /** Byte offsets at which a reader of `log` has seen 0, 1, 2, …
    * committed transactions: the end of the file header events, then the
    * end of each XID event. Growing a fixture's visible log to the k-th
    * boundary commits exactly the first k transactions. */
  def commitBoundaries(log: Array[Byte]): IndexedSeq[Int] = {
    val bb = ByteBuffer.wrap(log).order(ByteOrder.LITTLE_ENDIAN)
    val out = IndexedSeq.newBuilder[Int]
    var off = 4
    var first = -1
    while (off + 19 <= log.length) {
      val tpe = log(off + 4) & 0xff
      val size = bb.getInt(off + 9)
      // a GTID event opens the first transaction: the header ends there
      if (first < 0 && tpe == GtidEvent) { first = off; out += off }
      off += size
      if (tpe == XidEvent) out += off
    }
    require(off == log.length, s"binlog walk ended at $off of ${log.length}")
    if (first < 0) out += log.length
    out.result()
  }
}
