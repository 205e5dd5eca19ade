package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BinlogFormat._
import graft.sources.BinlogFixture.{Absent, Change, Partial, TableDef}

/** Pins [[BinlogFixture]]'s output bytes: every shape the encoder can
  * write, hashed with SHA-256 and compared against pinned digests. The
  * golden vectors in [[BinlogFormatSpec]] anchor the decoder; these
  * anchor the encoder, so a change to the frame writer
  * ([[BinlogFormat.frame]]) or a body encoder cannot silently shift a
  * byte that every wire gate's fixture (and the benchmark's generated
  * log) depends on. A deliberate format change updates the digests. */
class BinlogFixtureBytesSpec extends AnyFunSuite {

  private val cols = IndexedSeq(ColumnDef(TypeLongLong, 0),
    ColumnDef(TypeVarchar, 20), ColumnDef(TypeDouble, 8),
    ColumnDef(TypeBlob, 2))

  private def row(k: Long): IndexedSeq[Any] =
    IndexedSeq[Any](k, s"name-$k", k * 1.5, s"blob-$k")

  private val txns: Seq[Seq[Change]] = Seq(
    Seq(Change.insert(row(1)), Change.insert(row(2)), Change.insert(row(3))),
    Seq(Change.update(row(2), row(2).updated(2, 9.25)), Change.delete(row(3))),
    Seq(Change.insert(row(4)), Change.update(row(1), row(1).updated(1, "x"))))

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** shape name → encoder output. */
  private def shapes: Seq[(String, Array[Byte])] = {
    val jsonCols = IndexedSeq(ColumnDef(TypeLongLong, 0), ColumnDef(TypeJson, 4))
    import JsonBinary._
    val doc = JObj(IndexedSeq("id" -> JInt(9),
      "tags" -> JArr(IndexedSeq(JStr("a"))), "score" -> JInt(5)))
    val gen = {
      // the benchmark generator's file: bench.accounts, BIGINT /
      // VARCHAR(40) / DOUBLE, GTID mode, checksummed, a clock-row update
      // leading every transaction
      val acc = IndexedSeq(ColumnDef(TypeLongLong, 0),
        ColumnDef(TypeVarchar, 40), ColumnDef(TypeDouble, 8))
      def a(k: Long, b: Double): IndexedSeq[Any] =
        IndexedSeq[Any](k, f"acct-$k%08d", b)
      val t = (1 to 5).map { i =>
        Seq(Change.update(a(0, i - 1.0), a(0, i.toDouble)),
          Change.update(a(i.toLong, 10.0), a(i.toLong, 20.5)),
          Change.insert(a(100L + i, 1.0)), Change.delete(a(50L + i, 3.0)))
      }
      BinlogFixture.encode("bench", "accounts", acc, t, gtidFrom = Some(1L))
    }
    Seq(
      "checksum on" -> BinlogFixture.encode("d", "t", cols, txns),
      "checksum off" -> BinlogFixture.encode("d", "t", cols, txns,
        checksum = false),
      "gtid stamped" -> BinlogFixture.encode("d", "t", cols, txns,
        gtidFrom = Some(7L)),
      "gtid empty previous set" -> BinlogFixture.encode("d", "t", cols, txns,
        gtidFrom = Some(1L), checksum = false),
      "compressed txns" -> BinlogFixture.encode("d", "t", cols, txns,
        gtidFrom = Some(1L), compressTxns = true),
      "compressed txns, checksum off" -> BinlogFixture.encode("d", "t", cols,
        txns, compressTxns = true, checksum = false),
      "rotate" -> BinlogFixture.encode("d", "t", cols, txns,
        rotateTo = Some("mysql-bin.000002")),
      "uncommitted tail" -> BinlogFixture.encode("d", "t", cols, txns,
        uncommittedTail = Seq(Change.insert(row(99)))),
      "minimal image" -> BinlogFixture.encode("d", "t", cols, Seq(Seq(
        Change.insert(row(1)),
        Change.update(IndexedSeq(1L, Absent, Absent, Absent),
          IndexedSeq(1L, Absent, 2.0, Absent)),
        Change.delete(IndexedSeq(1L, Absent, Absent, Absent))))),
      "partial json" -> BinlogFixture.encode("d", "t", jsonCols, Seq(Seq(
        Change.insert(IndexedSeq(9L, doc)),
        Change.partialUpdate(IndexedSeq(9L, doc), IndexedSeq(9L, Partial(Seq(
          Diff(DiffReplace, "$.score", Some(JInt(55))),
          Diff(DiffInsert, "$.tags[1]", Some(JStr("b")))))))))),
      "rows per event 1, server id 7" -> BinlogFixture.encode("d", "t", cols,
        txns, rowsPerEvent = 1, serverId = 7, tableId = 42L,
        colNames = IndexedSeq("id", "name", "bal", "note")),
      "multi table" -> BinlogFixture.encodeMulti(
        Seq(TableDef("d", "a", 1L, cols), TableDef("d", "b", 2L, cols)),
        txns.zipWithIndex.map { case (t, i) =>
          t.map(c => (if (i % 2 == 0) "a" else "b") -> c) :+
            ("a" -> Change.insert(row(10L + i)))
        }, gtidFrom = Some(3L), rotateTo = Some("x.000009")),
      "generator encode" -> gen)
  }

  private val pinned: Map[String, String] = Map(
    "checksum on" -> "8700019cc4201cedff25e232c4d56154f98ffacccf9063be779957cbecd7704c",
    "checksum off" -> "230d6fca36e887c7147fceedc8bb06aed3c23cf159df67d6f09915812d740dd6",
    "gtid stamped" -> "776af0a2fb71f74c33be38bdd772611041b0015cfe8a70960d3f9a3bb37aa8a9",
    "gtid empty previous set" -> "5915d3b1e428d8601f6d0b50182f399c9239e998b5d4b9ff3a04ca132ffdc4b2",
    "compressed txns" -> "5a4ecc0335ea9fe0a07ea774b84354c9f05a5cfd54d08f1334188c2b9bc156e3",
    "compressed txns, checksum off" -> "b7d378e89f8e261faf1ccc96d1ac85cf36e8fd874edfc82b8dbab8d9f67aaeea",
    "rotate" -> "dc49368c1140af4de04e04d626b8d2ebafc4222247d7715be7628bb8df1479e2",
    "uncommitted tail" -> "f2fbfb7338a10411ddf1113b335989095f22a6d626d52136c511e52f0b1eea65",
    "minimal image" -> "0c36ea413083de2f60e4ac9054e4bc8645aa2f0272aaf829a01441a9c0fc8d3f",
    "partial json" -> "f3035f60f312695e97946a0e6e6eaee5adb67c45241e37fb2c03e316a4c2c7ca",
    "rows per event 1, server id 7" -> "0204e24b0e01f4da9f0774b1ae84c3a6c65b2100ac07d6e440ac4b081d9b8a20",
    "multi table" -> "c2c4fac4e490d1f9284fa3719bec910a1f54a3c6db52addac8a2ce31c1a511e6",
    "generator encode" -> "8b7234184ef70544b68908bb6beeb62a43f3b3320fe80fb5eef3310d9ec78c7c")

  test("encoder bytes: SHA-256 per shape equals the pinned digests") {
    val got = shapes.map { case (n, b) => n -> sha(b) }
    val changed = got.collect {
      case (n, d) if !pinned.get(n).contains(d) => s"$n: $d"
    }
    assert(changed.isEmpty, changed.mkString("changed digests: ", "; ", ""))
    assert(got.map(_._1).toSet == pinned.keySet)
  }
}
