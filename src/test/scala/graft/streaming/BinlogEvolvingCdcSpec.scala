package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import graft.TestSpark
import graft.sources.{BinlogFixture, BinlogFormat}
import BinlogFormat.ColumnDef
import BinlogFixture.Change

/** Pins the WIRE-layer schema evolution (t39): a mid-log ALTER arrives
  * as a second TABLE_MAP with appended columns, ingestion widens and
  * keeps draining the SAME query, and — the path the gate's real replay
  * cannot force — a key whose last change pre-dates the ALTER reads
  * back with the added columns NULL. Incompatible redefinitions (type
  * change, rename) must fail the stream loudly. */
class BinlogEvolvingCdcSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark

  private val narrowCols = IndexedSeq(
    ColumnDef(BinlogFormat.TypeLongLong, 0),
    ColumnDef(BinlogFormat.TypeVarchar, 40))
  private val wideCols = narrowCols :+ ColumnDef(BinlogFormat.TypeDouble, 8)
  private val narrowNames = IndexedSeq("id", "a")
  private val wideNames = narrowNames :+ "b"

  private def stage(landing: String, file2Cols: IndexedSeq[ColumnDef],
                    file2Names: IndexedSeq[String],
                    file2Rows: Seq[IndexedSeq[Any]]): Unit = {
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "evo-bin.000001"),
      BinlogFixture.encode("d", "t", narrowCols,
        txns = Seq(Seq(Change.insert(IndexedSeq(1L, "one")),
          Change.insert(IndexedSeq(2L, "two")))),
        rotateTo = Some("evo-bin.000002"), gtidFrom = Some(1L),
        colNames = narrowNames))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "evo-bin.000002"),
      BinlogFixture.encode("d", "t", file2Cols,
        txns = Seq(file2Rows.map(Change.insert)), gtidFrom = Some(2L),
        colNames = file2Names))
    ()
  }

  test("a mid-log ADD COLUMN widens without restart; pre-ALTER rows " +
      "backfill NULL") {
    val landing = graft.GateCache.tempDir("graft_bevo_src").toString
    val tgt = graft.GateCache.tempDir("graft_bevo_tgt").toString
    val ckp = graft.GateCache.tempDir("graft_bevo_ckp").toString
    // file 2 re-inserts key 2 with the new column; key 1 stays pre-ALTER
    stage(landing, wideCols, wideNames,
      Seq(IndexedSeq(2L, "two'", 2.5)))
    val evolved = BinlogEvolvingCdc.run(spark, landing, tgt, ckp, "t")
    assert(evolved.fieldNames.toSeq == Seq("id", "a", "b"))
    val live = graft.operators.LiveView.live(
      BinlogEvolvingCdc.landed(spark, tgt),
      pks = Seq("id"))
    val rows = live.select(col("id"), col("a"), col("b"))
      .orderBy("id").collect()
    assert(rows.length == 2)
    // key 1's survivor pre-dates the ALTER: b is the NULL backfill
    assert(rows(0).getLong(0) == 1L && rows(0).getString(1) == "one" &&
      rows(0).isNullAt(2))
    assert(rows(1).getLong(0) == 2L && rows(1).getString(1) == "two'" &&
      rows(1).getDouble(2) == 2.5)
  }

  test("an incompatible redefinition (type change) fails the stream loudly") {
    val landing = graft.GateCache.tempDir("graft_bevo_bad_src").toString
    val tgt = graft.GateCache.tempDir("graft_bevo_bad_tgt").toString
    val ckp = graft.GateCache.tempDir("graft_bevo_bad_ckp").toString
    // file 2 changes column a's type: VARCHAR -> DOUBLE
    stage(landing,
      IndexedSeq(narrowCols.head, ColumnDef(BinlogFormat.TypeDouble, 8)),
      narrowNames, Seq(IndexedSeq(2L, 2.5)))
    val e = intercept[StreamingQueryException](
      BinlogEvolvingCdc.run(spark, landing, tgt, ckp, "t"))
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(e).exists(_.getMessage != null) &&
      causes(e).exists(c => Option(c.getMessage).exists(
        _.contains("redefines"))))
  }
}
