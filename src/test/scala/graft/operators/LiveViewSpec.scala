package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

/** Behavioral fixture from FIXTURES.md §6: I/U/D stream on `users`;
  * live view = latest per key, tombstones removed, meta dropped.
  * Duplicate `_version` tie-break per SURVEY.md §7.4. */
class LiveViewSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (id, email, op, version, seq)
  private def mk(rows: Seq[(Int, String, String, Long, Long)]) =
    rows.toDF("id", "email", "op", VersionCol, SeqCol)
      .withColumn(DeletedCol, when($"op" === "D", 1).otherwise(0))
      .drop("op")

  test("I→U→D: tombstoned key absent from live view (FIXTURES.md §6)") {
    val df = mk(Seq(
      (1, "a@x.com", "I", 1L, 1L),
      (1, "a2@x.com", "U", 2L, 2L),
      (1, "a2@x.com", "D", 3L, 3L),
      (2, "b@x.com", "I", 1L, 4L)))
    val live = LiveView.live(df, Seq("id"))
    assert(live.columns.toSeq == Seq("id", "email"))
    val rows = live.collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSet == Set((2, "b@x.com")))
  }

  test("update after delete resurrects the key") {
    val df = mk(Seq(
      (1, "a@x.com", "I", 1L, 1L),
      (1, "a@x.com", "D", 2L, 2L),
      (1, "back@x.com", "U", 3L, 3L)))
    val rows = LiveView.live(df, Seq("id")).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("back@x.com"))
  }

  test("duplicate _version resolved deterministically by ingest seq") {
    // reference stamps one version per batch (src/cdc_replicator.py:160) —
    // two updates in one batch share a version; highest seq must win.
    val df = mk(Seq(
      (1, "first@x.com", "I", 5L, 10L),
      (1, "second@x.com", "U", 5L, 11L)))
    val rows = LiveView.live(df, Seq("id")).collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("second@x.com"))
  }

  test("exactly one survivor per key, even with exact duplicate rows") {
    // at-least-once replay: identical row delivered twice (README.md:480-497)
    val df = mk(Seq(
      (1, "a@x.com", "I", 1L, 1L),
      (1, "a@x.com", "I", 1L, 1L),
      (2, "b@x.com", "I", 1L, 2L)))
    assert(LiveView.live(df, Seq("id")).count() == 2)
  }

  test("window form and max_by agg form agree on the events table") {
    val stamped = graft.queries.ReferenceOps.stamped(spark, TestSpark.Sf0001)
      .select("user_id", "event_type", "value", VersionCol, SeqCol, DeletedCol)
    // a frame without _ingest_seq orders by _version alone: the event id
    // becomes the version so that order is still total
    val versionOnly = stamped.withColumn(VersionCol, col(SeqCol)).drop(SeqCol)
    for (df <- Seq(stamped, versionOnly)) {
      val viaWindow = LiveView.dedupLatest(df, Seq("user_id"))
      val viaAgg = LiveView.dedupLatestAgg(df, Seq("user_id"))
      assert(viaWindow.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaWindow).isEmpty)
    }
  }

  test("composite key dedup partitions on all key columns") {
    val df = Seq(
      (1, 10, "x", 1L, 1L), (1, 10, "y", 2L, 2L),
      (1, 11, "z", 1L, 3L))
      .toDF("order_id", "product_id", "payload", VersionCol, SeqCol)
      .withColumn(DeletedCol, lit(0))
    val live = LiveView.live(df, Seq("order_id", "product_id"))
    assert(live.count() == 2)
    assert(live.filter($"product_id" === 10).select("payload")
      .head().getString(0) == "y")
  }
}
