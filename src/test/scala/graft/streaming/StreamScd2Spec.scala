package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.SchemaModel.SeqCol

/** Pins for incremental SCD2 maintenance: stream ≡ batch on a crafted
  * multi-lifecycle changelog, the append-only closed store (later batches
  * never touch earlier batches' bytes), the O(live keys) frontier bound,
  * and crash-replay idempotency (fold reads the frontier strictly below
  * its own batch id). */
class StreamScd2Spec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (user_id, event_type, value, deleted, valid_from, seq):
  //   u1 — three versions spanning all batches (two closes across folds);
  //   u2 — insert then tombstone (history keeps the delete as a closed
  //        predecessor + an open non-current tombstone);
  //   u3 — single version in the LAST batch (frontier-only row);
  //   u4 — two versions INSIDE one batch (in-batch chaining, not the
  //        frontier path); plus an equal-valid_from tie broken by seq.
  private def changes(rows: (Long, String, Double, Int, Long, Long)*) =
    rows.toDF("user_id", "event_type", "value", "deleted", "valid_from",
      SeqCol)

  private val crafted = changes(
    (1L, "signup", 1.0, 0, 10L, 1L), (1L, "click", 2.0, 0, 20L, 4L),
    (1L, "buy", 3.0, 0, 30L, 7L),
    (2L, "signup", 9.0, 0, 11L, 2L), (2L, "error", 9.0, 1, 22L, 5L),
    (3L, "signup", 5.0, 0, 31L, 8L),
    (4L, "click", 4.0, 0, 21L, 6L), (4L, "click", 6.0, 0, 21L, 9L))

  /** The batch truth: lead() over (valid_from, seq) per key. */
  private def batchScd2(df: DataFrame): DataFrame = {
    val w = Window.partitionBy($"user_id")
      .orderBy($"valid_from".asc, col(SeqCol).asc)
    df.withColumn("valid_to", lead($"valid_from", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull && $"deleted" === 0)
      .drop(SeqCol)
  }

  private def asSet(df: DataFrame) =
    df.select($"user_id", $"event_type", $"value", $"deleted",
        $"valid_from", $"valid_to", $"is_current")
      .as[(Long, String, Double, Int, Long, Option[Long], Boolean)]
      .collect().toSet

  private def splits = Seq(
    crafted.filter($"valid_from" <= 15),
    crafted.filter($"valid_from" > 15 && $"valid_from" <= 25),
    crafted.filter($"valid_from" > 25))

  test("stream folds ≡ batch lead() history; frontier is O(live keys)") {
    val store = Files.createTempDirectory("graft_scd2s").toString
    splits.zipWithIndex.foreach { case (b, i) =>
      StreamScd2.foldBatch(b, store, i.toLong)
    }
    val got = asSet(StreamScd2.history(spark, store))
    assert(got == asSet(batchScd2(crafted)))
    // sanity on the crafted shape itself: u2's tombstone is open but not
    // current; u4's same-valid_from tie closed by seq order
    assert(got.contains((2L, "error", 9.0, 1, 22L, None, false)))
    assert(got.contains((4L, "click", 4.0, 0, 21L, Some(21L), false)))
    // frontier = exactly one open row per key ever seen
    val v = BatchDirs.latest(StreamScd2.frontierDir(store)).get
    assert(spark.read.parquet(s"${StreamScd2.frontierDir(store)}/v$v")
      .count() == 4L)
  }

  test("closed store is append-only: batch 2 leaves b0/b1 bytes intact") {
    val store = Files.createTempDirectory("graft_scd2a").toString
    StreamScd2.foldBatch(splits(0), store, 0L)
    StreamScd2.foldBatch(splits(1), store, 1L)
    def fileState(b: String) =
      Option(new java.io.File(s"$store/closed/$b").listFiles())
        .getOrElse(Array.empty)
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val (s0, s1) = (fileState("b0"), fileState("b1"))
    StreamScd2.foldBatch(splits(2), store, 2L)
    assert(fileState("b0") == s0 && fileState("b1") == s1,
      "a later fold rewrote an earlier batch's closed intervals")
  }

  test("crash replay of the last batch is idempotent") {
    def drain(replayLast: Boolean) = {
      val store = Files.createTempDirectory("graft_scd2r").toString
      splits.zipWithIndex.foreach { case (b, i) =>
        StreamScd2.foldBatch(b, store, i.toLong)
      }
      if (replayLast) StreamScd2.foldBatch(splits(2), store, 2L)
      asSet(StreamScd2.history(spark, store))
    }
    assert(drain(replayLast = true) == drain(replayLast = false))
  }

  test("single-batch fold ≡ three-batch fold (version splits commute " +
      "with the fold under the monotone-arrival contract)") {
    val store1 = Files.createTempDirectory("graft_scd2one").toString
    StreamScd2.foldBatch(crafted, store1, 0L)
    assert(asSet(StreamScd2.history(spark, store1))
      == asSet(batchScd2(crafted)))
  }
}
