package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the t16 streaming sessionization core on crafted cross-batch
  * data: a session whose events arrive in DIFFERENT micro-batches must
  * be emitted once, complete, when the watermark evicts it — and a
  * session still open at the first flush must wait for the eviction
  * batch, not emit early/partial. */
class StreamSessionSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("a session spanning two micro-batches is emitted once, complete, by watermark eviction") {
    val src = java.nio.file.Files.createTempDirectory("tss_src").toString
    def stage(rows: Seq[(Long, Long)], name: String, mtime: Long): Unit =
      graft.queries.StreamGate.stageReplayFile(src)(
        rows.toDF("user_id", "us")
          .select($"user_id", timestamp_micros($"us").as("ts_ev")),
        name, mtime)
    val min = 60000000L // 1 minute in µs
    val base = 1600000000000L
    // user 1: events at t=0 and t=20min — SAME session (gap < 30min),
    // split across batches b0/b1; plus an isolated later session at
    // t=5h. user 2: one event per batch, 10min apart — one session.
    stage(Seq((1L, 0L), (2L, 10 * min)), "b0.parquet", base)
    stage(Seq((1L, 20 * min), (2L, 20 * min)), "b1.parquet", base + 600000L)
    stage(Seq((1L, 300 * min)), "b2.parquet", base + 1200000L)
    stage(Seq((-1L, 3000 * min)), "b3.parquet", base + 1800000L)
    stage(Seq((-1L, 6000 * min)), "b4.parquet", base + 2400000L)
    val out = graft.queries.PipelineOps.runStreamSessionized(spark, src)
      .as[(Long, Long, Long, Long)].collect().toSeq
      .sortBy(r => (r._1, r._2))
    assert(out == Seq(
      (1L, 0L, 20 * min, 2L),          // cross-batch merge: ONE session
      (1L, 300 * min, 300 * min, 1L),  // isolated later session
      (2L, 10 * min, 20 * min, 2L)))   // cross-batch merge for user 2
  }
}
