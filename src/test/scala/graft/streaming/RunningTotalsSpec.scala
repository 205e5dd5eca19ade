package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the transformWithState running-totals processor: state carries
  * ACROSS micro-batches (an update in batch 3 continues batch 1's
  * totals), emissions are per-touched-key per-batch, and the final
  * emission equals the batch aggregate. */
class RunningTotalsSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def drain(src: String, out: String, ckp: String): Unit = {
    val schema = spark.read.parquet(src).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val q = RunningTotals.totalsStream(stream)
      .toDF("user_id", "n_events", "total_cents")
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def stageTo(src: String)(rows: Seq[(Long, Long)], name: String,
                                   mtime: Long): Unit =
    graft.queries.StreamGate.stageReplayFile(src)(
      rows.toDF("user_id", "cents"), name, mtime)

  test("state survives a query RESTART from the checkpoint: a new query instance continues the totals") {
    val src = java.nio.file.Files.createTempDirectory("rtr_src").toString
    val out = java.nio.file.Files.createTempDirectory("rtr_out").toString
    val ckp = java.nio.file.Files.createTempDirectory("rtr_ckp").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1600000000000L
      stageTo(src)(Seq((5L, 100L), (5L, 20L)), "b0.parquet", base)
      drain(src, out, ckp) // first query instance: sees b0, stops (drained)
      stageTo(src)(Seq((5L, 1L)), "b1.parquet", base + 600000L)
      drain(src, out, ckp) // NEW query instance, same checkpoint
      val landed = spark.read.parquet(out)
        .as[(Long, Long, Long)].collect().toSeq.sortBy(_._2)
      // the restarted query recovered (2, 120) from RocksDB via the
      // checkpoint and continued — not restarted from zero
      assert(landed == Seq((5L, 2L, 120L), (5L, 3L, 121L)))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("state accumulates across micro-batches; last emission per key is the batch aggregate") {
    val src = java.nio.file.Files.createTempDirectory("rt_src").toString
    val out = java.nio.file.Files.createTempDirectory("rt_out").toString
    val ckp = java.nio.file.Files.createTempDirectory("rt_ckp").toString
    // three staged files = three micro-batches; user 1 appears in all
    // three, user 2 only in the first — forced modtimes fix replay order
    val base = 1600000000000L
    stageTo(src)(Seq((1L, 100L), (1L, 50L), (2L, 10L)), "b0.parquet", base)
    stageTo(src)(Seq((1L, 7L)), "b1.parquet", base + 600000L)
    stageTo(src)(Seq((1L, 3L)), "b2.parquet", base + 1200000L)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      drain(src, out, ckp)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
    val landed = spark.read.parquet(out)
      .as[(Long, Long, Long)].collect().toSeq
    // user 1: one emission per batch, totals growing 150 → 157 → 160 —
    // batch 2/3's emissions CONTINUE batch 1's state
    assert(landed.filter(_._1 == 1L).sortBy(_._2) ==
      Seq((1L, 2L, 150L), (1L, 3L, 157L), (1L, 4L, 160L)))
    // user 2: untouched after batch 1 — exactly one emission (update
    // semantics emit touched keys only, not the whole state)
    assert(landed.filter(_._1 == 2L) == Seq((2L, 1L, 10L)))
  }
}
