package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the composite-typed-state processor (MapState + ListState on one
  * transformWithState handle): map point-updates and list appends carry
  * ACROSS micro-batches, only touched keys emit per batch, and the final
  * emission is the full profile. */
class TypedStateProfileSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("map counts and list log accumulate across batches; untouched keys stay silent") {
    val src = java.nio.file.Files.createTempDirectory("tsp_src").toString
    val out = java.nio.file.Files.createTempDirectory("tsp_out").toString
    val ckp = java.nio.file.Files.createTempDirectory("tsp_ckp").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1600000000000L
      def stage(rows: Seq[(Long, String, Long)], name: String, off: Long): Unit =
        graft.queries.StreamGate.stageReplayFile(src)(
          rows.toDF("user_id", "event_type", "cents"), name, base + off)
      stage(Seq((1L, "click", 10L), (1L, "click", 5L)), "b0.parquet", 0L)
      stage(Seq((1L, "view", 7L), (2L, "error", 100L)), "b1.parquet", 60000L)
      stage(Seq((1L, "click", 1L)), "b2.parquet", 120000L)

      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = TypedStateProfile.profileStream(stream).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val landed = spark.read.parquet(out)
        .select(col("user_id"), col("n_click"), col("n_view"), col("n_error"),
          col("n_total"), col("n_cents"), col("total_cents"))
        .as[(Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq.sortBy(r => (r._1, r._5))
      // user 1 emits three times (touched every batch), each emission the
      // RUNNING profile: the map kept per-type counts, the list kept the
      // full cents log — both continued, not reset, across batches
      assert(landed == Seq(
        (1L, 2L, 0L, 0L, 2L, 2L, 15L),
        (1L, 2L, 1L, 0L, 3L, 3L, 22L),
        (1L, 3L, 1L, 0L, 4L, 4L, 23L),
        (2L, 0L, 0L, 1L, 1L, 1L, 100L)),
        "user 2 must appear exactly once — untouched keys are not re-emitted")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }

  test("an UNRECOGNIZED event type still counts toward n_total (and keeps " +
      "n_total ≡ n_cents) — r12 review finding") {
    val src = java.nio.file.Files.createTempDirectory("tsp2_src").toString
    val out = java.nio.file.Files.createTempDirectory("tsp2_out").toString
    val ckp = java.nio.file.Files.createTempDirectory("tsp2_ckp").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      graft.queries.StreamGate.stageReplayFile(src)(
        Seq((9L, "click", 10L), (9L, "refund", 25L), (9L, "refund", 5L))
          .toDF("user_id", "event_type", "cents"),
        "b0.parquet", 1600000000000L)
      val schema = spark.read.parquet(src).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = TypedStateProfile.profileStream(stream).toDF()
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val p = spark.read.parquet(out)
        .select(col("n_click"), col("n_total"), col("n_cents"),
          col("total_cents"))
        .as[(Long, Long, Long, Long)].head()
      // 1 click + 2 refunds: the projected column sees only the click,
      // the all-type total sees all three — consistent with the log
      assert(p == ((1L, 3L, 3L, 40L)),
        s"unknown type dropped from n_total: $p")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }
}
