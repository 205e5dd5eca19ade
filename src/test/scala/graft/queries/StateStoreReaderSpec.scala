package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Pins the `statestore` batch source behind the t17 gate: the
  * checkpoint of a streaming aggregation, opened WITHOUT replaying the
  * stream, exposes per-key aggregation buffers — and the `batchId`
  * option time-travels the state to any committed micro-batch, the
  * debugging move that matters when a production total went wrong at a
  * known point in the run. */
class StateStoreReaderSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("statestore reads per-batch state snapshots: final equals batch agg, batchId=0 equals the first batch alone") {
    val src = java.nio.file.Files.createTempDirectory("ssr_src").toString
    val ckp = java.nio.file.Files.createTempDirectory("ssr_ckp").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      val base = 1600000000000L
      val b0 = Seq((1L, 10L), (1L, 5L), (2L, 7L))
      val b1 = Seq((1L, 100L), (3L, 1L))
      StreamGate.stageReplayFile(src)(
        b0.toDF("user_id", "cents"), "b0.parquet", base)
      StreamGate.stageReplayFile(src)(
        b1.toDF("user_id", "cents"), "b1.parquet", base + 60000L)
      val schema = spark.read.parquet(src).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        .writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      def state(opts: Map[String, String]): Seq[(Long, Long, Long)] = {
        val r = opts.foldLeft(spark.read.format("statestore"))(
          (b, kv) => b.option(kv._1, kv._2))
        r.load(ckp)
          .select(col("key.user_id"), col("value.count"), col("value.sum"))
          .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      }
      // final state = the full batch aggregate over both replay files
      assert(state(Map.empty) ==
        Seq((1L, 3L, 115L), (2L, 1L, 7L), (3L, 1L, 1L)))
      // time-travel: batch 0's committed state knows nothing of b1
      assert(state(Map("batchId" -> "0")) ==
        Seq((1L, 2L, 15L), (2L, 1L, 7L)))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  test("statestore reads transformWithState typed vars: value, flattened " +
      "map, flattened list — final and batch-0 snapshots") {
    // the t21 gate's read path on crafted batches: every typed-state
    // encoding recovered from the RocksDB checkpoint matches the
    // straight-line expectation, WITHOUT consulting the emissions
    val src = java.nio.file.Files.createTempDirectory("tsr_src").toString
    val ckp = java.nio.file.Files.createTempDirectory("tsr_ckp").toString
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = 1600000000000L
      val b0 = Seq((1L, "click", 10L), (1L, "view", 5L), (2L, "click", 7L))
      val b1 = Seq((1L, "click", 100L), (3L, "signup", 1L))
      StreamGate.stageReplayFile(src)(
        b0.toDF("user_id", "event_type", "cents"), "b0.parquet", base)
      StreamGate.stageReplayFile(src)(
        b1.toDF("user_id", "event_type", "cents"), "b1.parquet", base + 60000L)
      val schema = spark.read.parquet(src).schema
      val q = graft.streaming.TypedStateProfile.profileStream(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))
        .toDF().writeStream.outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.write.format("noop").mode("overwrite").save()
        }
        .option("checkpointLocation", ckp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // provenance: the operator and its declared typed vars
      val md = spark.read.format("state-metadata").load(ckp).collect()
      assert(md.length == 1 &&
        md(0).getAs[String]("operatorName") == "transformWithStateExec")
      val props = md(0).getAs[String]("operatorProperties")
      assert(props.contains("\"stateName\":\"byType\"") &&
        props.contains("\"stateName\":\"centsLog\""))
      def readVar(name: String, opts: Map[String, String] = Map.empty) =
        opts.foldLeft(
          spark.read.format("statestore").option("stateVarName", name))(
          (b, kv) => b.option(kv._1, kv._2)).load(ckp)
      // map entries, flattened: (grouping key, map key, map value)
      val mapRows = readVar("byType")
        .select(col("key.value"), col("user_map_key.value"),
          col("user_map_value.value"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(mapRows == Seq((1L, "click", 2L), (1L, "view", 1L),
        (2L, "click", 1L), (3L, "signup", 1L)))
      // list elements, flattened: one row per appended value
      val listRows = readVar("centsLog")
        .select(col("key.value"), col("list_element.value"))
        .as[(Long, Long)].collect().sorted.toSeq
      assert(listRows == Seq((1L, 5L), (1L, 10L), (1L, 100L),
        (2L, 7L), (3L, 1L)))
      // time-travel: batch 0's state knows nothing of b1
      val mapB0 = readVar("byType", Map("batchId" -> "0"))
        .select(col("key.value"), col("user_map_key.value"),
          col("user_map_value.value"))
        .as[(Long, String, Long)].collect().sorted.toSeq
      assert(mapB0 == Seq((1L, "click", 1L), (1L, "view", 1L),
        (2L, "click", 1L)))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
    }
  }
}
