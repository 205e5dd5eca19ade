package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins for transient-sink-failure recovery: the restart replays exactly
  * the failed batch (committed batches never re-execute), and the
  * partial write the dying sink left behind is erased by the replay's
  * wholesale overwrite — the landed multiset equals the input exactly. */
class SinkRetrySpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("restart replays only the failed batch; partial state erased; " +
      "no row lost or duplicated") {
    val srcDir = Files.createTempDirectory("graft_rtys_src").toString
    val storeDir = Files.createTempDirectory("graft_rtys_store").toString
    val ckp = Files.createTempDirectory("graft_rtys_ckp").toString
    val all = (1L to 7L).map(i => (i, s"v$i")).toDF("id", "v")
    val stage = graft.queries.StreamGate.stageReplayFile(srcDir) _
    val base = 1600000000000L
    stage(all.filter($"id" <= 2), "b0.parquet", base)
    stage(all.filter($"id" > 2 && $"id" <= 5), "b1.parquet", base + 600000L)
    stage(all.filter($"id" > 5), "b2.parquet", base + 1200000L)
    val stream = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val attempts = SinkRetry.runWithTransientFailure(stream, storeDir, ckp)
    assert(attempts == 2, "the injected fault must force one retry")
    // exactly-once execution: batch 0 only on attempt 1 (its commit is
    // honored by the restart), batch 1 on both (failed then replayed),
    // batch 2 only on attempt 2
    val trace = SinkRetry.trace.get(storeDir)
    assert(trace != null)
    import scala.jdk.CollectionConverters._
    assert(trace.asScala.toList ==
      List((1, 0L), (1, 1L), (2, 1L), (2, 2L)), trace.asScala.toList)
    // the partial one-row write is gone; nothing lost, nothing doubled
    val landed = SinkRetry.landed(spark, storeDir)
      .as[(Long, String)].collect().sorted.toList
    assert(landed == (1L to 7L).map(i => (i, s"v$i")).toList)
  }
}
