package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Transient-sink-failure recovery — the reference's documented gap
  * ("No retry on insert failure: failed ClickHouse inserts are not
  * retried", `README.md:588`) closed with the Structured-Streaming
  * contract: a sink failure kills the query AFTER the offsets log
  * recorded the batch but BEFORE its commit, so a restart from the same
  * checkpoint replays exactly the failed batch — committed batches are
  * never re-executed. The injected fault is the worst case: the sink
  * wrote PART of the batch before dying (the partial-insert state a
  * crashed HTTP insert leaves behind). Recovery needs no dedup pass
  * because the sink is idempotent by construction — each batch owns its
  * output directory and a replay overwrites it wholesale, the same
  * per-batch-ownership idea as [[StreamCollapse]]'s versioned snapshots.
  *
  * At 100 TB the properties that matter: retry cost is ONE batch (not a
  * re-sync), partial state is unreadable by design (overwritten, never
  * merged), and the decision needs no coordination — the checkpoint IS
  * the retry queue. */
object SinkRetry {

  /** One injected fault per store (driver-side state is correct here:
    * foreachBatch bodies run on the driver). */
  private val fired =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]())

  /** (attempt, batchId) execution trace, for the spec's exactly-once
    * assertions. */
  private[streaming] val trace =
    new java.util.concurrent.ConcurrentHashMap[String,
      ConcurrentLinkedQueue[(Int, Long)]]()

  /** Drain `stream` into per-batch directories under `storeDir`,
    * injecting one partial-write-then-die failure at `failAtBatch` on the
    * first attempt, then restarting once from the same checkpoint.
    * Returns the number of attempts taken (2 when the fault fired). */
  def runWithTransientFailure(
      stream: DataFrame, storeDir: String, checkpointDir: String,
      failAtBatch: Long = 1L): Int = {
    val t = trace.computeIfAbsent(storeDir,
      _ => new ConcurrentLinkedQueue[(Int, Long)]())
    def start(attempt: Int): Unit = {
      BoundedStream.drain(stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          t.add((attempt, batchId))
          if (batchId == failAtBatch && fired.add(storeDir)) {
            // the partial insert a dying sink leaves behind…
            batch.limit(1).write.mode("overwrite")
              .parquet(BatchDirs.dir(storeDir, batchId))
            sys.error(s"injected transient sink failure at batch $batchId")
          }
          // …is overwritten wholesale on replay: per-batch ownership
          batch.write.mode("overwrite")
            .parquet(BatchDirs.dir(storeDir, batchId))
          ()
        }, checkpointDir)
    }
    try { start(1); 1 }
    catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException =>
        start(2); 2
    }
  }

  /** All landed rows: the union of the per-batch directories, listed
    * through [[BatchDirs]] (local, HDFS or object store). */
  def landed(s: SparkSession, storeDir: String): DataFrame =
    BatchDirs.read(s, storeDir).getOrElse(
      sys.error(s"no batches landed under $storeDir"))
}
