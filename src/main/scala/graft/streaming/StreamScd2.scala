package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental SCD2 (slowly-changing-dimension type 2) maintenance over a
  * CDC stream — the history table a warehouse keeps NEXT TO the
  * reference's latest-state live view (`x_scd2_history` is its batch
  * form; the reference itself materializes only the Replacing latest
  * state, `src/schema_converter.py:124-138`, so history is the first
  * thing its users rebuild downstream).
  *
  * The scale constraint shapes the whole design: SCD2 history is
  * O(all versions ever), so a per-batch plan may touch it O(delta) times
  * but NEVER rewrite it. Split the state in two:
  *
  *   - **closed intervals** (`closed/b<batchId>/`): rows whose
  *     `valid_to` is known. Append-only — each batch writes ONLY the
  *     intervals it closes, into its own directory, and no later batch
  *     reads or rewrites them until final assembly. A replayed batch
  *     overwrites its own directory with identical bytes.
  *   - **open frontier** (`frontier/v<batchId>/`): exactly one open
  *     interval per live key — O(live keys), the
  *     [[StreamCollapse]] snapshot protocol: each batch folds the newest
  *     snapshot STRICTLY BELOW its own id and overwrites its own, so a
  *     crash-replay is byte-idempotent on at-least-once delivery.
  *
  * Ordering contract: micro-batches must arrive in version (commit-time)
  * order — each key's versions are non-decreasing across batches. That is
  * the binlog contract the reference replicates under (events are read in
  * commit order, `src/cdc_replicator.py:99-145`); a version that arrived
  * out of order would need a closed-interval rewrite, which no
  * O(delta)-per-batch design can give (warehouses handle those as
  * late-arriving-dimension repairs — here, the o16 full re-sync). Ties
  * (equal version, distinct ingest seq) land in one batch by
  * construction of any version-range split and are ordered by seq.
  */
object StreamScd2 {

  private val Key = "user_id"
  private val Vf = "valid_from"
  private val Vt = "valid_to"

  /** One micro-batch's fold. `batch` columns: user_id, event_type, value,
    * deleted, valid_from, _ingest_seq. */
  private[graft] def foldBatch(
      batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val s = batch.sparkSession
    val seqC = graft.model.SchemaModel.SeqCol
    // in-batch chaining: each version closes at the next (vf, seq) row.
    // `chained` feeds BOTH the closed write and the frontier write (two
    // actions); persist it so the window sort, the joins and the
    // previous-frontier read run once per batch, not twice — the
    // module's own O(delta)-per-batch budget
    val w = Window.partitionBy(col(Key)).orderBy(col(Vf).asc, col(seqC).asc)
    val chained = batch.withColumn(Vt, lead(col(Vf), 1).over(w)).persist()
    val closedInBatch = chained.filter(col(Vt).isNotNull)
    val newOpen = chained.filter(col(Vt).isNull).drop(Vt)
    // previous frontier rows for keys in this batch close at the key's
    // FIRST new valid_from; untouched keys carry over unchanged
    val prevCached = BatchDirs.prior(s, frontierDir(storeDir), batchId)
      .map(_.persist())
    val (closed, frontier) = prevCached match {
      case Some(prev) =>
        val firstNew = batch.groupBy(col(Key))
          .agg(min(col(Vf)).as("_first_vf"))
        val closedFromFrontier = prev.join(firstNew, Key)
          .withColumn(Vt, col("_first_vf")).drop("_first_vf")
        val carried = prev.join(batch.select(col(Key)).distinct(),
          Seq(Key), "left_anti")
        (closedInBatch.unionByName(closedFromFrontier),
          carried.unionByName(newOpen))
      case None => (closedInBatch, newOpen)
    }
    try {
      closed.write.mode("overwrite")
        .parquet(BatchDirs.dir(closedDir(storeDir), batchId))
      frontier.write.mode("overwrite")
        .parquet(BatchDirs.dir(frontierDir(storeDir), batchId, "v"))
    } finally {
      chained.unpersist()
      prevCached.foreach(_.unpersist())
      ()
    }
  }

  /** The assembled SCD2 view: every closed interval ever written plus the
    * newest frontier, `is_current` on open non-tombstone rows — the
    * column contract of the batch `x_scd2_history` gate. */
  def history(s: SparkSession, storeDir: String): DataFrame = {
    val open = s.read.parquet(BatchDirs.snapshot(frontierDir(storeDir)))
      .withColumn(Vt, lit(null).cast("long"))
    val all = BatchDirs.read(s, closedDir(storeDir))
      .fold(open)(_.unionByName(open))
    all.withColumn("is_current", col(Vt).isNull && col("deleted") === 0)
      .drop(graft.model.SchemaModel.SeqCol)
  }

  private def closedDir(storeDir: String) = s"$storeDir/closed"
  private[graft] def frontierDir(storeDir: String) = s"$storeDir/frontier"

  /** Drain a staged CDC stream through foreachBatch and return the
    * assembled history. */
  def run(stream: DataFrame, storeDir: String,
      checkpointDir: String): DataFrame = {
    val s = stream.sparkSession
    BoundedStream.drain(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, storeDir, batchId)
      }, checkpointDir)
    history(s, storeDir)
  }
}
