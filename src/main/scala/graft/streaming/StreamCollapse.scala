package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SchemaModel.{SeqCol, VersionCol}
import graft.operators.Collapsing

/** Incremental CollapsingMergeTree FINAL over a streaming sign-changelog —
  * the streaming payoff of the Collapsing family: because signs are
  * ADDITIVE and the surviving candidate is a max_by, the per-key state is
  * a pair of commutative monoids (net sign, latest +1 row), so each
  * micro-batch reduces to per-key partial states that merge into a store
  * of size O(live keys) — never O(history), and in ANY batch order. The
  * Replacing path (t6) must instead retain the latest full row per key via
  * a state store keyed on arrival order; here a late or re-ordered chunk
  * folds in identically (the spec pins a permuted replay byte-equal).
  *
  * Store layout: one parquet snapshot per micro-batch
  * (`store/v<batchId>`), each batch folding the previous snapshot with its
  * own partial aggregate — the same one-partial-agg-shuffle shape as the
  * batch [[Collapsing.collapseFinal]], at delta cost per batch. Snapshots
  * are immutable (write-then-read-next-batch), so a crash between batches
  * replays from the checkpoint against an intact previous version — the
  * foreachBatch idempotency pattern the other o/t gates use.
  */
object StreamCollapse {

  private val NetCol = "_net"
  private val CandCol = "_cand"

  /** Per-chunk partial state: net sign + the latest +1 candidate (NULL
    * ordering key excludes cancels from max_by, as in the batch form). */
  private[streaming] def partial(
      df: DataFrame, pks: Seq[String], payload: Seq[String]): DataFrame = {
    val carried = payload ++ Seq(VersionCol, SeqCol)
    df.groupBy(pks.map(col): _*).agg(
      sum(col(Collapsing.SignCol)).cast("long").as(NetCol),
      max_by(struct(carried.map(col): _*),
        when(col(Collapsing.SignCol) === 1,
          struct(col(VersionCol), col(SeqCol)))).as(CandCol))
  }

  /** Fold two partial-state frames (same shape) into one. */
  private[streaming] def merge(
      a: DataFrame, b: DataFrame, pks: Seq[String]): DataFrame =
    a.unionByName(b).groupBy(pks.map(col): _*).agg(
      sum(col(NetCol)).cast("long").as(NetCol),
      max_by(col(CandCol),
        when(col(CandCol).isNotNull,
          struct(col(s"$CandCol.$VersionCol"),
            col(s"$CandCol.$SeqCol")))).as(CandCol))

  /** Drain `stream` (a sign-changelog) through foreachBatch, folding each
    * micro-batch's partial states into the versioned store; returns the
    * collapsed FINAL rows (net > 0 → the surviving +1 payload). */
  def run(
      stream: DataFrame,
      pks: Seq[String],
      payload: Seq[String],
      storeDir: String,
      checkpointDir: String): DataFrame = {
    val spark = stream.sparkSession
    BoundedStream.drain(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, pks, payload, storeDir, batchId)
      }, checkpointDir)
    finalRows(spark, storeDir, pks, payload)
  }

  /** One micro-batch's fold: reduce the chunk to partial states and merge
    * them onto the newest snapshot STRICTLY BELOW this batch id
    * ([[BatchDirs.fold]]) — folding from a crashed attempt's own
    * `v<batchId>` would double-count the partial, so the replay is
    * byte-idempotent (spec'd by a literal double fold). */
  private[streaming] def foldBatch(batch: DataFrame, pks: Seq[String],
      payload: Seq[String], storeDir: String, batchId: Long): Unit =
    BatchDirs.fold(storeDir, batchId, partial(batch, pks, payload))(
      merge(_, _, pks))

  /** FINAL over the newest store snapshot. */
  def finalRows(spark: SparkSession, storeDir: String,
      pks: Seq[String], payload: Seq[String]): DataFrame = {
    spark.read.parquet(BatchDirs.snapshot(storeDir))
      .filter(col(NetCol) > 0)
      .select((pks.map(col) ++
        payload.map(c => col(s"$CandCol.$c").as(c))): _*)
  }
}
