package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.DedupOps

/** At-ingest NEAR-dup suppression over a document stream — the streaming
  * form of the batch MinHash+LSH family (`x_dedup_minhash_*`), closing the
  * loop the incremental gate (`x_dedup_incremental`) opened: there the
  * corpus band index was probed by one static delta; here the index
  * ACCRUES across micro-batches inside `foreachBatch`, so every batch is
  * deduped against everything ingested before it without ever rescanning
  * corpus text.
  *
  * Per micro-batch (foreachBatch runs batches strictly in sequence, so
  * the index read-then-append is race-free):
  *   1. MinHash signatures → LSH band keys for the batch's documents
  *      (single scan, the [[DedupOps.minhashSignature]] native kernel);
  *   2. cross-batch probe: one `left_semi` equi-join of the batch's band
  *      keys against the persisted index — output bounded by the batch;
  *   3. intra-batch probe: band-key self-join keeping `a.id > b.id`, so
  *      within a batch the smallest id stays novel (same keep-first
  *      convention as the batch family);
  *   4. flagged batch rows append to the output; the batch's band keys
  *      append to the index.
  *
  * Determinism contract: when the replay presents documents in ascending
  * id order across batches (the gate stages files that way), "flagged
  * dup" ≡ "shares a band key with ANY smaller doc_id" — a purely
  * relational definition with no reference to batch boundaries, which is
  * what the DuckDB oracle pins. Docs too short to produce a signature
  * cannot collide and stay novel (the x_dedup_incremental convention).
  *
  * Scale shape: the index is only (band, band_key) — bytes per document,
  * not the text; both probes are equi-joins shuffling the BATCH side
  * (bounded) against it. At 100 TB the index table is itself large but
  * cold-storage-friendly: partition it by `band` (8-way here via the
  * writer below) so a probe prunes to matching band partitions; a
  * production deployment would additionally bucket by band_key. No
  * all-pairs stage exists anywhere.
  */
object StreamNearDup {

  /** Drains the stream ([[BoundedStream.drain]]), landing per-document
    * flagged rows `keepCols :+ is_dup(0/1 long)` under `outDir` and the
    * band index under `indexDir`. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          keepCols: Seq[String], indexDir: String, outDir: String,
          checkpointDir: String, shingleWidth: Int, k: Int,
          bands: Int, rowsPerBand: Int): Unit = {
    BoundedStream.drain(stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val bnd = DedupOps.lshBands(
          DedupOps.minhashSignature(batch, idCol, textCol, shingleWidth, k),
          idCol, bands, rowsPerBand).persist()
        // cross-batch probe against STRICTLY EARLIER batches' band keys
        // only: under an at-least-once replay the crashed attempt's own
        // b<batchId> dir is excluded, so the batch never collides with
        // itself and first occurrences stay novel (replay-idempotent)
        val crossDup = BatchDirs.read(s, indexDir,
            excludeAtOrAbove = Some(batchId)) match {
          case Some(idx) => bnd.join(idx, Seq("band", "band_key"),
            "left_semi").select(col(idCol))
          case None => bnd.select(col(idCol)).limit(0)
        }
        val intraDup = bnd.select(col(idCol).as("_pid"), col("band"),
            col("band_key"))
          .join(bnd, Seq("band", "band_key"))
          .filter(col(idCol) > col("_pid"))
          .select(col(idCol))
        val dupIds = crossDup.union(intraDup).distinct()
          .withColumn("_dup", lit(1L))
        // per-batch-owned overwrite dirs (the SinkRetry pattern): a
        // replay rewrites its own output and index delta wholesale
        batch.join(dupIds, Seq(idCol), "left")
          .select((keepCols.map(col) :+
            coalesce(col("_dup"), lit(0L)).as("is_dup")): _*)
          .write.mode("overwrite")
          .parquet(BatchDirs.dir(outDir, batchId))
        // band-partitioned so a future probe can prune within each delta
        bnd.write.mode("overwrite").partitionBy("band")
          .parquet(BatchDirs.dir(indexDir, batchId))
        bnd.unpersist()
        ()
      }, checkpointDir)
  }

  /** All landed flagged rows (union of the per-batch directories). */
  def landed(s: org.apache.spark.sql.SparkSession, outDir: String)
      : DataFrame =
    BatchDirs.read(s, outDir).getOrElse(
      sys.error(s"no batches landed under $outDir"))

  /** The accrued band index (union of the per-batch deltas). */
  def index(s: org.apache.spark.sql.SparkSession, indexDir: String)
      : DataFrame =
    BatchDirs.read(s, indexDir).getOrElse(
      sys.error(s"no index deltas under $indexDir"))
}
