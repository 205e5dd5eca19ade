package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.SimilarityOps

/** Streaming IVF index maintenance — the ANN scale path
  * (`x_ann_ivf_topk`) kept CURRENT under continuous embedding ingest,
  * the way a training-data platform actually runs it: documents are
  * embedded as they land, and similarity search must see them without
  * an index rebuild. Third member of the at-ingest family
  * ([[StreamNearDup]] accrues a dedup band index;
  * [[StreamContamination]] probes a fixed benchmark set; this one
  * accrues the retrieval index itself).
  *
  * The coarse quantizer is FROZEN before the stream starts (in
  * production: trained k-means centroids shipped to the ingest job;
  * here: the deterministic [[SimilarityOps.ivfCentroids]] subset, which
  * is what makes the result exactly reproducible by the oracle).
  * Per micro-batch each arriving vector is assigned to its nearest cell
  * — per-vector arithmetic against the broadcast centroids, so the
  * assignment is BATCH-INVARIANT: ingesting the corpus in one pass or
  * over N days yields the byte-identical index — and appended to a
  * cell-partitioned parquet index.
  *
  * A probe then answers top-k from the INDEX ALONE: nprobe nearest
  * cells per query, exact re-rank inside them. The index layout is
  * CELL-CLUSTERED PLAIN PARQUET, not one directory per cell: each
  * batch's delta is repartitioned by cell and sorted within tasks, so
  * files cover disjoint cell ranges and every row group carries tight
  * `_cell` min/max stats. A probe collects its (bounded —
  * |queries|·nprobe) cell set and filters the scan, which parquet
  * serves by row-group pruning. Directory-per-cell was measured 6–10×
  * slower to write at even 125 cells (one commit per directory per
  * batch) and degenerates to a small-files explosion at a realistic
  * 2^14-cell quantizer; sorted deltas + stats pruning is the layout a
  * compactor can also maintain without changing readers.
  */
object StreamAnnIndex {

  /** Drains `stream` (vectors with `idCol` + `vecCol`), maintaining the
    * cell-partitioned index under `indexDir` against the frozen
    * centroid frame persisted at `centDir`
    * ([[SimilarityOps.ivfCentroids]] schema). */
  def run(stream: DataFrame, idCol: String, vecCol: String,
          centDir: String, indexDir: String, checkpointDir: String): Unit = {
    BoundedStream.drain(stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val cent = batch.sparkSession.read.parquet(centDir)
        // cell-clustered delta: repartition by cell (each cell wholly in
        // one task) + sort within tasks → files cover disjoint cell
        // ranges, row groups get tight _cell min/max for probe pruning
        SimilarityOps.ivfAssignCells(batch, idCol, vecCol, cent)
          .repartition(col("_cell"))
          .sortWithinPartitions(col("_cell"))
          .write.mode("append").parquet(indexDir)
        ()
      }, checkpointDir)
  }

  /** Opens the accrued index for probing. */
  def readIndex(s: org.apache.spark.sql.SparkSession,
                indexDir: String): DataFrame =
    s.read.parquet(indexDir)

  /** Re-establishes the cell-clustered layout after many appended deltas
    * (each micro-batch adds files; thousands of deltas degrade listing
    * and widen row-group cell ranges). Same schema, same pruning path —
    * [[probeTopK]] is unchanged before and after; the
    * [[graft.operators.Compaction]] write-new-then-swap protocol keeps
    * it crash-safe. */
  def compact(s: org.apache.spark.sql.SparkSession, indexDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024)
      : graft.operators.Compaction.CompactionResult =
    graft.operators.Compaction.compact(s, indexDir, targetFileBytes,
      cluster = Seq("_cell"))

  /** Top-k from the index for a query frame: the probe cell set is
    * BOUNDED (|queries|·nprobe — the query router always knows its
    * cells), so it prunes the index scan as a pushed `In(_cell, …)`
    * filter before the broadcast-probe scoring join.
    *
    * Replay semantics: the index appends are at-least-once (a batch that
    * crashed after its append but before the checkpoint commit lands its
    * vectors twice), so the probe DEDUPS the already-pruned slice
    * (replayed rows are byte-identical — same vector, same cell) —
    * the engine's standard dedup-on-read contract (T3), paid
    * only over the probed cells, never the whole index. Without it a
    * replayed vector would occupy two top-k slots and displace a
    * genuinely distinct neighbor. */
  def probeTopK(s: org.apache.spark.sql.SparkSession, indexDir: String,
                queries: DataFrame, idCol: String, vecCol: String,
                cent: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = SimilarityOps.ivfProbes(queries, idCol, vecCol, cent, nprobe)
    val probedCells = probes.select(col("_cell")).distinct()
      .collect().map(_.getLong(0)) // bounded: ≤ |queries| · nprobe
    SimilarityOps.ivfScoreTopK(
      readIndex(s, indexDir)
        .filter(col("_cell").isin(probedCells.map(Long.box): _*))
        .dropDuplicates(), // replayed rows are byte-identical
      probes, k)
  }
}
