package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.Contamination

/** At-ingest BENCHMARK-contamination screening over a document stream —
  * the streaming form of the batch decontamination pair
  * (`x_decontaminate_apply` cuts leaked train docs;
  * `x_contamination_report` audits the eval side): eval-set leakage is
  * caught the moment a document arrives, instead of by a later batch
  * sweep over the landed corpus. The same probe-an-index-in-foreachBatch
  * shape as [[StreamNearDup]], with one structural difference: the
  * benchmark fingerprint set is FIXED for the life of the stream (eval
  * suites change by release, not by micro-batch), so no state accrues —
  * which is exactly what makes the per-document verdict independent of
  * batch boundaries, and therefore adjudicable by a purely relational
  * oracle.
  *
  * Per micro-batch:
  *   1. winnow fingerprints for the batch's documents
  *      ([[Contamination.docFingerprints]] — one codegen'd scan, the
  *      batch gates' fingerprints);
  *   2. the batch gates' drop rule ([[Contamination.contaminated]]): a
  *      document is flagged when MORE than `DecontamRatio` of its
  *      fingerprints hit the broadcast benchmark set; docs too short to
  *      fingerprint can show no evidence and pass clean;
  *   3. flagged batch rows append to the output.
  *
  * Scale shape: the only shuffle per batch is the per-doc fingerprint
  * re-group (partial-agg'd, batch-bounded); the benchmark join is
  * broadcast, the corpus never re-scans, and nothing grows with stream
  * length. At 100 TB/day ingest this runs as a side-car on the landing
  * pipeline; the batch apply/report gates remain the weekly audit.
  */
object StreamContamination {

  /** Runs the stream to completion, landing `keepCols :+
    * is_contaminated(0/1 long)` per document under `outDir`. `evalFpDir`
    * must hold the benchmark's DISTINCT fingerprints as a parquet table
    * with one `fp` long column. */
  def run(stream: DataFrame, idCol: String, textCol: String,
          keepCols: Seq[String], evalFpDir: String, outDir: String,
          checkpointDir: String): Unit = {
    BoundedStream.drain(stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val fps = Contamination.docFingerprints(batch, idCol, textCol)
          .persist()
        // per-batch-owned overwrite dir (the SinkRetry pattern): an
        // at-least-once replay rewrites its own output wholesale instead
        // of appending a second copy
        flag(batch, fps, batch.sparkSession.read.parquet(evalFpDir), idCol,
            keepCols)
          .write.mode("overwrite")
          .parquet(BatchDirs.dir(outDir, batchId))
        fps.unpersist()
        ()
      }, checkpointDir)
  }

  /** `keepCols` of `batch` plus `is_contaminated`: 1 for the docs that
    * [[Contamination.contaminated]] drops, given the batch's (`idCol`,
    * `fp`) frame `fps` and the benchmark set `evalFps`, else 0. */
  private[streaming] def flag(batch: DataFrame, fps: DataFrame,
                              evalFps: DataFrame, idCol: String,
                              keepCols: Seq[String]): DataFrame =
    batch.join(Contamination.contaminated(fps, evalFps, idCol)
        .withColumn("_c", lit(1L)), Seq(idCol), "left")
      .select((keepCols.map(col) :+
        coalesce(col("_c"), lit(0L)).as("is_contaminated")): _*)

  /** All landed flagged rows (union of the per-batch directories). */
  def landed(s: org.apache.spark.sql.SparkSession, outDir: String)
      : DataFrame =
    BatchDirs.read(s, outDir).getOrElse(
      sys.error(s"no batches landed under $outDir"))
}
