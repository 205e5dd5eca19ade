package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.HadoopFs

/** The one owner of the batch-directory store every at-least-once
  * foreachBatch sink writes through — the fold/read layer over
  * [[HadoopFs]]'s numbered listing. Batch N owns `<root>/<prefix>N`
  * and writes it with mode=overwrite, so a replayed batch overwrites ITS
  * OWN output wholesale instead of appending a second copy.
  *
  *   - '''Batch dirs''' (`b<N>`, the [[SinkRetry]] idempotency pattern:
  *     near-dup flags, contamination flags, band indexes, closed SCD2
  *     intervals): readers union them; `excludeAtOrAbove` lets a probe
  *     see strictly-earlier batches only, so a replayed batch never
  *     collides with its own first attempt's state.
  *   - '''Snapshots''' (`v<N>`, the [[StreamCollapse]] protocol): batch N
  *     folds its delta onto the newest snapshot STRICTLY BELOW N and
  *     overwrites `v<N>` — never the absolute latest, which after a crash
  *     between the snapshot write and the checkpoint commit is the
  *     replaying batch's own half-committed output. The read point lives
  *     on disk, never in driver state, so a restarted query resumes from
  *     the same base an uninterrupted one would have used.
  *
  * Other prefixes (`c` commit markers, `d` per-table deltas) name their
  * entries through [[dir]] as well; no caller parses a directory name.
  */
private[graft] object BatchDirs {

  /** Batch `batchId`'s own entry, `<root>/<prefix><batchId>`. */
  def dir(root: String, batchId: Long, prefix: String = "b"): String =
    HadoopFs.numbered(root, prefix, batchId)

  /** Union of the batch directories in id order; None when none exist.
    * Each dir is loaded separately and unioned — a multi-root parquet
    * read over dirs that are THEMSELVES partitioned (e.g. the band
    * index's `band=N` subdirs) trips CONFLICTING_DIRECTORY_STRUCTURES. */
  def read(s: SparkSession, root: String,
           excludeAtOrAbove: Option[Long] = None): Option[DataFrame] =
    HadoopFs.numberedIds(root, "b")
      .filter(id => excludeAtOrAbove.forall(id < _))
      .map(id => s.read.parquet(dir(root, id)))
      .reduceOption(_.unionByName(_))

  /** Id of the newest snapshot under `root`, if any batch has landed. */
  def latest(root: String): Option[Long] =
    HadoopFs.numberedIds(root, "v").lastOption

  /** Path of the newest snapshot — the store's current state. */
  def snapshot(root: String): String = dir(root, latest(root).getOrElse(
    sys.error(s"no snapshot under $root — stream never ran")), "v")

  /** The newest snapshot strictly below `batchId` — a fold's base. */
  def prior(s: SparkSession, root: String, batchId: Long)
      : Option[DataFrame] =
    HadoopFs.newestBelow(root, "v", batchId)
      .map(v => s.read.parquet(dir(root, v, "v")))

  /** One batch's fold: `merge(prior, delta)` (or `delta` alone for the
    * first batch) overwrites `<root>/v<batchId>` — byte-idempotent on
    * replay, restart-safe by construction. */
  def fold(root: String, batchId: Long, delta: DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): Unit = {
    prior(delta.sparkSession, root, batchId).fold(delta)(merge(_, delta))
      .write.mode("overwrite").parquet(dir(root, batchId, "v"))
  }
}
