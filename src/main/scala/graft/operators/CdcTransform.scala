package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

/** Change-event → versioned-upsert-row transform (the CDC write path).
  *
  * Re-expresses the reference's event-type dispatch and meta-column
  * stamping (`_process_write_event`/`_process_update_event`/
  * `_process_delete_event`, `src/cdc_replicator.py:157-212`):
  *   - P6 dispatch: `isinstance` switch over Write/Update/Delete
  *     (`src/cdc_replicator.py:335-343`) → a `when` expression over an `op`
  *     column (declarative; no 3-way driver loop);
  *   - F1 `_version`: one µs-epoch stamp per event-batch
  *     (`src/cdc_replicator.py:147-148,160`) — batch-granular, not
  *     per-row, to preserve the reference's duplicate-version semantics;
  *     alternatively event-time versioning from a source timestamp;
  *   - F2 `_deleted`: 0 for insert/update (after-image kept, before-image
  *     discarded — `src/cdc_replicator.py:184-186`), 1 for delete
  *     tombstones (`:206`);
  *   - §2.6 union: the three branches all land in one append — morally
  *     `insert ∪ update-after ∪ delete-tombstone`.
  *
  * The apply loop itself (T1) is Structured Streaming `foreachBatch` —
  * see [[graft.streaming.CdcPipeline]].
  */
object CdcTransform {

  /** Ops in the change stream's `op` column. */
  val Insert = "I"; val Update = "U"; val Delete = "D"

  /** Stamp a change-row frame (must carry `opCol` and `seqCol`) with CDC
    * meta columns using ONE version for the whole batch — parity with the
    * reference's batch-granular stamp (`src/cdc_replicator.py:160`). */
  def stampBatch(changes: DataFrame, opCol: String, seqCol: String,
                 batchVersionMicros: Long): DataFrame =
    stamp(changes, opCol, seqCol, lit(batchVersionMicros))

  /** General form: caller supplies the version expression. */
  def stamp(changes: DataFrame, opCol: String, seqCol: String,
            version: org.apache.spark.sql.Column): DataFrame =
    changes
      .withColumn(VersionCol, version.cast("long"))
      .withColumn(SeqCol, col(seqCol).cast("long"))
      .withColumn(DeletedCol,
        when(col(opCol) === Delete, lit(1)).otherwise(lit(0)))

  /** [[stamp]] plus the before-image repair the reference lacks: its
    * update processor keeps only after-images
    * (`src/cdc_replicator.py:184-186`), so an UPDATE that changes the
    * primary key leaves the OLD key's last pre-update row alive in the
    * target forever (the PK-update orphan, SURVEY §7.4 — reproduced
    * bug-for-bug by the plain [[stamp]] path for parity). With
    * `fixPkUpdateOrphans=true` (opt-in per call, default = parity) every
    * update whose before-image key differs from its after-image key also
    * emits a tombstone for the old key, stamped with the SAME
    * (version, seq) as the update itself so it supersedes everything the
    * old key had before the move but never outranks unrelated later
    * writes. Declarative: the tombstone branch is a filter + re-key +
    * union on the same stream — no extra shuffle before the sink.
    *
    * `changes` must carry `keyCol` (after-image key) and `beforeKeyCol`
    * (before-image key; equal to `keyCol` for inserts/deletes and
    * non-key updates). The returned frame drops `beforeKeyCol`. */
  def stampWithBeforeImage(changes: DataFrame, opCol: String, seqCol: String,
      version: org.apache.spark.sql.Column, keyCol: String,
      beforeKeyCol: String, fixPkUpdateOrphans: Boolean): DataFrame = {
    val after = stamp(changes, opCol, seqCol, version).drop(beforeKeyCol)
    if (!fixPkUpdateOrphans) after
    else {
      val tombstones = stamp(
        changes.filter(col(opCol) === Update &&
          col(beforeKeyCol) =!= col(keyCol)),
        opCol, seqCol, version)
        .withColumn(keyCol, col(beforeKeyCol))
        .drop(beforeKeyCol)
        .withColumn(DeletedCol, lit(1))
      after.unionByName(tombstones)
    }
  }
}
