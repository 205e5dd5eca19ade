package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.HadoopFs

/** Transactionally consistent MULTI-TABLE CDC apply — the cross-table
  * guarantee the reference cannot give (it replicates table-by-table in
  * independent threads, `src/replicator.py:105-123`, so a reader joining
  * orders to lineitems mid-replication sees orphans; MySQL's binlog is
  * transaction-ordered, so the source never had that inconsistency).
  *
  * Protocol (the delta-log shape): each micro-batch demultiplexes its
  * envelope rows per table and appends one immutable delta directory per
  * table (`<root>/<tbl>/d<batchId>`, overwrite-on-replay = idempotent),
  * then — LAST — writes an empty commit marker `<root>/commits/c<batchId>`.
  * Readers resolve a version as "all deltas with a committed id ≤ v", so
  * a crash between the two table writes leaves a torn, INVISIBLE batch
  * (no marker → no reader ever sees half a transaction), and pinning one
  * version number across tables is a consistent cut with no cross-table
  * lock. Per-batch cost is O(delta); per-read cost is O(committed
  * deltas ≤ v) — at 100 TB the same compaction o6 applies to any
  * append-log applies here.
  *
  * Substrate note: the marker write and the commit listing here (like
  * every numbered-dir listing, [[BatchDirs]]) go through Hadoop
  * `FileSystem` ([[graft.sources.HadoopFs]]), so the
  * protocol runs unchanged on `file:` and `hdfs:` — marker create is
  * atomic on both, and create-after-write ordering holds. On an
  * eventually-consistent object store the marker alone is NOT a
  * visibility barrier — production there uses the real delta-log
  * implementations this models (Delta/Iceberg commit protocols), which
  * add atomic-rename/conditional-put semantics.
  */
object MultiTableCdc {

  /** One micro-batch: per-table delta dirs, then the commit marker. The
    * batch is persisted for the duration of the N per-table writes — each
    * write is its own action, and without the persist every table's
    * filter would recompute the whole batch input (N scans per trigger). */
  private[graft] def foldBatch(batch: DataFrame, tables: Seq[String],
      root: String, batchId: Long, commit: Boolean = true): Unit = {
    batch.persist()
    try tables.foreach { tbl =>
      batch.filter(col("tbl") === tbl).drop("tbl")
        .write.mode("overwrite")
        .parquet(BatchDirs.dir(s"$root/$tbl", batchId, "d"))
    } finally { batch.unpersist(); () }
    if (commit) HadoopFs.touch(BatchDirs.dir(s"$root/commits", batchId, "c"))
  }

  /** Committed batch ids, ascending. */
  def committed(root: String): Seq[Long] =
    HadoopFs.numberedIds(s"$root/commits", "c")

  /** Table contents AT version `v`: every delta whose id is committed
    * and ≤ v. An uncommitted (torn) delta directory is never read. */
  def readAt(s: SparkSession, root: String, tbl: String,
      v: Long): DataFrame = {
    val ids = committed(root).filter(_ <= v)
    require(ids.nonEmpty, s"no committed batches ≤ $v under $root")
    s.read.parquet(ids.map(BatchDirs.dir(s"$root/$tbl", _, "d")): _*)
  }

  /** Drain the multiplexed envelope stream. */
  def run(stream: DataFrame, tables: Seq[String], root: String,
      checkpointDir: String): Unit = {
    BoundedStream.drain(stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, tables, root, batchId)
      }, checkpointDir)
  }
}
