package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.sources.HadoopFs

/** Small-file compaction — the lake-maintenance operator every append-only
  * CDC sink needs (each micro-batch append of
  * [[graft.streaming.CdcPipeline]] adds files; thousands of tiny files
  * degrade scan planning and open-cost at scale).
  *
  * Sizing: target output file count = ceil(total bytes / targetFileBytes),
  * written via `coalesce` when shrinking (no shuffle — each output task
  * reads several input files) or `repartition` when the input is fewer,
  * larger files than requested (rebalance needs the shuffle). Content is
  * preserved exactly; only the file layout changes.
  */
object Compaction {

  final case class CompactionResult(
      path: String, filesBefore: Int, filesAfter: Int,
      bytesBefore: Long, rows: Long)

  private def parquetFiles(dir: String) = HadoopFs.list(dir)
    .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** Compact one parquet table directory in place (write-new-then-swap via
    * a sibling temp dir — readers of the old files are unaffected until
    * the atomic-ish rename).
    *
    * `cluster`: optional clustering columns — the rewrite then
    * repartitions on them and sorts within tasks, so output files cover
    * disjoint key ranges and row groups carry tight min/max stats for
    * those columns. This is how a stats-pruned layout (e.g. the
    * [[graft.streaming.StreamAnnIndex]] cell-clustered deltas) is
    * re-established after many appends WITHOUT changing readers: the
    * schema and the pruning path are identical before and after. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              cluster: Seq[String] = Nil): CompactionResult = {
    // all filesystem IO through HadoopFs: the table dir may be local,
    // HDFS or object storage. Crash recovery first: a compact that died
    // between its two swap renames left the data under
    // `<dir>._compact_old` with no live dir
    HadoopFs.recoverSwap(path)
    val before = parquetFiles(path)
    // refuse layouts this flat compactor doesn't understand (partitioned /
    // nested tables) rather than silently rewriting them into one file
    require(before.nonEmpty,
      s"$path has no top-level .parquet files — not a flat table dir " +
        "(partitioned layouts need per-partition compaction)")
    val bytes = before.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val out =
      if (cluster.nonEmpty) {
        import org.apache.spark.sql.functions.col
        df.repartition(targetFiles, cluster.map(col): _*)
          .sortWithinPartitions(cluster.map(col): _*)
      }
      else if (targetFiles < before.length) df.coalesce(targetFiles)
      else df.repartition(targetFiles)
    // the move-aside swap: a crash or failed rename never leaves the
    // table missing. Concurrent appends during the compact window are
    // still the caller's responsibility to pause.
    val rows = HadoopFs.swap(path) { tmp =>
      out.write.mode(SaveMode.Overwrite).parquet(tmp)
      spark.read.parquet(tmp).count()
    }
    CompactionResult(path, before.length,
      parquetFiles(path).length, bytes, rows)
  }
}
