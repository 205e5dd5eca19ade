package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.HadoopFs

/** Versioned table directory: each write lands in an immutable `v{n}`
  * subdirectory, so any historical version stays readable (snapshot
  * isolation for readers: a query pinned to `v{n}` never sees later
  * writes). The minimal lake-table time-travel surface — version listing,
  * read-at-version, read-latest — over plain parquet directories; the
  * reference's snapshot mode keeps only the latest copy
  * (`/root/reference/src/replicator.py:74-85`), this retains history.
  *
  * Scale: versions are independent directories, so retention is a
  * directory delete and readers never block writers. Writing a full copy
  * per version is the snapshot trade; incremental history is what the CDC
  * path (`CdcPipeline` + `LiveView`) provides.
  */
object TimeTravel {

  private def versionDir(root: String, v: Long) =
    HadoopFs.numbered(root, "v", v)

  /** Write `df` as the next version; returns the version number. */
  def write(df: DataFrame, root: String): Long = {
    val v = versions(root).lastOption.map(_ + 1).getOrElse(0L)
    df.write.parquet(versionDir(root, v))
    v
  }

  /** All committed versions, ascending ([[HadoopFs.numberedIds]] — the
    * versioned root may be local, HDFS or object). */
  def versions(root: String): Seq[Long] =
    HadoopFs.numberedIds(root, "v")

  def readAt(spark: SparkSession, root: String, v: Long): DataFrame =
    spark.read.parquet(versionDir(root, v))

  def readLatest(spark: SparkSession, root: String): DataFrame =
    readAt(spark, root, versions(root).last)

  /** Retention: drop all but the newest `keep` versions (directory
    * deletes — readers pinned to surviving versions are unaffected).
    * Returns the expired version numbers. */
  def expire(root: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least the latest version")
    val doomed = versions(root).dropRight(keep)
    doomed.foreach(v => HadoopFs.delete(versionDir(root, v)))
    doomed
  }
}
