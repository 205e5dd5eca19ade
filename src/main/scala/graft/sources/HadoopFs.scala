package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Marker/listing IO through Hadoop [[FileSystem]], and the one owner of
  * the batch-directory layout — the portable substrate for the
  * commit-marker protocols ([[graft.streaming.MultiTableCdc]],
  * [[graft.streaming.SinkRetry]], [[graft.streaming.StreamScd2]]) and
  * for every idempotent sink: batch N owns `<root>/<prefix>N`
  * ([[numbered]]), listings parse ids numerically and ignore every other
  * sibling ([[numberedIds]]), a fold reads the newest entry strictly
  * below its own batch id ([[newestBelow]]), and an in-place table
  * rewrite goes through one crash-safe move-aside [[swap]]. No other
  * module parses those names or renames directories itself; the
  * fold/read layer on top is [[graft.streaming.BatchDirs]].
  *
  * The same code path resolves `file:`, `hdfs:` and `s3a:` URIs, so the
  * local-FS behavior the specs pin is exactly what runs against HDFS in
  * production. One caveat stays real and documented at the call sites:
  * on an eventually-consistent object store a marker file alone is not a
  * visibility barrier, and rename is not atomic — production there uses
  * a real table-format commit protocol (Delta/Iceberg), which these
  * modules model.
  *
  * The Hadoop `Configuration` comes from the active/default Spark
  * session when one exists (so `fs.*` overrides apply), falling back to
  * a vanilla config for session-less unit contexts.
  */
object HadoopFs {

  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  /** Direct children of `dir`; empty when the dir doesn't exist. */
  def list(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val f = fs(dir)
    if (f.exists(p)) f.listStatus(p).toIndexedSeq else Seq.empty
  }

  /** Create an empty marker file (parents included). The stream-level
    * create is atomic on HDFS and local FS: readers see the marker fully
    * or not at all — there is no partial empty file. */
  def touch(path: String): Unit = {
    val p = new Path(path)
    val f = fs(path)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  /** Bytes under `path` (a file, or a directory's files recursively); 0
    * when the path is absent. */
  def size(path: String): Long = {
    val p = new Path(path)
    val f = fs(path)
    if (f.exists(p)) f.getContentSummary(p).getLength else 0L
  }

  def mkdirs(dir: String): Unit = { fs(dir).mkdirs(new Path(dir)); () }

  /** Recursive delete; a no-op when `path` is absent. */
  def delete(path: String): Unit = { fs(path).delete(new Path(path), true); () }

  /** `<root>/<prefix><id>` — the entry batch/version `id` owns. */
  def numbered(root: String, prefix: String, id: Long): String =
    s"$root/$prefix$id"

  /** Ids of the `<prefix><id>` children of `root`, ascending by NUMBER
    * (`b2` before `b10`); siblings whose suffix is not a plain decimal
    * id (`_SUCCESS`, `_temporary`, `bx`, checksum files) are ignored. */
  def numberedIds(root: String, prefix: String): Seq[Long] =
    list(root).map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) => n.drop(prefix.length) }
      .filter(_.forall(_.isDigit)).flatMap(_.toLongOption).sorted

  /** The newest `<prefix><k>` with k strictly below `id`: the read point
    * of a fold, so a replayed batch never reads its own crashed
    * attempt's output. */
  def newestBelow(root: String, prefix: String, id: Long): Option[Long] =
    numberedIds(root, prefix).takeWhile(_ < id).lastOption

  private def aside(path: String) = new Path(path + "._compact_old")

  /** Crash recovery for [[swap]]: a swap that died between its two
    * renames leaves the data under `<path>._compact_old` with no live
    * dir — move it back. A no-op whenever the live dir exists. */
  def recoverSwap(path: String): Unit = {
    val (f, dir, old) = (fs(path), new Path(path), aside(path))
    if (!f.exists(dir) && f.exists(old))
      require(f.rename(old, dir),
        s"crash-recovery rename failed: $old -> $dir")
  }

  /** Rewrite directory `path` in place: `write` fills the sibling
    * `<path>._compact_tmp`, the live dir moves ASIDE to
    * `<path>._compact_old` (never deleted first), tmp takes its name, and
    * only then is the old copy removed. A crash at any point leaves every
    * row reachable under the live or the aside name ([[recoverSwap]]
    * restores the latter); a failed second rename rolls the original
    * back and throws. Returns `write`'s result. Concurrent writers to
    * `path` are the caller's to pause. */
  def swap[T](path: String)(write: String => T): T = {
    recoverSwap(path)
    val (f, dir, old) = (fs(path), new Path(path), aside(path))
    val tmp = new Path(path + "._compact_tmp")
    val result = write(tmp.toString)
    if (f.exists(old)) f.delete(old, true) // debris of a crashed swap
    require(f.rename(dir, old), s"rename failed: $dir -> $old")
    // local FS throws (FileNotFoundException) where HDFS returns false:
    // both must reach the rollback
    val moved = scala.util.Try(f.rename(tmp, dir))
    if (!moved.getOrElse(false)) {
      val restored = f.rename(old, dir) // roll back
      throw new IllegalStateException(s"rename failed: $tmp -> $dir " +
        s"(original ${if (restored) "restored" else s"left at $old"})",
        moved.failed.toOption.orNull)
    }
    f.delete(old, true)
    result
  }

  /** Whole-file read as UTF-8 (watermarks/markers are tiny by design). */
  def readString(path: String): String = {
    val in = fs(path).open(new Path(path))
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Create-or-overwrite a small UTF-8 file (parents included). */
  def writeString(path: String, content: String): Unit = {
    val p = new Path(path)
    val f = fs(path)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish `tmp` as `dst` via delete-then-rename. Rename is atomic on
    * local FS and HDFS; the delete→rename window leaves NO dst, never a
    * partial one — callers must treat a missing file as their safe
    * initial state (the watermark contract: missing = replay from
    * origin, still at-least-once). */
  def publish(tmp: String, dst: String): Unit = {
    val f = fs(dst)
    val d = new Path(dst)
    if (f.exists(d)) f.delete(d, false)
    require(f.rename(new Path(tmp), d), s"rename $tmp -> $dst failed")
    ()
  }
}
