package graft.queries

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scaffold the stream gates share: per-gate temp dirs, replay
  * staging, the replay reader, the state-partition pin and the pool for
  * overlapped driver-side jobs — so each gate states only what differs:
  * its waves and its query. */
object StreamGate {

  /** One fresh temp dir per name, prefixed `<gate>_<name>` and deleted at
    * JVM exit ([[graft.GateCache.tempDir]]). */
  def dirs(gate: String, names: String*): Seq[String] =
    names.map(n => graft.GateCache.tempDir(s"${gate}_$n").toString)

  // Replay order IS the staged gates' premise: wave i's file gets mtime
  // MtimeBase + i·MtimeStep, and the replay reader takes one file per
  // micro-batch in mtime order.
  private val MtimeBase = 1600000000000L
  private val MtimeStep = 600000L

  /** Stage `df` as ONE parquet file named `name` under `srcDir` with a
    * forced modification time. A filesystem that ignores mtime updates
    * must fail loudly, not replay in a confusing order — hence the
    * require. */
  private[graft] def stageReplayFile(srcDir: String)(
      df: DataFrame, name: String, mtime: Long): Unit = {
    val tmp = graft.GateCache.tempDir("graft_stage_tmp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(srcDir, name)
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    require(dst.setLastModified(mtime), s"failed to set mtime on $dst")
    ()
  }

  /** Stage `waves` as `<prefix><i>.parquet`, replayed in wave order. The
    * waves are disjoint small coalesce(1) jobs, written [[overlap]]ped:
    * the replay order comes from the mtimes alone, and every wave is on
    * disk before this returns. */
  def stage(srcDir: String, waves: Seq[DataFrame], prefix: String = "b"): Unit = {
    overlap(waves.zipWithIndex.map { case (df, i) =>
      () => stageReplayFile(srcDir)(df, s"$prefix$i.parquet",
        MtimeBase + i * MtimeStep)
    }: _*)
    ()
  }

  /** Three waves of `df` split at the terciles of `c`'s range, plus that
    * range's max. The empty-frame guard lives here once: a NULL min must
    * fail with `what`, not an opaque NPE. */
  def tercileWaves(df: DataFrame, c: Column, what: String)
      : (Seq[DataFrame], Long) = {
    val b = df.agg(min(c).as("lo"), max(c).as("hi")).head()
    require(!b.isNullAt(0), s"$what is empty — nothing to stage")
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val (mid1, mid2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
    (Seq(df.filter(c <= mid1), df.filter(c > mid1 && c <= mid2),
      df.filter(c > mid2)), hi)
  }

  /** Three waves of `df` in ascending thirds of `0..max(idCol)`. */
  def idThirdWaves(df: DataFrame, idCol: String): Seq[DataFrame] = {
    val m = df.agg(max(col(idCol))).head().getLong(0)
    val id3 = col(idCol) * 3
    Seq(df.filter(id3 <= m), df.filter(id3 > m && id3 <= 2 * m),
      df.filter(id3 > 2 * m))
  }

  /** The replay reader: the parquet files staged under `srcDir`, one file
    * per micro-batch in mtime order. */
  def replay(s: SparkSession, srcDir: String): DataFrame =
    s.readStream.schema(s.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)

  /** Run `body` with `kvs` set on the session conf, restoring previous
    * values (unsetting ones that were absent) afterwards. NOT for
    * plan-shape confs a concurrent gate could observe — those use
    * `newSession()` isolation. */
  private[queries] def withConfs[A](s: SparkSession, kvs: (String, String)*)
      (body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** State partitioning is captured from `spark.sql.shuffle.partitions`
    * at a stream's FIRST checkpoint, and every micro-batch then commits
    * one state-store delta (and one sink file) per partition. At the
    * session default these harness-scale replays pay batches × partitions
    * near-empty commits of pure filesystem overhead (t11's five-key
    * aggregate paid 96 at 32 partitions); 4 keeps the multi-batch
    * semantics at a fraction of the fixed cost. A per-checkpoint sizing
    * knob, not engine semantics: production streams size it to their key
    * cardinality. */
  private val StatePartitions = "spark.sql.shuffle.partitions" -> "4"

  /** The spillable state store (off-heap keys + disk spill) —
    * transformWithState requires it; read, like the partitions, at the
    * stream's first checkpoint. */
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start the streams in `body` under the state pin (and, with
    * `rocksDb`, on the RocksDB state store); the session conf is
    * restored afterwards, so the pin reaches only those checkpoints. */
  def pinned[A](s: SparkSession, rocksDb: Boolean = false)(body: => A): A =
    if (rocksDb) withConfs(s, StatePartitions,
      "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)(body)
    else withConfs(s, StatePartitions)(body)

  /** Driver threads for [[overlap]]. The widest use is five staged waves;
    * t22 nests its three-wave [[stage]] inside a two-job overlap (five
    * threads busy), and the headroom keeps a nested overlap from ever
    * waiting on its own parent. Daemon threads, so an idle pool never
    * holds the JVM open. */
  private val OverlapThreads = 8

  private lazy val pool: ExecutionContext = {
    val n = new AtomicInteger()
    ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(
      OverlapThreads, new ThreadFactory {
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-overlap-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      }))
  }

  /** Run independent driver-side jobs concurrently — small Spark jobs
    * that each leave the session mostly idle back-fill each other's
    * cores. Returns their results in order, and only after EVERY job has
    * finished; then the first failure (in job order) is rethrown, so no
    * sibling job is still writing or still running a stream when the
    * gate fails. */
  def overlap[A](jobs: (() => A)*): Seq[A] =
    jobs.map(j => Future(j())(pool))
      .map(f => Await.ready(f, Duration.Inf).value.get)
      .map(_.get)
}
