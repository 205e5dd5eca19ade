package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counters from Spark's public listener interfaces: a [[SparkListener]]
  * for jobs, stages, tasks, shuffle, spill, executor and GC time, and a
  * [[StreamingQueryListener]] for each micro-batch's progress report.
  * Installed only in the traced run. Values are read as differences
  * between two [[Counters.Snap]]s taken after the listener bus drains. */
final class Counters(spark: SparkSession, trace: Trace) {
  import Counters._

  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  // (start, end) wall-clock ms of every finished job, for the driver gap
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val batches = new ConcurrentLinkedQueue[Batch]()

  /** The span stream phases are parented to (set around a drain). */
  @volatile var streamParent: Long = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); jobStart.put(e.jobId, e.time); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t => jobSpans.add((t, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet(); ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
      ()
    }
  }

  private val nanoAtEpochMs: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Batch(p.batchId, p.numInputRows, d))
      // the batch's phases as spans: the trigger, then its parts laid end
      // to end from the batch's start (the report gives durations only)
      val t0 = nanoAtEpochMs +
        java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val total = d.getOrElse("triggerExecution", 0L)
      val trig = trace.record("stream.trigger", Layer.Streaming, streamParent,
        t0, t0 + total * 1000000L)
      var at = t0
      PhaseOrder.foreach { k =>
        d.get(k).filter(_ > 0).foreach { ms =>
          trace.record(s"stream.$k", phaseLayer(k), trig, at, at + ms * 1000000L)
          at += ms * 1000000L
        }
      }
    }
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def install(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    this
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def snap(): Snap = {
    drain()
    Snap(jobs.get, stages.get, tasks.get, shuffleRead.get, shuffleWrite.get,
      spill.get, runMs.get, gcMs.get, System.currentTimeMillis(),
      batches.size)
  }

  /** Spark-layer metrics between two snaps. `spark.driver_gap_ms` is the
    * part of the interval during which no Spark job was running. */
  def sparkMetrics(a: Snap, b: Snap): Map[String, Double] = {
    val iv = jobSpans.asScala.toSeq
      .map { case (s, e) => (math.max(s, a.wallMs), math.min(e, b.wallMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var cs = -1L; var ce = -1L
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) busy += ce - cs; cs = s; ce = e }
      else if (e > ce) ce = e
    }
    if (ce > cs) busy += ce - cs
    val heapMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.stages" -> (b.stages - a.stages).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.shuffle_read_bytes" -> (b.shuffleRead - a.shuffleRead).toDouble,
      "spark.shuffle_write_bytes" -> (b.shuffleWrite - a.shuffleWrite).toDouble,
      "spark.spill_bytes" -> (b.spill - a.spill).toDouble,
      "spark.executor_run_ms" -> (b.runMs - a.runMs).toDouble,
      "spark.gc_ms" -> (b.gcMs - a.gcMs).toDouble,
      "spark.driver_gap_ms" -> ((b.wallMs - a.wallMs) - busy).toDouble,
      "jvm.heap_peak_mb" -> heapMb)
  }

  /** Progress reports of the batches that finished between two snaps. */
  def batchesBetween(a: Snap, b: Snap): Seq[Batch] =
    batches.asScala.toSeq.slice(a.nBatches, b.nBatches)
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        runMs: Long, gcMs: Long,
                        wallMs: Long, nBatches: Int)

  final case class Batch(id: Long, rows: Long, durationMs: Map[String, Long])

  /** The micro-batch phases in the order the engine runs them. */
  val PhaseOrder: Seq[String] = Seq("latestOffset", "getBatch",
    "queryPlanning", "walCommit", "addBatch", "commitOffsets")

  /** Which layer owns a phase: offsets and batch planning call into the
    * binlog source (the socket tail and decode run in `latestOffset`);
    * `addBatch` is the stamp + append sink, whose task also runs the
    * source's row conversion; the rest is the engine's micro-batch
    * bookkeeping. */
  def phaseLayer(phase: String): String = phase match {
    case "latestOffset" | "getBatch" => Layer.Sources
    case "addBatch" => Layer.Operators
    case _ => Layer.Streaming
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Linear-interpolated percentile (the `statistics.quantiles`
    * inclusive method); NaN for an empty sample. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
}

/** Layer names: the engine's modules the benchmark calls into. */
object Layer {
  val Sources = "graft.sources"
  val Streaming = "graft.streaming"
  val Operators = "graft.operators"
  val LiveView = "graft.operators.LiveView"
  val Queries = "graft.queries"
  val Harness = "harness"
  val Generator = "generator"
  val All: Seq[String] =
    Seq(Sources, Streaming, Operators, LiveView, Queries, Harness, Generator)
}
