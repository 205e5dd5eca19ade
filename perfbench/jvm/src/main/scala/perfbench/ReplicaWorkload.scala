package perfbench

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.streaming.Trigger
import graft.operators.{ReplicationResult, SnapshotReplicator}
import graft.streaming.CdcPipeline

/** The replica's life in one run, as an operator brings one up:
  *
  *  1. snapshot mode over the generated star-schema tables (closed loop);
  *  2. CDC catch-up of `accounts` (closed loop): initial sync of the
  *     snapshot, one `Trigger.AvailableNow` drain of a seeded backlog,
  *     one verified read of `accounts_live`;
  *  3. live tail (open loop): the same pipeline continues on its
  *     checkpoint with `Trigger.ProcessingTime(0)` while a generator
  *     commits `TxnPerS` transactions of `RowsPerTxn` rows per second, a
  *     probe loops on a point lookup of the clock row (every transaction
  *     sets it to its own ordinal) and a scanner loops on a full `_live`
  *     aggregate. A transaction's lag runs from when it was due to the
  *     first probe completion that shows it.
  *
  * Phases 1–2 measure throughput work with no concurrent readers; phase 3
  * measures per-micro-batch fixed costs and reads competing with apply. */
final class ReplicaWorkload(o: Main.Opts) extends Workload {
  val RowsPerTxn = 100
  val BacklogTxns = 2000
  val TxnPerS = 20
  /** Schedule limits beyond which a run is invalid. */
  val MaxLateMs = 1000.0
  val MaxBacklogRows: Long = 5L * TxnPerS * RowsPerTxn

  private val liveTxns = TxnPerS * o.seconds
  private var log: Array[Byte] = _
  private var bounds: IndexedSeq[Int] = _
  private var snapshot: Seq[(Long, String, Double)] = _
  private var caughtUp: Seq[(Long, String, Double)] = _
  private var finalState: Seq[(Long, String, Double)] = _
  private def src(name: String) = s"${o.work}/cdc_src/$name.parquet"

  def prepare(): Unit = {
    val g = new CdcGen(o.seed, Main.Keys)
    snapshot = g.snapshotRows
    val backlog = (1 to BacklogTxns).map(_ => g.nextTxn(RowsPerTxn))
    caughtUp = g.modelRows
    val live = (1 to liveTxns).map(_ => g.nextTxn(RowsPerTxn))
    finalState = g.modelRows
    log = CdcGen.encode(backlog ++ live)
    bounds = CdcGen.commitBoundaries(log)
    require(bounds.size == BacklogTxns + liveTxns + 1,
      s"${bounds.size - 1} commits in a log of ${BacklogTxns + liveTxns}")
  }

  override def stage(spark: SparkSession): Unit = {
    Replica.writeSnapshot(spark, snapshot, src("accounts"))
    Replica.writeSnapshot(spark, caughtUp, src("caught_up"))
    Replica.writeSnapshot(spark, finalState, src("final"))
  }

  def warmUp(spark: SparkSession): Unit = {
    val wh = Replica.fresh(s"${o.work}/warm_wh")
    // tables in parallel: the warm-up only has to compile each code path
    new SnapshotReplicator(spark, o.tiny, wh).run(parallelism = 4)
    Replica.warmCatchUp(spark, o.work, o.seed)
  }

  def measure(spark: SparkSession, trace: Trace,
              counters: Option[Counters]): Result = {
    val wh = Replica.fresh(s"${o.work}/warehouse")
    val base = Replica.fresh(s"${o.work}/cdc")
    val pipe = new CdcPipeline(spark, s"$base/tgt", s"$base/ckp")
    val srv = Replica.server(log)
    srv.truncate(CdcGen.File, bounds(BacklogTxns))
    val errors = ArrayBuffer.empty[String]
    val a = counters.map { c => c.resetHeapPeak(); c.snap() }
    val root = trace.reserve()
    val tRoot = System.nanoTime()

    // phases 1-2, closed loop
    val t0 = System.nanoTime()
    val (results, c) = trace.span("catch_up", Layer.Harness, root) {
      val rs = trace.span("snapshot.run", Layer.Operators) {
        new SnapshotReplicator(spark, o.tables, wh).run()
      }
      (rs, Replica.catchUp(spark, pipe, srv, src("accounts"), src("caught_up"),
        trace, counters))
    }
    val snapS = (System.nanoTime() - t0) / 1e9 - c.initialS - c.drainS - c.liveS
    val ttlS = c.initialS + c.drainS + c.liveS
    val mid = counters.map(_.snap())
    if (c.diff != 0) errors += s"caught-up accounts_live differs from the model in ${c.diff} rows"

    // phase 3, open loop
    val l = trace.span("live_tail", Layer.Harness, root) {
      liveTail(spark, pipe, srv, trace, counters)
    }
    val tEnd = System.nanoTime()
    trace.record("replica", Layer.Harness, 0L, tRoot, tEnd, id = root)
    val b = counters.map(_.snap())
    val connections = srv.connections
    srv.close()
    errors ++= l.errors

    // untimed checks: every table replicated with matching contents, and
    // the final replica equal to the source
    val badTables = results.filterNot(r => r.success && sameContents(spark, wh, r))
    errors ++= badTables.map(r => s"table ${r.table}: ${r.error.getOrElse(
      s"source ${r.sourceCount} rows, target ${r.targetCount}, contents differ")}")
    val finalDiff = Replica.liveDiff(spark, src("final"))
    if (finalDiff != 0) errors += s"final accounts_live differs from the model in $finalDiff rows"
    val (files, bytes) = Replica.dirStats(s"$base/tgt")

    // operations: tables, transactions, reads (the two checks, probes,
    // scans) and the live schedule
    val attempted = results.size + BacklogTxns + liveTxns + 2L + l.reads + 1L
    val failed = badTables.size + (if (c.diff != 0) BacklogTxns + 1L else 0L) +
      l.missing + l.failedReads + (if (finalDiff != 0) 1 else 0) +
      (if (l.valid) 0 else 1)
    val snapRows = results.map(_.sourceCount).sum
    val events = BacklogTxns.toLong * RowsPerTxn
    val detail = Map(
      "snapshot_s" -> snapS, "snapshot_rows" -> snapRows,
      "snapshot_rows_per_s" -> snapRows / snapS,
      "time_to_live_s" -> ttlS, "initial_sync_s" -> c.initialS,
      "drain_s" -> c.drainS, "live_read_s" -> c.liveS,
      "backlog_events" -> events, "backlog_events_per_s" -> events / c.drainS,
      "tables" -> results.map(r => r.table -> r.sourceCount).toMap) ++ l.detail
    val layer = (a, mid, b, counters) match {
      case (Some(sa), Some(sm), Some(sb), Some(cs)) =>
        val whBytes = Replica.dirStats(wh)._2
        val catchUpStream = Replica.streamMetrics(c.batches)
        val liveStream = Replica.streamMetrics(cs.batchesBetween(sm, sb))
        val m = cs.sparkMetrics(sa, sb) ++ liveStream ++ Map(
          "source.dump_connections" -> connections.toDouble,
          "stream.backlog_end_rows" -> l.backlogEndRows.toDouble,
          "snapshot.replicate_s" -> snapS,
          "snapshot.rows" -> snapRows.toDouble,
          "snapshot.bytes_written" -> whBytes.toDouble,
          "sync.initial_s" -> c.initialS,
          "sink.files" -> files.toDouble, "sink.bytes" -> bytes.toDouble,
          "live.scan_ms" -> l.detail("live_scan_p50_ms"),
          "live.probe_ms_p50" -> l.detail("probe_p50_ms"),
          "live.scans" -> l.detail("live_scans").toString.toDouble,
          "live.probes" -> l.detail("live_probes").toString.toDouble,
          "gen.events" -> liveTxns.toDouble * RowsPerTxn,
          "gen.late_ms_max" -> l.detail("gen_late_ms_max"))
        val catchUp = LayerRecord.selfTimes(trace, "catch_up")
        LayerRecord.perLayer(LayerRecord.selfTimes(trace, "replica"),
          Map("per_layer" -> m,
            "catch_up" -> Map(
              "wall_ms" -> catchUp("wall_ms"),
              "layer_self_ms" -> catchUp("layer_self_ms"),
              "attributed_pct" -> catchUp("per_layer")
                .asInstanceOf[Map[String, Any]]("trace.attributed_pct"),
              "spark" -> cs.sparkMetrics(sa, sm), "stream" -> catchUpStream,
              "backlog_events_per_s" -> events / c.drainS),
            "exact_repeat" -> Seq("source.rows", "catch_up.stream.batches",
              "gen.events"),
            "checks" -> Map(
              "catch_up stream.batches == 1" -> (catchUpStream("stream.batches") == 1.0),
              "catch_up source.rows == backlog events" ->
                (catchUpStream("source.rows") == events),
              "schedule held" -> l.valid)))
      case _ => Map.empty[String, Any]
    }
    Result(attempted, failed, errors.toSeq,
      Map("total_s" -> (snapS + ttlS), "op_p50_ms" -> l.lagP50,
        "op_p95_ms" -> l.lagP95),
      detail, layer)
  }

  /** Phase 3: the generator, probe and scanner threads around a
    * continuous stream that resumes the catch-up's checkpoint. */
  private def liveTail(spark: SparkSession, pipe: CdcPipeline,
                       srv: graft.sources.BinlogFixtureServer, trace: Trace,
                       counters: Option[Counters]): ReplicaWorkload.Live = {
    val q = Replica.start(spark, pipe, srv.port, Trigger.ProcessingTime(0))
    val parent = trace.current
    counters.foreach(_.streamParent = parent)
    val probeSql = s"SELECT bal FROM ${Replica.LiveName} WHERE id = 0"
    val scanSql = s"SELECT count(*), sum(bal) FROM ${Replica.LiveName}"
    // the clock row counts every transaction, backlog included
    def clock(): Long =
      spark.sql(probeSql).collect().head.getDouble(0).toLong - BacklogTxns

    val errors = ArrayBuffer.empty[String]
    val failedReads = new AtomicLong
    def readErr(what: String, e: Throwable): Unit = {
      failedReads.incrementAndGet()
      errors.synchronized { errors += s"$what: $e" }; ()
    }
    val n = liveTxns
    val periodNs = 1000000000L / TxnPerS
    val dueNs = new Array[Long](n + 1)
    val visNs = new Array[Long](n + 1)
    val lateMs = new Array[Double](n + 1)
    val seen = new AtomicLong(0L)
    val stop = new AtomicBoolean(false)
    val probeMs = ArrayBuffer.empty[Double]
    val scanMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime() + periodNs
    def thread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => body, name); t.setDaemon(true); t.start(); t
    }
    val gen = thread("perfbench-generator") {
      var i = 1
      while (i <= n) {
        dueNs(i) = t0 + (i - 1) * periodNs
        var now = System.nanoTime()
        while (now < dueNs(i)) { LockSupport.parkNanos(dueNs(i) - now); now = System.nanoTime() }
        trace.span("gen.commit", Layer.Generator, parent) {
          srv.truncate(CdcGen.File, bounds(BacklogTxns + i))
        }
        lateMs(i) = (now - dueNs(i)) / 1e6
        i += 1
      }
    }
    val probe = thread("perfbench-probe") {
      while (!stop.get) {
        val s = System.nanoTime()
        try {
          val v = trace.span("live.probe", Layer.LiveView, parent)(clock())
          val e = System.nanoTime()
          var j = seen.get + 1
          while (j <= v && j <= n) { visNs(j.toInt) = e; j += 1 }
          if (v > seen.get) seen.set(math.min(v, n.toLong))
          probeMs.synchronized { probeMs += (e - s) / 1e6 }
        } catch { case e: Exception => readErr("probe", e); Thread.sleep(50) }
      }
    }
    val scanner = thread("perfbench-scanner") {
      while (!stop.get) {
        val s = System.nanoTime()
        try {
          trace.span("live.scan", Layer.LiveView, parent) { spark.sql(scanSql).collect() }
          scanMs.synchronized { scanMs += (System.nanoTime() - s) / 1e6 }
        } catch { case e: Exception => readErr("scan", e); Thread.sleep(50) }
      }
    }
    gen.join()
    val backlogEndRows = (n - seen.get) * RowsPerTxn
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (seen.get < n && System.nanoTime() < deadline && q.exception.isEmpty)
      Thread.sleep(5)
    stop.set(true)
    probe.join(); scanner.join()
    q.stop()
    q.exception.foreach(e => errors += s"stream failed: $e")

    val lags = (1 to n).filter(visNs(_) > 0).map(i => (visNs(i) - dueNs(i)) / 1e6)
    val missing = (n - lags.size).toLong
    if (missing > 0) errors += s"$missing live transactions never became visible"
    val lateMax = (1 to n).map(lateMs(_)).max
    val valid = lateMax <= MaxLateMs && backlogEndRows <= MaxBacklogRows
    if (!valid) errors += f"schedule not held: generator late by up to $lateMax%.0f ms, " +
      s"$backlogEndRows rows unapplied when it ended"
    val lagP50 = Counters.pct(lags, 50)
    val lagP95 = Counters.pct(lags, 95)
    ReplicaWorkload.Live(lagP50, lagP95, missing, probeMs.size + scanMs.size + failedReads.get,
      failedReads.get, valid, backlogEndRows, errors.toSeq, Map(
        "live_transactions" -> n, "live_events" -> n.toLong * RowsPerTxn,
        "visible_lag_p50_ms" -> lagP50, "visible_lag_p95_ms" -> lagP95,
        "live_scan_p50_ms" -> Counters.pct(scanMs.toSeq, 50),
        "live_scan_p90_ms" -> Counters.pct(scanMs.toSeq, 90),
        "live_scans" -> scanMs.size, "live_probes" -> probeMs.size,
        "probe_p50_ms" -> Counters.pct(probeMs.toSeq, 50),
        "gen_late_ms_max" -> lateMax, "backlog_end_rows" -> backlogEndRows,
        "schedule_valid" -> valid))
  }

  /** The stream-processing baseline: the catch-up (phase 2) traced on a
    * single-core session. */
  override def baseline(): Map[String, Any] = {
    val spark = Main.session(o.work, 1)
    try {
      stage(spark)
      val base = Replica.fresh(s"${o.work}/base_cdc")
      val pipe = new CdcPipeline(spark, s"$base/tgt", s"$base/ckp")
      val srv = Replica.server(log)
      srv.truncate(CdcGen.File, bounds(BacklogTxns))
      val trace = new Trace(true, s"baseline-local1-${o.seed}")
      val cs = new Counters(spark, trace).install()
      val a = cs.snap()
      val c = try trace.span("catch_up", Layer.Harness) {
        Replica.catchUp(spark, pipe, srv, src("accounts"), src("caught_up"),
          trace, Some(cs))
      } finally srv.close()
      val b = cs.snap()
      cs.uninstall()
      val events = BacklogTxns.toLong * RowsPerTxn
      Map("baseline_local1" -> Map(
        "master" -> "local[1]", "backlog_events" -> events,
        "drain_s" -> c.drainS, "time_to_live_s" -> (c.initialS + c.drainS + c.liveS),
        "backlog_events_per_s" -> events / c.drainS, "diff_rows" -> c.diff,
        "spark" -> cs.sparkMetrics(a, b),
        "stream" -> Replica.streamMetrics(c.batches),
        "layer_self_ms" -> LayerRecord.selfTimes(trace, "catch_up")("layer_self_ms")))
    } finally spark.stop()
  }

  /** Source and target of one table hold the same rows: equal counts and
    * equal sums of a 64-bit hash over every column. */
  private def sameContents(spark: SparkSession, wh: String,
                           r: ReplicationResult): Boolean =
    ReplicaWorkload.fingerprint(spark, s"${o.tables}/${r.table}.parquet") ==
      ReplicaWorkload.fingerprint(spark, s"$wh/${r.table}.parquet")
}

object ReplicaWorkload {
  /** What the live tail produced. */
  final case class Live(lagP50: Double, lagP95: Double,
                        missing: Long, reads: Long, failedReads: Long,
                        valid: Boolean, backlogEndRows: Long,
                        errors: Seq[String], detail: Map[String, Any])

  /** (row count, sum of xxhash64 over all columns) of a parquet path;
    * the sum is exact (decimal), so it cannot overflow. */
  def fingerprint(spark: SparkSession, path: String): (Long, BigDecimal) = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(20,0)")))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}
