package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Harness entry point. `perfbench/run.py` generates the table inputs,
  * starts this main once per run and turns the record it writes into the
  * benchmark's result line. Usage:
  *
  * {{{
  * perfbench.Main --workload <replica|training_gates>
  *   --seed N --seconds S --trace 0|1 --work DIR --tables DIR --tiny DIR
  *   --out FILE
  * perfbench.Main --selftest --work DIR
  * }}}
  *
  * `--tables` holds the sf0.1-sized tables, `--tiny` a small set used
  * for warm-up; `--work` is scratch space inside the checkout. */
object Main {

  /** Spark `local[Cores]`: the box the benchmark is sized for. */
  val Cores = 4
  /** Rows of the `accounts` source table (plus the clock row). */
  val Keys = 100000

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: String, tables: String,
                        tiny: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String, d: String): String = m.getOrElse(s"--$k", d)
    val workload = get("workload", "")
    Opts(workload, get("seed", "1").toLong, get("seconds", "15").toInt,
      get("trace", "0") == "1", get("work", ".bench_work"),
      get("tables", ""), get("tiny", ""), get("out", ""))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(parse(args.filterNot(_ == "--selftest")).work)
      sys.exit(if (ok) 0 else 1)
    }
    val o = parse(args)
    val w: Workload = o.workload match {
      case "replica" => new ReplicaWorkload(o)
      case "training_gates" => new TrainingGates(o)
      case other =>
        System.err.println(s"unknown workload '$other'")
        sys.exit(2)
    }
    val rec = run(o, w, bootS)
    Files.write(Paths.get(o.out), rec.getBytes(UTF_8))
    sys.exit(0)
  }

  /** Set up, run the workload once, and return its record as JSON.
    * `setup_s` is one cold set-up: a second one in the same JVM would be
    * warm, and a second JVM per run does not fit the run budget. */
  def run(o: Opts, w: Workload, bootS: Double): String = {
    new File(o.work).mkdirs()
    val tPrep = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - tPrep) / 1e9
    val t0 = System.nanoTime()
    val spark = session(o.work, Cores)
    w.warmUp(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tStage = System.nanoTime()
    w.stage(spark)
    val stageS = (System.nanoTime() - tStage) / 1e9
    val setupS = bootS + prepS + sessionS + stageS
    val trace = new Trace(o.trace, s"${o.workload}-${o.seed}")
    val counters =
      if (o.trace) Some(new Counters(spark, trace).install()) else None
    val res = w.measure(spark, trace, counters)
    counters.foreach(_.uninstall())
    spark.stop()
    val layer = if (o.trace) res.layer ++ w.baseline() else null
    Json.obj(
      "workload" -> o.workload, "seed" -> o.seed,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "errors" -> res.errors.take(20),
      "setup_s" -> setupS, "setup_parts_s" -> Map(
        "jvm_boot" -> bootS, "inputs" -> prepS, "session_warm_up" -> sessionS,
        "staging" -> stageS),
      "metrics" -> res.metrics, "detail" -> res.detail,
      "layer" -> layer)
  }
}

/** What one workload reports: operation counts, the end-to-end metrics
  * (besides `setup_s`), workload-specific detail, and in the traced run
  * the per-layer record. */
final case class Result(attempted: Long, failed: Long, errors: Seq[String],
                        metrics: Map[String, Double],
                        detail: Map[String, Any],
                        layer: Map[String, Any] = Map.empty)

trait Workload {
  /** Build the generated inputs (before any Spark session exists). */
  def prepare(): Unit
  /** Untimed warm-up on a small input, inside set-up. */
  def warmUp(spark: SparkSession): Unit
  /** Write the generated inputs that need a session (inside set-up). */
  def stage(spark: SparkSession): Unit = ()
  /** The timed run, checked; traced when `counters` is present. */
  def measure(spark: SparkSession, trace: Trace,
              counters: Option[Counters]): Result
  /** Traced runs only: extra layer-record entries measured after the
    * main session has stopped (e.g. a single-core baseline). */
  def baseline(): Map[String, Any] = Map.empty
}
