package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.{GateCache, SparkEntry}
import graft.functions.DedupOps

/** Closed loop over five fixed training-data gates on the generated
  * sf0.1-sized tables, in a fixed order, with the gate cache and the
  * catalog cache released between gates. Each gate's result is written as
  * parquet (the timed action) for `run.py` to compare with its
  * `SparkEntry.oracleSql` query in DuckDB. */
final class TrainingGates(o: Main.Opts) extends Workload {
  private def outDir = s"${o.work}/gates_out"

  def prepare(): Unit = ()

  def warmUp(spark: SparkSession): Unit = {
    val dir = Replica.fresh(s"${o.work}/warm_gates")
    TrainingGates.Gates.foreach { n =>
      try SparkEntry.queries(n)(spark, o.tiny).write.parquet(s"$dir/$n")
      finally release(spark)
    }
  }

  private def release(spark: SparkSession): Unit = {
    GateCache.releaseAll()
    spark.catalog.clearCache()
  }

  def measure(spark: SparkSession, trace: Trace,
              counters: Option[Counters]): Result = {
    Replica.fresh(outDir)
    val times = ArrayBuffer.empty[(String, Double)]
    val stages = ArrayBuffer.empty[(String, Double)]
    val failures = ArrayBuffer.empty[(String, String)]
    var ccRounds = 0L
    DedupOps.drainCcRounds()
    val a = counters.map { c => c.resetHeapPeak(); c.snap() }
    trace.span("training_gates", Layer.Harness) {
      TrainingGates.Gates.foreach { n =>
        val sa = counters.map(_.snap())
        val t0 = System.nanoTime()
        try {
          trace.span(s"gate.$n", Layer.Queries) {
            SparkEntry.queries(n)(spark, o.tables)
              .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$n")
          }
          times += n -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Exception => failures += n -> e.toString }
        ccRounds += DedupOps.drainCcRounds().sum
        trace.span("gate.release", Layer.Harness)(release(spark))
        counters.foreach(c => stages += n -> (c.snap().stages - sa.get.stages).toDouble)
      }
    }
    val b = counters.map(_.snap())
    val oracle = TrainingGates.Gates.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(Paths.get(s"$outDir/oracle_sql.json"),
      Json.value(oracle.toMap).getBytes(UTF_8))
    // failed gates, in the form tools/check_oracle.py reports them
    Files.write(Paths.get(s"$outDir/errors.json"),
      Json.value(failures.toMap).getBytes(UTF_8))
    val secs = times.map(_._2).toSeq
    val detail = Map("gates_total_s" -> secs.sum,
      "gate_s" -> times.toMap, "outputs" -> outDir)
    val layer = (a, b, counters) match {
      case (Some(sa), Some(sb), Some(cs)) =>
        val m = cs.sparkMetrics(sa, sb) ++
          times.map { case (n, s) => s"gate.${n}_s" -> s } ++
          stages.map { case (n, s) => s"gate.$n.stages" -> s } +
          ("gate.cc_star_rounds" -> ccRounds.toDouble)
        LayerRecord.perLayer(LayerRecord.selfTimes(trace, "training_gates"),
          Map("per_layer" -> m,
            "exact_repeat" -> (Seq("gate.cc_star_rounds") ++
              TrainingGates.Gates.map(n => s"gate.$n.stages"))))
      case _ => Map.empty[String, Any]
    }
    Result(TrainingGates.Gates.size, failures.size,
      failures.map { case (n, e) => s"$n: $e" }.toSeq,
      Map("total_s" -> secs.sum, "op_p50_ms" -> Counters.pct(secs, 50) * 1000,
        "op_p95_ms" -> Counters.pct(secs, 95) * 1000),
      detail, layer)
  }
}

object TrainingGates {
  /** One gate per family the open performance work targets: iterative
    * graph BSP, connected-components dedup, two embedding kernels and the
    * curation pipeline. */
  val Gates: Seq[String] = Seq(
    "x_pagerank", "x_dedup_cluster_apply", "x_ann_ivf_topk", "x_kmeans_embed",
    "x_curation_pipeline")
}
