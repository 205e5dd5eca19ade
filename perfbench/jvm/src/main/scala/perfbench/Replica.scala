package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.GateCache
import graft.sources.{BinlogFixtureServer, MysqlBinlogSource}
import graft.streaming.CdcPipeline

/** The replication data path as the benchmark drives it: binlog fixture
  * server on loopback → `readStream.format("mysql-binlog")` →
  * `CdcPipeline.initialSync`/`start` → `registerLiveView`. */
object Replica {
  val User = "repl"
  val Password = "graft-secret"
  val Pks = Seq("id")
  val LiveName = s"${CdcGen.Table}_live"

  def server(log: Array[Byte]): BinlogFixtureServer =
    new BinlogFixtureServer(IndexedSeq(CdcGen.File -> log), User, Password)

  def changeStream(spark: SparkSession, port: Int): DataFrame =
    spark.readStream.format("mysql-binlog")
      .schema(MysqlBinlogSource.withMeta(StructType.fromDDL(CdcGen.RowDdl)))
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("user", User).option("password", Password)
      .option("database", CdcGen.Db).option("table", CdcGen.Table)
      .option("startFile", CdcGen.File).option("startPos", "4")
      .load()

  /** Bulk-load the source snapshot as version 1; stream batches are
    * stamped 2, 3, … so every change outranks the snapshot. */
  def initialSync(spark: SparkSession, pipe: CdcPipeline,
                  snapshotPath: String): Unit =
    pipe.initialSync(spark.read.parquet(snapshotPath).withColumn("_seq", lit(0L)),
      CdcGen.Table, versionMicros = 1L, seqCol = "_seq")

  def start(spark: SparkSession, pipe: CdcPipeline, port: Int,
            trigger: Trigger): StreamingQuery =
    pipe.start(changeStream(spark, port), CdcGen.Table, "op", "_seq",
      tableCol = Some("_tbl"), versionOf = b => b + 2L, trigger = trigger)

  def modelDf(spark: SparkSession, rows: Seq[(Long, String, Double)]): DataFrame =
    spark.createDataFrame(rows).toDF("id", "name", "bal")

  /** Rows in which `<table>_live` and the model (a parquet file written
    * before the timed region) differ, counted with `exceptAll` in both
    * directions (0 = equal as multisets). */
  def liveDiff(spark: SparkSession, modelPath: String): Long = {
    val live = spark.table(LiveName)
    val m = spark.read.parquet(modelPath)
    live.exceptAll(m).unionAll(m.exceptAll(live)).count()
  }

  /** Write `accounts` rows (a source snapshot or a model) as parquet. */
  def writeSnapshot(spark: SparkSession, rows: Seq[(Long, String, Double)],
                    path: String): Unit =
    modelDf(spark, rows).coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Parquet data files under `dir` and their total bytes. */
  def dirStats(dir: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val fs = walk(new File(dir)).filter(_.getName.endsWith(".parquet"))
    (fs.size.toLong, fs.map(_.length).sum)
  }

  def fresh(dir: String): String = {
    GateCache.deleteRecursively(new File(dir))
    new File(dir).mkdirs()
    dir
  }

  /** What one catch-up produced. */
  final case class CatchUp(initialS: Double, drainS: Double, liveS: Double,
                           diff: Long, batches: Seq[Counters.Batch])

  /** The CDC catch-up: initial sync of the snapshot into `pipe`, drain of
    * everything `srv` shows with `Trigger.AvailableNow`, then one
    * verifying read of `<table>_live` against the model. The three parts
    * are traced as spans under the caller's current span. */
  def catchUp(spark: SparkSession, pipe: CdcPipeline, srv: BinlogFixtureServer,
              snapshotPath: String, modelPath: String, trace: Trace,
              counters: Option[Counters]): CatchUp = {
    val t0 = System.nanoTime()
    trace.span("sync.initial", Layer.Operators) {
      initialSync(spark, pipe, snapshotPath)
    }
    val t1 = System.nanoTime()
    val a = counters.map(_.snap())
    trace.span("stream.drain", Layer.Streaming) {
      counters.foreach(_.streamParent = trace.current)
      start(spark, pipe, srv.port, Trigger.AvailableNow()).awaitTermination()
    }
    val t2 = System.nanoTime()
    val diff = trace.span("live.read", Layer.LiveView) {
      pipe.registerLiveView(CdcGen.Table, Pks)
      liveDiff(spark, modelPath)
    }
    val t3 = System.nanoTime()
    val batches = counters.map(c => c.batchesBetween(a.get, c.snap())).getOrElse(Nil)
    CatchUp((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, diff, batches)
  }

  /** Stream-layer figures from the progress reports of `batches`. */
  def streamMetrics(batches: Seq[Counters.Batch]): Map[String, Double] = {
    def sum(k: String) = batches.map(_.durationMs.getOrElse(k, 0L)).sum.toDouble
    Map(
      "stream.batches" -> batches.size.toDouble,
      "stream.trigger_ms_p50" -> Counters.median(
        batches.map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)),
      "stream.query_planning_ms" -> sum("queryPlanning"),
      "stream.wal_commit_ms" -> sum("walCommit"),
      "stream.add_batch_ms" -> sum("addBatch"),
      "stream.commit_offsets_ms" -> sum("commitOffsets"),
      "stream.rows_per_batch_p50" ->
        Counters.median(batches.filter(_.rows > 0).map(_.rows.toDouble)),
      "source.latest_offset_ms" -> sum("latestOffset"),
      "source.get_batch_ms" -> sum("getBatch"),
      "source.rows" -> batches.map(_.rows).sum.toDouble)
  }

  /** A small catch-up that runs every code path of phase 2, with enough
    * events (20,000) that the decode and stamp loops are JIT-compiled
    * before the timed drain. */
  def warmCatchUp(spark: SparkSession, work: String, seed: Long): Unit = {
    val g = new CdcGen(seed ^ 0x5eedL, 10000)
    val snap = g.snapshotRows
    val log = CdcGen.encode((1 to 200).map(_ => g.nextTxn(100)))
    val src = fresh(s"$work/warm_src")
    writeSnapshot(spark, snap, s"$src/accounts.parquet")
    writeSnapshot(spark, g.modelRows, s"$src/model.parquet")
    val base = fresh(s"$work/warm_cdc")
    val srv = server(log)
    val c = try catchUp(spark, new CdcPipeline(spark, s"$base/tgt", s"$base/ckp"),
      srv, s"$src/accounts.parquet", s"$src/model.parquet",
      new Trace(false, "warm"), None) finally srv.close()
    require(c.diff == 0, s"warm-up catch-up differs from its model by ${c.diff} rows")
    spark.sql(s"SELECT bal FROM $LiveName WHERE id = 0").collect()
    spark.sql(s"SELECT count(*), sum(bal) FROM $LiveName").collect()
    ()
  }
}

/** The per-layer record shared by the workloads. */
object LayerRecord {
  /** Self time per layer over the traced region `root`, in ms and as a
    * share of the region's wall time; `attributed_pct` is the share of
    * the wall the layer spans (not the harness's own gaps) account for. */
  def selfTimes(trace: Trace, rootName: String): Map[String, Any] = {
    val all = trace.all
    val root = all.find(_.name == rootName)
      .getOrElse(sys.error(s"no span $rootName"))
    // the root and its descendants
    val kids = all.groupBy(_.parent)
    def tree(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(tree)
    val spans = tree(root)
    val wallMs = root.durNs / 1e6
    val self = Trace.layerSelfMs(spans)
    val rootSelfMs = Trace.selfNs(spans)(root.id) / 1e6
    val pct = Layer.All.map(l =>
      s"self_pct.${short(l)}" -> 100.0 * self.getOrElse(l, 0.0) / wallMs).toMap
    Map("wall_ms" -> wallMs,
      "layer_self_ms" -> self,
      "per_layer" -> (pct + ("trace.attributed_pct" ->
        100.0 * (wallMs - rootSelfMs) / wallMs)),
      "spans" -> Json.Raw(Trace.toJson(spans, root.start)))
  }

  def short(layer: String): String = layer match {
    case Layer.Sources => "sources"
    case Layer.Streaming => "streaming"
    case Layer.Operators => "operators"
    case Layer.LiveView => "live_view"
    case Layer.Queries => "queries"
    case other => other
  }

  /** Merge the flat per-layer metric maps of several parts. */
  def perLayer(parts: Map[String, Any]*): Map[String, Any] = {
    val flat = parts.flatMap(_.get("per_layer").collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    }).foldLeft(Map.empty[String, Any])(_ ++ _)
    parts.foldLeft(Map.empty[String, Any])(_ ++ _) + ("per_layer" -> flat)
  }
}
