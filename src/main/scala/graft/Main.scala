package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.model.GraftConfig
import graft.operators.SnapshotReplicator
import graft.streaming.{BoundedStream, CdcPipeline}

/** Replicator entry point — O1 mode dispatch (`src/main.py:65-97` parity):
  * env-configured, `snapshot` → batch copy with count validation, `cdc` →
  * the binlog replica ([[graft.streaming.CdcPipeline.replicate]]).
  * Snapshot backends: directory paths here (harness layout); swap in
  * [[graft.sources.JdbcConnectors]] for real MySQL/ClickHouse endpoints —
  * operator code is backend-agnostic.
  *
  * Usage: `runMain graft.Main <sourceDir> <warehouseDir>` with
  * `REPLICATION_*` env vars as in the reference. `<sourceDir>` holds one
  * `<table>.parquet` per source table (the harness layout); the target is
  * `<warehouseDir>/<table>.parquet`, the stream checkpoints
  * `<warehouseDir>/_checkpoints/<table>`.
  *
  * `cdc` mode tails the primary named by `MYSQL_HOST`, `MYSQL_PORT`,
  * `MYSQL_USER`, `MYSQL_PASSWORD` (or `MYSQL_PASSWORD_FILE`) and, when
  * set, `MYSQL_DATABASE`. In order: capture the primary's binlog
  * position once (`SHOW MASTER STATUS`), copy each `<table>.parquet`
  * under one `_version`, then stream each table's binlog rows from the
  * capture. A restart resumes a table from its checkpoint when the
  * checkpoint holds a committed batch; otherwise it drops that
  * checkpoint and redoes the capture and the copy, which replaces the
  * target. When every table resumes, nothing is captured.
  * `GRAFT_CDC_ONCE=true` drains what the log holds and exits; otherwise
  * the streams run at the reference's 5-second cadence.
  *
  * The mode bodies are the public [[runSnapshot]]/[[runCdc]] methods so
  * the whole pipeline (not just its operators) is drivable end-to-end in
  * tests with injected config and deterministic version stamps.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Main <sourceDir> <warehouseDir>")
    val Array(sourceDir, warehouseDir) = args
    val cfg = GraftConfig.fromEnv()
    val spark = Sessions.start(Sessions.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-replicator")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))

    cfg.replication.mode match {
      case "snapshot" =>
        val results = runSnapshot(spark, cfg, sourceDir, warehouseDir)
        results.foreach { r =>
          println(s"[graft] table=${r.table} source=${r.sourceCount} " +
            s"target=${r.targetCount} success=${r.success}" +
            r.error.map(e => s" error=$e").getOrElse(""))
        }
        // exit 1 if any table failed (src/main.py:38-47 parity)
        if (results.exists(!_.success)) sys.exit(1)

      case "cdc" =>
        runCdc(spark, cfg, sourceDir, warehouseDir,
          once = sys.env.get("GRAFT_CDC_ONCE").contains("true"))
    }
    spark.stop()
  }

  /** Snapshot mode: replicate the configured tables with count
    * validation, returning one result per table (O3/O4/O5). */
  def runSnapshot(spark: SparkSession, cfg: GraftConfig,
                  sourceDir: String, warehouseDir: String)
      : Seq[graft.operators.ReplicationResult] = {
    val rep = new SnapshotReplicator(spark, sourceDir, warehouseDir)
    rep.run(cfg.replication.tables,
      cfg.replication.parallelTables.getOrElse(Int.MaxValue))
  }

  /** CDC mode: the binlog replica of the configured tables
    * ([[graft.streaming.CdcPipeline.replicate]]), one streaming query
    * per table with per-table checkpoints, like the reference's
    * per-table apply loop; blocks until the queries end.
    *
    * `once=true` drains what the log holds and returns (testable /
    * batch-catchup mode); otherwise runs continuously at the reference's
    * 5-second cadence. `initialVersion`/`versionOf` are injectable for
    * deterministic tests; defaults are µs wall clock like the reference
    * (`src/cdc_replicator.py:147-148`). */
  def runCdc(spark: SparkSession, cfg: GraftConfig, sourceDir: String,
             warehouseDir: String, once: Boolean,
             initialVersion: Long = System.currentTimeMillis() * 1000L,
             versionOf: Long => Long = _ => System.currentTimeMillis() * 1000L)
      : Unit = {
    val pipe = new CdcPipeline(spark, warehouseDir,
      s"$warehouseDir/_checkpoints")
    val tables = new SnapshotReplicator(spark, sourceDir, warehouseDir)
      .tablesToReplicate(cfg.replication.tables)
    val trigger =
      if (once) Trigger.AvailableNow() else Trigger.ProcessingTime("5 seconds")
    BoundedStream.await(pipe.replicate(cfg.source, tables, sourceDir, trigger,
      initialVersion, versionOf): _*)
  }
}
