package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.model.GraftConfig
import graft.operators.SnapshotReplicator
import graft.streaming.CdcPipeline

/** Replicator entry point — O1 mode dispatch (`src/main.py:65-97` parity):
  * env-configured, `snapshot` → batch copy with count validation, `cdc` →
  * initial sync + change-stream apply. Backends: directory paths here
  * (harness layout); swap in [[graft.sources.JdbcConnectors]] for real
  * MySQL/ClickHouse endpoints — operator code is backend-agnostic.
  *
  * Usage: `runMain graft.Main <sourceDir> <warehouseDir> [changeStreamDir]`
  * with `REPLICATION_*` env vars as in the reference.
  *
  * The mode bodies are the public [[runSnapshot]]/[[runCdc]] methods so
  * the whole pipeline (not just its operators) is drivable end-to-end in
  * tests with injected config and deterministic version stamps.
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Main <sourceDir> <warehouseDir> [changeStreamDir]")
    val Array(sourceDir, warehouseDir) = args.take(2)
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
        val streamDir = args.lift(2).getOrElse(
          s"$sourceDir/_changes") // change-stream landing dir
        runCdc(spark, cfg, sourceDir, warehouseDir, streamDir,
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
    rep.run(cfg.replication.tables, cfg.replication.parallelTables)
  }

  /** CDC mode: initial sync of the configured tables with one version
    * stamp (T7), then the change-stream apply — change rows
    * (op/seq/table_name columns) from `streamDir`, one streaming query
    * per replicated table with per-table checkpoints, like the
    * reference's per-table apply loop.
    *
    * `once=true` drains available data and returns (testable /
    * batch-catchup mode); otherwise runs continuously at the reference's
    * 5-second cadence. `initialVersion`/`versionOf` are injectable for
    * deterministic tests; defaults are µs wall clock like the reference
    * (`src/cdc_replicator.py:147-148`). */
  def runCdc(spark: SparkSession, cfg: GraftConfig, sourceDir: String,
             warehouseDir: String, streamDir: String, once: Boolean,
             initialVersion: Long = System.currentTimeMillis() * 1000L,
             versionOf: Long => Long = _ => System.currentTimeMillis() * 1000L)
      : Unit = {
    val pipe = new CdcPipeline(spark, warehouseDir,
      s"$warehouseDir/_checkpoints")
    val rep = new SnapshotReplicator(spark, sourceDir, warehouseDir)
    rep.tablesToReplicate(cfg.replication.tables).foreach { t =>
      val snap = spark.read.parquet(s"$sourceDir/$t.parquet")
        .withColumn("_seq", org.apache.spark.sql.functions
          .monotonically_increasing_id())
      pipe.initialSync(snap, t, initialVersion, "_seq")
    }
    val trigger =
      if (once) Trigger.AvailableNow() else Trigger.ProcessingTime("5 seconds")
    // stream schema: from landed change files if any exist; on a fresh
    // deployment (empty landing dir) derive it — the UNION of every
    // replicated table's source schema (one shared landing dir carries
    // all tables' change rows, so a single-table schema would silently
    // null out other tables' payload columns) + the change-envelope
    // columns — instead of dying on schema inference before the first
    // change arrives
    val streamSchema = scala.util.Try(spark.read.parquet(streamDir).schema)
      .getOrElse {
        val merged = rep.tablesToReplicate(cfg.replication.tables)
          .foldLeft(new org.apache.spark.sql.types.StructType()) { (acc, t) =>
            spark.read.parquet(s"$sourceDir/$t.parquet").schema
              .foldLeft(acc) { (a, f) =>
                a.fields.find(_.name == f.name) match {
                  case Some(ex) =>
                    require(ex.dataType == f.dataType,
                      s"conflicting types for shared column ${f.name}: " +
                        s"${ex.dataType.sql} vs ${f.dataType.sql} (table $t)")
                    a
                  case None => a.add(f)
                }
              }
          }
        merged
          .add("op", org.apache.spark.sql.types.StringType)
          .add("seq", org.apache.spark.sql.types.LongType)
          .add("table_name", org.apache.spark.sql.types.StringType)
      }
    val stream = spark.readStream.schema(streamSchema).parquet(streamDir)
    val queries = rep.tablesToReplicate(cfg.replication.tables).map { t =>
      pipe.start(stream, t, opCol = "op", seqCol = "seq",
        tables = Seq(t), tableCol = Some("table_name"),
        versionOf = versionOf, trigger = trigger)
    }
    queries.foreach(_.awaitTermination())
  }
}
