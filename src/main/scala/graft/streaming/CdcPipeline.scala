package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.model.SourceConfig
import graft.operators.{CdcTransform, LiveView}
import graft.sources.{BinlogSocketClient, HadoopFs, MysqlBinlogSource, ParquetCatalog}

/** CDC mode as Structured Streaming — the reference's binlog apply loop
  * (`CDCReplicator.run`, `src/cdc_replicator.py:296-414`) re-expressed:
  *
  *   - T1 ingestion loop (blocking per-event iteration, `:325-364`) →
  *     micro-batched `foreachBatch`;
  *   - S4 source filters (`only_events`/`only_schemas`/`only_tables`,
  *     `:117-126`) → declarative `.filter` pushed to the source;
  *   - T2 checkpointing (5-second position file, `:347-356`) →
  *     `checkpointLocation` offset log, committed per micro-batch —
  *     strictly stronger than the reference's ≤5 s replay window;
  *   - T3 at-least-once + idempotent read (`README.md:480-497`) → the sink
  *     stays append-only; duplicates are resolved by the
  *     [[graft.operators.LiveView]] dedup exactly like ReplacingMergeTree;
  *   - F1 batch-granular version stamp (`:160`) → one stamp per micro-batch
  *     in `foreachBatch` (preserves the duplicate-`_version` semantics);
  *   - T7 initial sync → [[initialSync]] bulk copy with a single
  *     `_version`; [[replicate]] captures the binlog position BEFORE the
  *     copy and streams from it (the offset handoff is the checkpoint's
  *     job);
  *   - T8/T9 reconnect/backoff + graceful shutdown → Spark restart
  *     semantics on the same checkpoint dir; `query.stop()`.
  *
  * Scale: each micro-batch is a distributed append (no shuffle); dedup cost
  * is deferred to the read path where it parallelizes over the PK hash.
  */
final class CdcPipeline(
    spark: SparkSession,
    targetDir: String,
    checkpointDir: String) {

  /** T7: bulk-load the current snapshot with one version stamp for the
    * whole table (`_sync_table_with_cdc_columns`,
    * `src/cdc_replicator.py:263-278`). The copy REPLACES the target: a
    * restart that redoes the copy (no stream offset was committed after
    * the first one) must not leave the first copy's rows behind, where a
    * key deleted between the two captures would come back from. */
  def initialSync(snapshot: DataFrame, table: String,
                  versionMicros: Long, seqCol: String): Unit =
    land(snapshot.withColumn("op", lit(CdcTransform.Insert)), table, "op",
      seqCol, versionMicros, mode = SaveMode.Overwrite)

  /** The one landing step of the copy, the stream batches and the gates'
    * one-shot tails: stamp `changes` with ONE `version`
    * ([[CdcTransform.stampBatch]]), drop the bookkeeping columns (`opCol`,
    * `seqCol`, `dropCols`; absorbed into `_ingest_seq`) so applied rows
    * share the initial-sync schema (source cols + meta cols), and write
    * them to `<table>.parquet`. */
  def land(changes: DataFrame, table: String, opCol: String, seqCol: String,
           version: Long, dropCols: Seq[String] = Nil,
           mode: SaveMode = SaveMode.Append): Unit =
    CdcTransform.stampBatch(changes, opCol, seqCol, version)
      .drop((Seq(opCol, seqCol) ++ dropCols): _*)
      .write.mode(mode).parquet(s"$targetDir/$table.parquet")

  /** Start the change-stream apply: change rows (op column I/U/D) →
    * batch-stamped upsert rows appended to the target. `versionOf` maps a
    * micro-batch id to its version stamp (injectable for deterministic
    * tests; production passes µs wall clock like the reference's
    * `int(now()*1e6)`, `src/cdc_replicator.py:147-148`). A PK-changing
    * update orphans its old key, as in the reference (T28): the change
    * stream carries no before-image to repair from. The gates that repair
    * it call [[CdcTransform.stampWithBeforeImage]] themselves.
    *
    * `onBatch` runs on the DRIVER against each raw micro-batch before the
    * stamp — the hook stream-side validators plug into (e.g.
    * [[graft.sources.BinlogSource.RotateChainGuard]] consuming the
    * per-file chain columns); a throw fails the stream. When the hook is
    * present the batch is persisted for the duration of the
    * foreachBatch, so the validator's action and the apply's write
    * compute the (possibly expensive — a binlog decode) batch ONCE.
    * `dropCols` names extra bookkeeping columns (beyond op/seq/table) to
    * strip before the append.
    *
    * `onBatchApplied` runs AFTER the batch's append succeeds — the seam
    * for durable progress records (e.g.
    * [[graft.sources.BinlogSource.GtidTracker]] persisting the applied
    * GTID set): a record written on the PRE-write seam could claim
    * transactions a crash then loses (the rows never landed, the
    * checkpoint never committed, but a failover trusting the record
    * would skip them forever). Post-write the record is at-least-once —
    * a crash before the checkpoint commit replays the batch, which the
    * applied table's dedup semantics absorb, never data loss. */
  def start(changeStream: DataFrame, table: String, opCol: String,
            seqCol: String, tables: Seq[String] = Nil,
            tableCol: Option[String] = None,
            versionOf: Long => Long = _ => System.currentTimeMillis() * 1000L,
            trigger: Trigger = Trigger.AvailableNow(),
            onBatch: Option[DataFrame => Unit] = None,
            dropCols: Seq[String] = Nil,
            onBatchApplied: Option[DataFrame => Unit] = None): StreamingQuery = {
    // P5: client-side table-set re-check (`src/cdc_replicator.py:330-333`)
    val filtered = (tableCol, tables) match {
      case (Some(tc), ts) if ts.nonEmpty => changeStream.filter(col(tc).isin(ts: _*))
      case _ => changeStream
    }
    filtered.writeStream
      .queryName(s"cdc_apply_$table")
      .option("checkpointLocation", s"$checkpointDir/$table")
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val df = batch.toDF()
        if (onBatch.isDefined || onBatchApplied.isDefined) { df.persist(); () }
        try {
          onBatch.foreach(f => f(df))
          land(df, table, opCol, seqCol, versionOf(batchId),
            tableCol.toSeq ++ dropCols)
          onBatchApplied.foreach(f => f(df))
        } finally if (onBatch.isDefined || onBatchApplied.isDefined) {
          df.unpersist(); ()
        }
        ()
      }
      .start()
  }

  /** The binlog replica — `graft.Main`'s cdc mode, in the reference's
    * `initial_sync` order (`src/cdc_replicator.py:238-261`):
    *   1. every table's key ([[graft.sources.ParquetCatalog.HarnessPks]])
    *      and snapshot schema (`<sourceDir>/<t>.parquet`) resolved, so a
    *      table with no known key or no snapshot fails before anything
    *      is captured, copied or started;
    *   2. one `SHOW MASTER STATUS` capture on the primary `source` names;
    *   3. [[initialSync]] of each table that does not resume, under
    *      `initialVersion`;
    *   4. per table, `<t>_live` registered on its key and one
    *      `mysql-binlog` query from the capture, its schema the
    *      snapshot's row image ([[graft.sources.MysqlBinlogSource.withMeta]]),
    *      rows filtered on `_tbl`, batches stamped by `versionOf`.
    * Resume rule: a table resumes when its stream checkpoint holds a
    * COMMITTED batch. The stream then continues from the checkpoint (the
    * position file), with no capture and no copy: a re-copy's fresh
    * `_version` would outrank every change already applied. An offset
    * without a commit does not count: an uncommitted batch 0 replays from
    * the source's initial offset, i.e. from the NEW run's capture, not
    * the one it was planned from. So a table with no commit drops its
    * checkpoint and redoes the capture and the copy, which replaces the
    * target. When every table resumes,
    * nothing is captured. If a query fails to start, those already
    * started are stopped. Returns the started queries; the caller
    * awaits them. */
  def replicate(source: SourceConfig, tables: Seq[String], sourceDir: String,
                trigger: Trigger, initialVersion: Long,
                versionOf: Long => Long): Seq[StreamingQuery] = {
    val keys = tables.map(t => ParquetCatalog.HarnessPks.getOrElse(t,
      throw new IllegalArgumentException(s"no known primary key for table $t")))
    val snapshots = tables.map(t => spark.read.parquet(s"$sourceDir/$t.parquet"))
    val fresh = tables.filter(t =>
      HadoopFs.numberedIds(s"$checkpointDir/$t/commits", "").isEmpty).toSet
    val capture = if (fresh.isEmpty) None else Some(new BinlogSocketClient(
      source.host, source.port, source.user, source.password).masterStatus())
    tables.zip(snapshots).filter(ts => fresh(ts._1)).foreach { case (t, snap) =>
      HadoopFs.delete(s"$checkpointDir/$t")
      initialSync(snap.withColumn("_seq", monotonically_increasing_id()), t,
        initialVersion, "_seq")
    }
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try tables.lazyZip(keys).lazyZip(snapshots).foreach { (t, pks, snap) =>
      val changes = spark.readStream.format("mysql-binlog")
        .schema(MysqlBinlogSource.withMeta(snap.schema))
        .options(MysqlBinlogSource.options(source, t,
          if (fresh(t)) capture else None))
        .load()
      registerLiveView(t, pks)
      started += start(changes, t, opCol = "op", seqCol = "_seq",
        tables = Seq(t), tableCol = Some("_tbl"), versionOf = versionOf,
        trigger = trigger)
    } catch { case e: Throwable => started.foreach(_.stop()); throw e }
    started.toSeq
  }

  /** Read the applied (versioned, append-only) table. */
  def applied(table: String): DataFrame =
    spark.read.parquet(s"$targetDir/$table.parquet")

  /** K5 `generate_cdc_view`, wired into the session catalog — the
    * reference documents (and unit-tests) a `<table>_live` ClickHouse
    * view with `argMax(…, _version) … WHERE _deleted = 0` but never
    * invokes it (`src/schema_converter.py:124-138`; SURVEY §3.3 gap).
    * Here the view is registered as SQL TEXT over the parquet path, so
    * it is LATE-BOUND: every query against the name re-analyzes the
    * plan and re-lists the directory — micro-batches appended AFTER
    * registration are visible with no re-registration, exactly the
    * semantics a DDL view has over a live table (a DataFrame-backed
    * temp view would freeze the file listing at registration time).
    * Survivor order is [[graft.operators.LiveView]]'s one rule:
    * `_version DESC`, then `_ingest_seq DESC` when the table carries it;
    * tombstones filtered, meta columns projected away. Returns the view
    * name. */
  def registerLiveView(table: String, pks: Seq[String]): String = {
    import graft.model.{Identifiers, SchemaModel}
    import SchemaModel.{DeletedCol, SeqCol, VersionCol}
    Identifiers.validate(table, "table name")
    pks.foreach(Identifiers.validate(_, "pk column"))
    val cols = applied(table).columns
    require(pks.forall(cols.contains), s"pk missing from $table: $pks")
    val meta = Set(VersionCol, SeqCol, DeletedCol)
    val payload = cols.filterNot(meta.contains)
    val ord = LiveView.survivorOrderSql(cols.toSeq)
    val name = s"${table}_live"
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW `$name` AS
         |SELECT ${payload.map(c => s"`$c`").mkString(", ")}
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY ${pks.map(c => s"`$c`").mkString(", ")}
         |        ORDER BY $ord) AS _rn
         |      FROM parquet.`$targetDir/$table.parquet`)
         |WHERE _rn = 1 AND `$DeletedCol` = 0""".stripMargin)
    name
  }
}
