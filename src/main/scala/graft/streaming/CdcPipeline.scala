package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.CdcTransform

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
  *   - T7 initial sync → [[initialSync]] bulk append with a single
  *     `_version`, then the stream starts (offset handoff is the
  *     checkpoint's job);
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
    * `src/cdc_replicator.py:263-278`). */
  def initialSync(snapshot: DataFrame, table: String,
                  versionMicros: Long, seqCol: String): Unit =
    snapshot
      .withColumn("op", lit(CdcTransform.Insert))
      .transform(df => CdcTransform.stampBatch(df, "op", seqCol, versionMicros))
      .drop("op", seqCol) // bookkeeping absorbed into _ingest_seq
      .write.mode("append").parquet(s"$targetDir/$table.parquet")

  /** Start the change-stream apply: change rows (op column I/U/D) →
    * batch-stamped upsert rows appended to the target. `versionOf` maps a
    * micro-batch id to its version stamp (injectable for deterministic
    * tests; production passes µs wall clock like the reference's
    * `int(now()*1e6)`, `src/cdc_replicator.py:147-148`).
    *
    * `beforeImage = Some((keyCol, beforeKeyCol))` routes the batch through
    * [[CdcTransform.stampWithBeforeImage]] so a PK-changing update also
    * tombstones its old key when `fixPkUpdateOrphans` is on
    * (`ReplicationConfig.fixPkUpdateOrphans`; default preserves the
    * reference's orphaning behavior — T28).
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
            beforeImage: Option[(String, String)] = None,
            fixPkUpdateOrphans: Boolean = false,
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
          // drop bookkeeping columns after stamping so applied rows share
          // the initial-sync schema (source cols + meta cols)
          val stamped = beforeImage match {
            case Some((keyCol, beforeKeyCol)) =>
              CdcTransform.stampWithBeforeImage(df, opCol, seqCol,
                lit(versionOf(batchId)), keyCol, beforeKeyCol,
                fixPkUpdateOrphans)
            case None =>
              CdcTransform.stampBatch(df, opCol, seqCol, versionOf(batchId))
          }
          stamped.drop((Seq(opCol, seqCol) ++ tableCol.toSeq ++ dropCols): _*)
            .write.mode("append").parquet(s"$targetDir/$table.parquet")
          onBatchApplied.foreach(f => f(df))
        } finally if (onBatch.isDefined || onBatchApplied.isDefined) {
          df.unpersist(); ()
        }
        ()
      }
      .start()
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
    val ord = (VersionCol +: Seq(SeqCol).filter(cols.contains))
      .map(c => s"`$c` DESC").mkString(", ")
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
