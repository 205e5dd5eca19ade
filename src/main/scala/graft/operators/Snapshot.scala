package graft.operators

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.model.Identifiers
import graft.sources.{HadoopFs, ParquetCatalog}

/** Result of one table's replication — parity with the reference's result
  * dict (`src/replicator.py:74-85`): counts on both sides and the
  * count-match success flag (A4, the reference's entire correctness
  * oracle). */
final case class ReplicationResult(
    table: String,
    sourceCount: Long,
    targetCount: Long,
    success: Boolean,
    error: Option[String] = None)

/** Snapshot mode: full table copy source → warehouse with validation.
  *
  * Re-expresses `Replicator` (`src/replicator.py`):
  *   - O2 table-set resolution (configured list else all,
  *     `src/replicator.py:26-32`);
  *   - K3/K6 create/drop target → `SaveMode.Overwrite` parquet write (the
  *     declarative equivalent of DROP+CREATE+INSERT; the `ORDER BY(pk)` in
  *     the reference's DDL (`src/schema_converter.py:77`) is a MergeTree
  *     layout directive with no correctness meaning, so the copy keeps
  *     the source's row order);
  *   - O3 per-table pipeline: introspect → copy → validate
  *     (`replicate_table`, `src/replicator.py:65-85`). The reference's
  *     explicit batch loop (50k rows, `src/replicator.py:46-63`)
  *     disappears: Spark streams row-groups inside partitioned tasks,
  *     giving bounded memory AND intra-table parallelism the reference
  *     lacks (`README.md:462`);
  *   - A1/A2/A4 count validation (`src/replicator.py:74-81`);
  *   - O4 parallel tables (`ThreadPoolExecutor`,
  *     `src/replicator.py:105-123`) → concurrent Spark jobs from one
  *     bounded pool as wide as the session's task slots, largest table
  *     first ([[run]]) — jobs share the cluster's scheduler, and each
  *     partition owns its own connection/file handle (fixing the shared-
  *     client thread hazard noted in SURVEY.md §3.1);
  *   - O5 per-table error isolation (`src/replicator.py:135-141`).
  *
  * Scale note: the copy is a shuffle-free scan→write per table; at 100 TB
  * the only knobs that matter are input split size
  * (`spark.sql.files.maxPartitionBytes`) and output file sizing, both left
  * to the session config.
  */
final class SnapshotReplicator(
    spark: SparkSession,
    sourceDir: String,
    warehouseDir: String) {

  private val catalog = new ParquetCatalog(spark, sourceDir)

  /** O2: configured table list (else all), validated. */
  def tablesToReplicate(configured: Seq[String] = Seq.empty): Seq[String] = {
    val ts = if (configured.nonEmpty) configured else catalog.listTables()
    ts.map(Identifiers.validate(_, "table name"))
  }

  def targetPath(table: String): String = s"$warehouseDir/$table.parquet"

  /** Through [[HadoopFs]], like the catalog's source listing: the
    * warehouse may be a `file:`/`hdfs:` URI, not only a local path. */
  def targetExists(table: String): Boolean = HadoopFs.exists(targetPath(table))

  def readTarget(table: String): DataFrame =
    spark.read.parquet(targetPath(table))

  /** A2: target row count (`src/clickhouse_client.py:81-86`). A caller
    * that knows the target's schema passes it, and the re-read of the
    * target skips the schema-inference job. */
  def targetCount(table: String, schema: Option[StructType] = None): Long =
    schema.fold(readTarget(table))(spark.read.schema(_).parquet(targetPath(table)))
      .count()

  /** K7: truncate the target — empty it while preserving its schema
    * (`TRUNCATE TABLE` analog, `src/clickhouse_client.py:485` family; same
    * overwrite primitive as K3/K6). The schema is captured eagerly because
    * parquet overwrite cannot lazily read the path it is replacing. */
  def truncateTarget(table: String): Unit = {
    val schema = readTarget(table).schema
    spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      .write.mode(SaveMode.Overwrite).parquet(targetPath(table))
  }

  /** O3: one table end-to-end: count, copy, count again. */
  def replicateTable(table: String): ReplicationResult =
    Try {
      val src = catalog.read(table)
      val sourceCount = src.count() // A1 pre-copy count
      src.write.mode(SaveMode.Overwrite).parquet(targetPath(table))
      val tgtCount = targetCount(table, Some(src.schema))
      ReplicationResult(table, sourceCount, tgtCount,
        success = sourceCount == tgtCount) // A4
    } match {
      case Success(r) => r
      case Failure(e) =>
        ReplicationResult(table, -1, -1, success = false,
          error = Some(e.toString)) // O5 isolation
    }

  /** Incremental snapshot (beyond-reference: the reference re-copies full
    * tables every run): append only rows with `watermarkCol` strictly
    * greater than `lastValue`, returning the new high-watermark. At scale
    * this turns daily re-syncs from O(table) into O(delta); the predicate
    * is pushed into the source scan.
    *
    * Watermark domain: for numeric columns `lastValue` is compared raw in
    * the COLUMN'S native unit, and the returned high-watermark is in that
    * same unit — a caller holding a nanos-as-long timestamp column must
    * convert at its own boundary (incrementalSnapshot does). For
    * TIMESTAMP / TIMESTAMP_NTZ columns it is a µs-epoch long — the
    * literal is lifted into the column's native type (a foldable constant,
    * so the comparison still reaches the parquet scan as a pushed filter;
    * a `unix_micros(col) > x` form would not) and the returned
    * high-watermark is µs-epoch.
    *
    * NULL watermarks: a strict `>` predicate never matches NULL, so such
    * rows would be silently unreplicated on every run. They are therefore
    * included when `lastValue == Long.MinValue` (the documented "first
    * full run" sentinel); for later runs the watermark column must be
    * non-null — standard incremental-sync contract. */
  def replicateIncremental(table: String, watermarkCol: String,
                           lastValue: Long): (ReplicationResult, Long) = {
    Identifiers.validate(watermarkCol, "column name")
    Try {
      import org.apache.spark.sql.functions.{col, lit, max, timestamp_micros, unix_micros}
      import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
      val src = catalog.read(table)
      val raw = col(watermarkCol)
      // (native-type comparison column vs lastValue's literal, µs extractor)
      val (wmPred, wmMark) = src.schema(watermarkCol).dataType match {
        case TimestampType =>
          (raw > timestamp_micros(lit(lastValue)), unix_micros(raw))
        case _: TimestampNTZType => // UTC session: cast is value-exact
          (raw > timestamp_micros(lit(lastValue)).cast(TimestampNTZType),
            unix_micros(raw.cast(TimestampType)))
        case _ => (raw > lastValue, raw.cast("long"))
      }
      val pred =
        if (lastValue == Long.MinValue) lit(true) // first full run: all rows
        else wmPred
      val delta = src.filter(pred)
      val deltaCount = delta.count()
      val maxRow =
        if (deltaCount == 0) null
        else delta.agg(max(wmMark)).head()
      val newMark =
        if (maxRow == null || maxRow.isNullAt(0)) lastValue // all-NULL delta
        else maxRow.getLong(0)
      val before = if (targetExists(table)) targetCount(table) else 0L
      if (deltaCount > 0)
        delta.write.mode(SaveMode.Append).parquet(targetPath(table))
      // empty first run: no target was written — an empty delta is a
      // successful no-op, not a read-of-missing-path failure
      val after = if (targetExists(table)) targetCount(table) else 0L
      (ReplicationResult(table, deltaCount, after - before,
        success = deltaCount == after - before), newMark)
    } match {
      case Success(r) => r
      case Failure(e) =>
        (ReplicationResult(table, -1, -1, success = false,
          error = Some(e.toString)), lastValue)
    }
  }

  /** Schema-drift guard: the reference's documented failure mode (ALTER
    * TABLE → silent inconsistency, `README.md:491,585`) surfaced as an
    * explicit check instead. Returns a human-readable diff if the current
    * source schema no longer matches the target's. */
  def schemaDrift(table: String): Option[String] = {
    if (!targetExists(table)) return None
    val src = catalog.read(table).schema
    val tgt = readTarget(table).schema
    if (src == tgt) None
    else {
      val srcF = src.fields.map(f => f.name -> f.dataType.sql).toMap
      val tgtF = tgt.fields.map(f => f.name -> f.dataType.sql).toMap
      val added = srcF.keySet -- tgtF.keySet
      val removed = tgtF.keySet -- srcF.keySet
      val retyped = (srcF.keySet & tgtF.keySet)
        .filter(k => srcF(k) != tgtF(k))
        .map(k => s"$k: ${tgtF(k)}→${srcF(k)}")
      Some((added.map("+" + _) ++ removed.map("-" + _) ++ retyped)
        .toSeq.sorted.mkString(", "))
    }
  }

  /** O4/O5: every table in flight at once on one bounded pool of named
    * daemon threads, as wide as the session's task slots
    * (`defaultParallelism`) and at most `parallelism`. Each table's copy
    * is a handful of small jobs, so a pool as wide as the slots keeps
    * them all busy; the tables start largest first by source bytes (the
    * LPT rule: the biggest copy never starts last). Results come back in
    * the configured order, each table's failure isolated in its own
    * result; the pool's threads have ended when this returns. */
  def run(configured: Seq[String] = Seq.empty,
          parallelism: Int = Int.MaxValue): Seq[ReplicationResult] = {
    HadoopFs.mkdirs(warehouseDir) // K2 create-database analog
    val tables = tablesToReplicate(configured).toIndexedSeq
    val width = Seq(parallelism, spark.sparkContext.defaultParallelism,
      tables.size).min.max(1)
    val order = tables.indices
      .sortBy(i => -HadoopFs.size(s"$sourceDir/${tables(i)}.parquet"))
    val results = new Array[ReplicationResult](tables.size)
    val next = new java.util.concurrent.atomic.AtomicInteger
    val fatal = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val pool = (1 to width).map { w =>
      val t = new Thread(() =>
        try {
          var k = next.getAndIncrement()
          while (k < order.size) {
            results(order(k)) = replicateTable(tables(order(k)))
            k = next.getAndIncrement()
          }
        } catch { case e: Throwable => fatal.compareAndSet(null, e); () },
        s"graft-snapshot-$w")
      t.setDaemon(true)
      t.start()
      t
    }
    pool.foreach(_.join())
    Option(fatal.get).foreach(e => throw e)
    results.toSeq
  }
}
