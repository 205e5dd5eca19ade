package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.CdcTransform
import graft.sources.{BinlogFormat, BinlogSource}

/** Schema-evolving CDC ingestion at the WIRE layer — the binlog-path
  * twin of [[EvolvingCdc]], closing the reference's "No DDL replication
  * … ALTER TABLE → inconsistency" limitation
  * (`/root/reference/README.md:585`) for raw binlog files too. Where the
  * Debezium path must INFER types from JSON values, here every file's
  * TABLE_MAP declares them authoritatively (8.0 binlog_row_metadata:
  * wire types + signedness + column names), so evolution is exact:
  *
  *   - per micro-batch, the files' definitions of `table` are scanned
  *     (one bounded row per file — [[BinlogFormat.scanTableMaps]] never
  *     decodes row images) and folded into the running schema in
  *     file-ordinal order;
  *   - a definition must be PREFIX-COMPATIBLE with the running schema
  *     (MySQL's plain `ALTER TABLE … ADD COLUMN` appends; a type change
  *     or rename of an existing column is NOT widen-and-continue
  *     material and fails loudly);
  *   - a LONGER definition widens the running schema mid-stream — no
  *     restart, the same query keeps draining;
  *   - the batch decodes with the widened schema; rows from pre-ALTER
  *     files pad the added trailing columns with NULL (`padNarrower` —
  *     MySQL's own backfill semantics for ADD COLUMN), so a batch
  *     mixing pre- and post-DDL files is handled by construction;
  *   - each batch appends in its own schema; [[landed]] merges parquet
  *     footers, which is exactly the "old rows backfill as NULL"
  *     contract.
  *
  * No rewrite pass exists here by design: TABLE_MAP types are
  * authoritative, so a column never changes type mid-table — the one
  * evolution MySQL's wire can express this way is column APPEND, and
  * appends never invalidate landed files.
  *
  * Scale: the definition scan is one task per file with one collected
  * row per file; the decode is [[BinlogSource]]'s one-task-per-file
  * pass; the append shuffles nothing. Widening events are bounded by
  * the table's DDL history, not its data.
  */
object BinlogEvolvingCdc {

  /** One binlog file per micro-batch: each batch folds a single file's
    * TABLE_MAP definitions into the running schema. */
  private val FilesPerTrigger = 1

  /** Ingest every binlog file under `landing` for `table`, deriving and
    * evolving the schema from the files' own TABLE_MAPs. Returns the
    * final evolved schema; landed rows are at `tgt` (read via
    * [[landed]]). */
  def run(s: SparkSession, landing: String, tgt: String, ckp: String,
          table: String): StructType = {
    // driver-held running schema: foreachBatch runs batches sequentially
    // on the driver, like EvolvingCdc's `current`
    var current: Option[StructType] = None
    BoundedStream.drain(s.readStream.format("binaryFile")
      .schema(BinlogSource.BinaryFileSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .load(landing)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val files = batch.toDF().persist() // scanned twice: defs + decode
        try {
          val defs = files.select("path", "content")
            .as[(String, Array[Byte])](
              Encoders.tuple(Encoders.STRING, Encoders.BINARY))
            .flatMap { case (path, bytes) =>
              BinlogFormat.scanTableMaps(bytes).collect {
                case ((_, t), tm) if t == table =>
                  (path, tm.cols, tm.colNames)
              }
            }(Encoders.kryo[(String, IndexedSeq[BinlogFormat.ColumnDef],
              IndexedSeq[String])])
            .collect()
            .sortBy(d => BinlogSource.fileOrdinal(d._1))
          defs.foreach { case (path, cols, names) =>
            val st = BinlogSource.structOf(cols, names)
            current match {
              case None => current = Some(st)
              case Some(cur) =>
                val n = math.min(cur.size, st.size)
                require(cur.fields.take(n).toSeq == st.fields.take(n).toSeq,
                  s"$path redefines `$table` incompatibly (a type change " +
                    s"or rename, not an ADD COLUMN):\n${st.treeString}\n" +
                    s"vs the running\n${cur.treeString}")
                if (st.size > cur.size) current = Some(st)
            }
          }
          current.foreach { cur =>
            val decoded = BinlogSource.changesFrom(files, table, cur,
              padNarrower = true)
            CdcTransform.stampBatch(decoded, opCol = "op", seqCol = "_seq",
              batchVersionMicros = 1L)
              .drop("op", "_tbl")
              .write.mode("append").parquet(tgt)
          }
        } finally { files.unpersist(); () }
        ()
      }, ckp)
    current.getOrElse(throw new IllegalStateException(
      s"no TABLE_MAP for `$table` arrived under $landing"))
  }

  /** The evolved landed table: parquet footers merged so pre-ALTER
    * batches surface the added columns as NULL. */
  def landed(s: SparkSession, tgt: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(tgt)
}
