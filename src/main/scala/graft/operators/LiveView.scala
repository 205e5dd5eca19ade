package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

/** Dedup-to-latest read path — the engine's flagship operator.
  *
  * Re-expresses ClickHouse `ReplacingMergeTree(_version)` + `FINAL` +
  * `WHERE _deleted = 0` (engine choice `src/schema_converter.py:118`, view
  * text `src/schema_converter.py:124-138`) as a declarative Spark plan:
  * ranking window over the primary key ordered by `_version` desc with a
  * deterministic tie-break, keep rank 1, drop tombstones and meta columns.
  *
  * The reference allows duplicate `_version` per key (one stamp per
  * event-batch, `src/cdc_replicator.py:160`; one per initial-sync table,
  * `:268-273`) and lets ClickHouse keep an arbitrary survivor among equals
  * (`README.md:495-497`). We instead order by an explicit ingest sequence as
  * the tie-break so the survivor is deterministic (SURVEY.md §7.4) and
  * oracle-comparable.
  *
  * Scale note: the single hash-partition shuffle on the PK is the only
  * exchange; `row_number` needs no full sort of the table, only a
  * per-partition sort, and AQE handles skewed keys. At 100 TB this is the
  * same work ClickHouse's merge machinery would do, but distributed.
  */
object LiveView {

  /** The one survivor rule every form shares: max `_version`, then max
    * `_ingest_seq` when the columns `cols` carry it. */
  private def survivorCols(cols: Seq[String]): Seq[String] =
    VersionCol +: Seq(SeqCol).filter(cols.contains)

  private def survivorOrder(df: DataFrame): Seq[Column] =
    survivorCols(df.columns.toSeq).map(col)

  /** [[survivorCols]] as SQL `ORDER BY` text (`` `_version` DESC[,
    * `_ingest_seq` DESC] ``), for a view registered as SQL. */
  def survivorOrderSql(cols: Seq[String]): String =
    survivorCols(cols).map(c => s"`$c` DESC").mkString(", ")

  /** Keep exactly one row per key by [[survivorOrder]]. Keeps meta
    * columns. */
  def dedupLatest(df: DataFrame, pks: Seq[String]): DataFrame = {
    require(pks.nonEmpty, "dedupLatest needs at least one key column")
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(survivorOrder(df).map(_.desc): _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The generated `<table>_live` view body: latest version per key, minus
    * tombstones, meta columns projected away (P2/P3 —
    * `src/schema_converter.py:131-137`). */
  def live(df: DataFrame, pks: Seq[String]): DataFrame =
    dedupLatest(df, pks)
      .filter(col(DeletedCol) === 0)
      .drop(VersionCol, DeletedCol, SeqCol)

  /** Alternative physical form: `max_by(struct)` aggregation instead of a
    * ranking window — one shuffle with partial (map-side) aggregation,
    * often cheaper than window+sort at scale when payload is narrow.
    * Semantics identical: the same [[survivorOrder]]. */
  def dedupLatestAgg(df: DataFrame, pks: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(pks.contains)
    val picked = df
      .groupBy(pks.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*),
        struct(survivorOrder(df): _*)).as("_row"))
    payload.foldLeft(picked)((d, c) => d.withColumn(c, col(s"_row.$c")))
      .drop("_row")
      .select(df.columns.toIndexedSeq.map(col): _*) // restore original column order
  }
}
