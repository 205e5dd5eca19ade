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

  /** Keep exactly one row per key: max `_version`, ties broken by the last
    * value of `tieBreak` (descending). Keeps meta columns. */
  def dedupLatest(
      df: DataFrame,
      pks: Seq[String],
      versionCol: String = VersionCol,
      tieBreak: Option[String] = None): DataFrame = {
    require(pks.nonEmpty, "dedupLatest needs at least one key column")
    val order: Seq[Column] = col(versionCol).desc +:
      tieBreak.orElse(Option(SeqCol).filter(df.columns.contains))
        .map(c => col(c).desc).toSeq
    val w = Window.partitionBy(pks.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** The generated `<table>_live` view body: latest version per key, minus
    * tombstones, meta columns projected away (P2/P3 —
    * `src/schema_converter.py:131-137`). */
  def live(
      df: DataFrame,
      pks: Seq[String],
      tieBreak: Option[String] = None): DataFrame =
    dedupLatest(df, pks, VersionCol, tieBreak)
      .filter(col(DeletedCol) === 0)
      .drop(VersionCol, DeletedCol, SeqCol)

  /** Alternative physical form: `max_by(struct)` aggregation instead of a
    * ranking window — one shuffle with partial (map-side) aggregation,
    * often cheaper than window+sort at scale when payload is narrow.
    * Semantics identical given the composite (version, tie) ordering. */
  def dedupLatestAgg(
      df: DataFrame,
      pks: Seq[String],
      versionCol: String = VersionCol,
      tieBreak: Option[String] = None): DataFrame = {
    val payload = df.columns.filterNot(pks.contains)
    // same automatic _ingest_seq fallback as dedupLatest, so the two
    // physical forms stay semantically identical under duplicate versions
    val ord = tieBreak
      .orElse(Option(SeqCol).filter(df.columns.contains)) match {
      case Some(t) => struct(col(versionCol), col(t))
      case None    => struct(col(versionCol))
    }
    val picked = df
      .groupBy(pks.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), ord).as("_row"))
    payload.foldLeft(picked)((d, c) => d.withColumn(c, col(s"_row.$c")))
      .drop("_row")
      .select(df.columns.toIndexedSeq.map(col): _*) // restore original column order
  }
}
