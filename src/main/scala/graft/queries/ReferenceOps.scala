package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}
import graft.operators.{CdcTransform, Collapsing, LiveView}
import graft.sources.ParquetCatalog

/** Harness queries exercising the reference-parity operator surface
  * (SURVEY.md §2). Each entry in [[queries]] has a DuckDB oracle in
  * [[oracle]] with identical column names/types (aliases matched on both
  * sides — driver compares after sorting columns by name).
  *
  * The `events` table plays the binlog change stream (TESTDATA.md):
  * op mapping `signup→I`, `error→D`, else `U`; key = `user_id`;
  * `_version` = µs epoch of `ts`; tie-break = `event_id` (ingest seq).
  */
object ReferenceOps {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Derive the change-stream frame from `events` (ts normalized to µs). */
  def changes(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).withColumn("op",
      when(col("event_type") === "signup", CdcTransform.Insert)
        .when(col("event_type") === "error", CdcTransform.Delete)
        .otherwise(CdcTransform.Update))

  /** Stamped CDC rows (the versioned-upsert table contents). */
  def stamped(s: SparkSession, dir: String): DataFrame =
    CdcTransform.stamp(
      changes(s, dir), opCol = "op", seqCol = "event_id", version = col("ts_us"))

  /** T28: the PK-update orphan, demonstrated and repaired. The reference
    * discards UPDATE before-images (`src/cdc_replicator.py:184-186`), so a
    * PK-changing update strands the old key's last pre-update row in the
    * live view forever; [[CdcTransform.stampWithBeforeImage]] offers the
    * opt-in tombstone repair (default = parity). Scenario derived
    * deterministically from `events`: each user whose id ≡ 3 (mod 10) is
    * "renumbered" to id+1,000,000 by their chronologically LAST event
    * (ids are ≤1,500 at every SF — no collisions); all other events are
    * plain upserts. Output = a one-row ledger counting live keys and
    * orphans under BOTH modes: parity shows one orphan per moved user
    * that had an earlier event; fixed shows zero, and the two live views
    * agree everywhere else. All six numbers are recomputable from the
    * event log alone, which is what the oracle does. */
  def pkUpdateOrphan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        col("ts_us"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val changes = ev
      .withColumn("_rn", row_number().over(w))
      .withColumn("_moved", col("user_id") % 10 === 3 && col("_rn") === 1)
      .select(
        lit(CdcTransform.Update).as("op"),
        col("user_id").as("before_key"),
        when(col("_moved"), col("user_id") + 1000000L)
          .otherwise(col("user_id")).as("key"),
        col("event_type"), col("value"), col("ts_us"), col("event_id"))
    def liveKeys(fix: Boolean): DataFrame =
      LiveView.live(
        CdcTransform.stampWithBeforeImage(changes, opCol = "op",
            seqCol = "event_id", version = col("ts_us"), keyCol = "key",
            beforeKeyCol = "before_key", fixPkUpdateOrphans = fix)
          .select(col("key"), col("event_type"), col("value"),
            col(VersionCol), col(SeqCol), col(DeletedCol)),
        pks = Seq("key"))
    val oldKeys = changes.filter(col("key") =!= col("before_key"))
      .select(col("before_key").as("mk")).distinct()
    def counts(lv: DataFrame): (Long, Long) = {
      val c = graft.GateCache.cache(lv.select(col("key")))
      (c.count(), c.join(broadcast(oldKeys), col("key") === col("mk"),
        "left_semi").count())
    }
    val (parityLive, parityOrphans) = counts(liveKeys(fix = false))
    val (fixedLive, fixedOrphans) = counts(liveKeys(fix = true))
    val nUsers = ev.select(col("user_id")).distinct().count()
    val nAffected = oldKeys.count()
    import s.implicits._
    Seq((nUsers, nAffected, parityLive, fixedLive, parityOrphans,
        fixedOrphans))
      .toDF("n_users", "n_affected", "parity_live", "fixed_live",
        "parity_orphans", "fixed_orphans")
  }

  /** Flagship: the `<table>_live` dedup view over the stamped stream
    * (W1+P2+P3 — ClickHouse FINAL + `_deleted=0` semantics). */
  def liveView(s: SparkSession, dir: String): DataFrame =
    LiveView.live(
      stamped(s, dir).select("user_id", "event_type", "value", "props",
        VersionCol, SeqCol, DeletedCol),
      pks = Seq("user_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3/P1: projection + predicate pushed into the parquet scan.
    "s3_scan_projection" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .filter(col("l_quantity") > 45)),

    // A1/A2: COUNT(*).
    "a1_count_star" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    // S1 + A1 + A4: catalog enumeration with per-table counts — the
    // count-reconciliation surface (`src/replicator.py:74-81`).
    "a4_table_counts" -> ((s, dir) => {
      val cat = new ParquetCatalog(s, dir)
      cat.listTables().map { name =>
        t(s, dir, name)
          .agg(count(lit(1)).as("cnt"))
          .select(lit(name).as("table_name"), col("cnt"))
      }.reduce(_ unionByName _)
    }),

    // P6/F1/F2 + §2.6 union: stamped change rows, aggregated per op for a
    // stable oracle shape (counts exact; sums over decimal-cast values).
    "p6_cdc_stamp" -> ((s, dir) =>
      stamped(s, dir)
        .groupBy(col("op"), col(DeletedCol).as("deleted"))
        .agg(count(lit(1)).as("n_rows"),
             sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").as("sum_value"),
             max(col(VersionCol)).as("max_version"))),

    // W1/P2/P3/K5: the live view itself.
    "w1_live_view" -> ((s, dir) => liveView(s, dir)),

    // T28: PK-update orphan — parity mode reproduces the reference's
    // stranded-old-key bug; fixed mode (stampWithBeforeImage tombstones)
    // eliminates it. See pkUpdateOrphan.
    "t28_pk_update_orphan" -> ((s, dir) => pkUpdateOrphan(s, dir)),

    // W1 alternative physical form: max_by aggregation — must agree with
    // the window form; exposed so the oracle pins both.
    "w1_live_view_aggform" -> ((s, dir) =>
      LiveView.dedupLatestAgg(
          stamped(s, dir).select("user_id", "event_type", "value", "props",
            VersionCol, SeqCol, DeletedCol),
          pks = Seq("user_id"))
        .filter(col(DeletedCol) === 0)
        .drop(VersionCol, DeletedCol, SeqCol)),

    // CollapsingMergeTree FINAL (the sibling ClickHouse engine family):
    // the stream's sign-changelog, sum-of-signs collapsed — must produce
    // the exact ReplacingMergeTree live rows, so the oracle is w1's.
    "x_collapsing_final" -> ((s, dir) => {
      val st = stamped(s, dir).select("user_id", "event_type", "value",
        "props", VersionCol, SeqCol, DeletedCol)
      val payload = Seq("event_type", "value", "props")
      Collapsing.collapseFinal(
        Collapsing.changelog(st, pks = Seq("user_id"), payload = payload),
        pks = Seq("user_id"), payload = payload)
    })
  )

  val oracle: Map[String, String] = Map(
    "s3_scan_projection" ->
      """SELECT l_orderkey, l_linenumber, l_quantity
        |FROM lineitem WHERE l_quantity > 45""".stripMargin,

    "a1_count_star" -> "SELECT count(*) AS cnt FROM lineitem",

    "a4_table_counts" ->
      """SELECT 'customer' AS table_name, count(*) AS cnt FROM customer
        |UNION ALL SELECT 'documents', count(*) FROM documents
        |UNION ALL SELECT 'embeddings', count(*) FROM embeddings
        |UNION ALL SELECT 'events', count(*) FROM events
        |UNION ALL SELECT 'lineitem', count(*) FROM lineitem
        |UNION ALL SELECT 'nation', count(*) FROM nation
        |UNION ALL SELECT 'orders', count(*) FROM orders
        |UNION ALL SELECT 'part', count(*) FROM part
        |UNION ALL SELECT 'region', count(*) FROM region
        |UNION ALL SELECT 'supplier', count(*) FROM supplier""".stripMargin,

    "p6_cdc_stamp" ->
      """SELECT CASE WHEN event_type='signup' THEN 'I'
        |            WHEN event_type='error' THEN 'D' ELSE 'U' END AS op,
        |       CASE WHEN event_type='error' THEN 1 ELSE 0 END AS deleted,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       max(epoch_us(ts)) AS max_version
        |FROM events GROUP BY 1, 2""".stripMargin,

    "w1_live_view" -> LiveViewOracle,

    // The six ledger numbers recomputed from the event log alone: the
    // orphan count is exactly "moved users with a second event" (their
    // last event leaves under the new key; anything older survives under
    // the old key in parity mode and is tombstoned in fixed mode).
    // BIGINT-safe: count(*) is BIGINT and + of BIGINTs stays BIGINT.
    "t28_pk_update_orphan" ->
      """WITH per_user AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |aff AS (SELECT user_id, n FROM per_user WHERE user_id % 10 = 3)
        |SELECT
        |  (SELECT count(*) FROM per_user) AS n_users,
        |  (SELECT count(*) FROM aff) AS n_affected,
        |  (SELECT count(*) FROM per_user WHERE user_id % 10 <> 3)
        |    + (SELECT count(*) FROM aff WHERE n >= 2)
        |    + (SELECT count(*) FROM aff) AS parity_live,
        |  (SELECT count(*) FROM per_user WHERE user_id % 10 <> 3)
        |    + (SELECT count(*) FROM aff) AS fixed_live,
        |  (SELECT count(*) FROM aff WHERE n >= 2) AS parity_orphans,
        |  CAST(0 AS BIGINT) AS fixed_orphans""".stripMargin,
    "w1_live_view_aggform" -> LiveViewOracle,
    // cross-engine-family equivalence: Collapsing FINAL over the derived
    // sign-changelog must reproduce the Replacing FINAL rows exactly
    "x_collapsing_final" -> LiveViewOracle
  )

  /** Shared by w1 (read path), its aggform, and the stateful write-path
    * gate (t6) — all three must produce the same survivors. */
  lazy val LiveViewOracle =
    """SELECT user_id, event_type, value, props FROM (
      |  SELECT user_id, event_type, value, props,
      |         CASE WHEN event_type='error' THEN 1 ELSE 0 END AS _deleted,
      |         row_number() OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1 AND _deleted = 0""".stripMargin
}
