package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}
import graft.operators.LiveView

/** Warehouse-analytics extensions: the remaining TPC-H shapes expressible
  * over the harness star schema (Q2/Q9/Q11/Q12/Q20 live in
  * [[Procurement]] over staged/derived deterministic columns; Q21 is
  * `q21_sole_late_supplier` in [[Analytics]] — every TPC-H shape now has
  * a gate), plus four data-management operators a
  * user of the reference's sync tool needs around the replicated tables:
  * SCD2 history from the change stream, snapshot diff, column profiling,
  * and exact distributed quantiles/correlation.
  *
  * Same determinism-for-oracle rules as [[Analytics]]: decimal sums, total
  * orders on every top-k, no raw timestamps out, and divisions only as one
  * final double op over exact decimal inputs (identical IEEE rounding in
  * both engines when the expression tree matches the oracle's).
  */
object Warehouse {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  private def discPrice: Column =
    (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(22,6)")

  /** Snapshot-diff cutoff: 2024-01-15T00:00:00Z in µs epoch (events span
    * 2024-01-01..2024-01-30 at every SF — TESTDATA.md). */
  val DiffCutoffUs = 1705276800000000L

  val CmsD = 4 // Count-Min sketch depth (4 hash rows = 4 md5 windows)
  val CmsW = 1024 // Count-Min sketch width (buckets per row)
  val CmsTopK = 20 // heavy-hitter candidates probed against the sketch
  val KAnonK = 10 // k-anonymity: min group size a published row may have
  val DdGamma = 1.02 // DDSketch bucket ratio — ≤ ~1% relative error
  // ((γ−1)/(γ+1)); ~1160 buckets span [1, 1e10], size independent of rows

  /** The frozen-reservoir draw behind `x_reservoir_sample`, re-drawable:
    * `pass` salts the ranking hash (`rsv<pass>`) so pass 2 is an
    * INDEPENDENT exactly-k draw from pass 1 — bootstrap resamples and
    * per-epoch subsets need repeated draws a fixed salt can't serve (the
    * [[Curation.weightedSample]] contract, extended family-wide per r9
    * ADVICE #7). The gate is exactly pass 1. */
  def reservoirSample(s: SparkSession, dir: String, pass: Int): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("_h").asc, col("doc_id").asc)
    t(s, dir, "documents")
      .withColumn("_h",
        graft.functions.PortableHash.md5Hex(col("doc_id").cast("string"), s"rsv$pass"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("source"), col("rk"), col("n_chars"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Typed-Aggregator UDAF (graft.functions.TopKAgg): per-priority top-3
    // order values in cents through Spark's two-phase aggregation with a
    // k-BOUNDED partial buffer — identical answer to
    // sort_array(collect_list)[0:3] but the partial state is 3 longs, not
    // the whole group (the collect_list formulation buffers a hot group's
    // entire history per task before slicing; at 100 TB that's the OOM).
    // Values joined to one string so the multiset — not any tie-broken
    // row identity — is what the oracle hashes.
    "x_topk_udaf" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy(col("o_orderpriority"))
        .agg(graft.functions.TopKAgg.topK(3)(col("cents")).as("_top"))
        .select(col("o_orderpriority"),
          concat_ws(",", col("_top")).as("top3_cents"))),

    // Wide→long melt (the inverse of pivot_orders_by_priority): per-nation
    // customer metrics unpivoted to (nation, metric, value) rows. Spark's
    // native unpivot — an Expand node, zero shuffle beyond the agg's own;
    // metrics cast to a common double type as unpivot requires.
    "x_unpivot_metrics" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).cast("double").as("n_customers"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("acctbal_sum"))
        .unpivot(Array(col("c_nationkey")),
          Array(col("n_customers"), col("acctbal_sum")),
          "metric", "value")),

    // Runtime bloom-filter join: the row-level complement of DPP for
    // non-broadcastable dims. A bloom filter built from the filtered dim's
    // join keys is injected into the fact scan AT RUNTIME, discarding
    // non-matching rows before the shuffle — at 100 TB this turns a
    // full-fact shuffle join into a shuffle of the ~matching rows only.
    // Harness-scale tuning to model the big-dim case: the app-side scan
    // threshold drops to 0 (default engages at multi-GB) and broadcast is
    // disabled — InjectRuntimeFilter deliberately skips broadcastable
    // creation sides (a broadcast join needs no bloom), which at sf0.001
    // is every dim. RuntimeFilterSpec pins
    // `bloom_filter_might_contain` on the executed plan.
    "x_bloom_join" -> ((s, dir) => {
      // tuned confs live on an ISOLATED child session (shared context +
      // catalog, own conf — the b3/b4 pattern) so gates running
      // concurrently never observe the -1 broadcast thresholds; the
      // previous set/restore window could flip their plan-shape asserts
      val iso = s.newSession()
      iso.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      iso.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      val dim = t(iso, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      t(iso, dir, "lineitem")
        .join(dim, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(discPrice).cast("decimal(38,6)").cast("double").as("revenue"))
    }),

    // Deterministic PII pseudonymization: names replaced by a salted
    // SHA-256 token — the same input always maps to the same token, so
    // referential integrity (joins, dedup, per-entity aggregation)
    // survives masking; the raw value is unrecoverable. The gate proves
    // tokens stay 1:1 with customers (n_tokens = n_customers per
    // segment). Scan-only — no shuffle beyond the aggregation's own.
    "x_pseudonymize" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_mktsegment"),
          sha2(concat(lit("graft:"), col("c_name")), 256).as("name_token"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          countDistinct(col("name_token")).as("n_tokens"),
          min(col("name_token")).as("first_token"))),

    // k-anonymity suppression (Sweeney 2002) — the release-side privacy
    // op next to x_pseudonymize's masking: aggregates over the
    // quasi-identifier (nation, segment) are published only for groups
    // with ≥ KAnonK members; smaller groups collapse into ONE __other__
    // bucket (their counts and sums still included, so totals reconcile —
    // suppression, not deletion). The training-data use: corpus metadata
    // reports that cannot isolate an individual contributor. Scale: one
    // partial-agg'd shuffle on the quasi-identifier; the suppressed set
    // is a scalar aggregate over the (≤ |QI| card) group frame — no
    // second corpus pass. Decimal-exact sums, double only at the edge;
    // the __other__ row is emitted even when nothing was suppressed
    // (coalesced zeros), so the schema and row-set shape are SF-stable.
    "x_kanon_agg" -> ((s, dir) => {
      val g = graft.GateCache.cache(t(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("_n"),
          sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(38,2)").as("_s")))
      val pub = g.filter(col("_n") >= KAnonK)
        .select(col("c_nationkey").cast("string").as("nation"),
          col("c_mktsegment").as("segment"),
          col("_n").as("n_members"),
          col("_s").cast("double").as("bal_total"))
      val other = g.filter(col("_n") < KAnonK)
        .agg(coalesce(sum(col("_n")), lit(0L)).as("n_members"),
          coalesce(sum(col("_s")), lit(java.math.BigDecimal.ZERO)
            .cast("decimal(38,2)")).cast("double").as("bal_total"))
        .select(lit("__other__").as("nation"), lit("__other__").as("segment"),
          col("n_members"), col("bal_total"))
      pub.unionByName(other)
    }),

    // Equi-width histogram (distribution profiling): 20 buckets over
    // [min, max] of the order totals, bucket edges from one exact
    // min/max pass. Two scans, both shuffle-free (partial-agg'd scalar
    // aggregates + a 20-group agg).
    "x_histogram" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val mm = o.agg(min(col("o_totalprice")).as("mn"),
        max(col("o_totalprice")).as("mx"))
      val bucket = least(floor((col("o_totalprice") - col("mn")) /
          ((col("mx") - col("mn")) / 20.0)), lit(19.0)).cast("int")
      o.crossJoin(broadcast(mm))
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // Sliding (hopping) windows — each event lands in length/slide
    // windows (here 2): the third windowing shape next to t5's tumbling
    // and t5_sessionized's session windows. Spark expands via a
    // generator before the one aggregation shuffle; the oracle restates
    // the expansion as a 2-way UNION of shifted hour-truncs.
    "x_sliding_windows" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(timestamp_micros(col("ts_us")), "2 hours", "1 hour"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("ws_us"),
          col("n_events"))),

    // Frequent-values profiling: per-column top-3 values with exact
    // counts (total-order ties) — completes the profiling family next to
    // x_profile's column stats and x_histogram's distribution. One
    // aggregation per profiled column, unioned FIRST, then ONE ranking
    // window partitioned by column_name: no global single-partition sort
    // (profiling a high-cardinality column would funnel every distinct
    // value through one reducer under Window.orderBy), and Spark 4's
    // WindowGroupLimit still prunes to top-3 map-side per column.
    "x_freq_profile" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      def counts(colName: String): DataFrame =
        c.groupBy(col(colName).cast("string").as("value"))
          .agg(count(lit(1)).as("cnt"))
          .select(lit(colName).as("column_name"), col("value"), col("cnt"))
      val w = Window.partitionBy(col("column_name"))
        .orderBy(col("cnt").desc, col("value").asc)
      counts("c_mktsegment").unionByName(counts("c_nationkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("column_name"), col("value"), col("cnt"), col("rk"))
    }),

    // Data-quality constraint audit (the Deequ shape): each rule is a
    // conditional count folded into ONE scan — no per-rule passes. The
    // violation counts are exact, so a pipeline can gate promotion on
    // them ("fail the load if any violations"), which is how a 100 TB
    // ingest keeps bad batches out of the lake.
    "x_dq_checks" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def violations(c: Column): Column =
        sum(when(c, 0L).otherwise(1L)).cast("long")
      li.agg(
        count(lit(1)).as("n_rows"),
        violations(col("l_quantity").between(1, 50)).as("qty_range_viol"),
        violations(col("l_discount").between(0.0, 0.1)).as("disc_range_viol"),
        violations(col("l_extendedprice") > 0).as("price_pos_viol"),
        violations(col("l_orderkey").isNotNull &&
          col("l_partkey").isNotNull).as("key_null_viol"),
        (count(lit(1)) - countDistinct(col("l_orderkey"),
          col("l_linenumber"))).cast("long").as("pk_dup_viol"))
    }),

    // Cross-table referential integrity (the DQ family's join rules):
    // orphan counts via anti joins — at 100 TB each is one broadcast or
    // shuffle anti join, and a nonzero count fails the load the same way
    // x_dq_checks' row rules do.
    "x_dq_referential" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      li.join(o.select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"),
          "left_anti")
        .agg(count(lit(1)).as("orphan_lineitems"))
        .crossJoin(o.join(c.select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("orphan_orders")))
        .crossJoin(li.agg(count(lit(1)).as("n_lineitems")))
        .crossJoin(o.agg(count(lit(1)).as("n_orders")))
    }),

    // Incremental materialized-view maintenance: the per-priority order
    // MV is refreshed by merging the OLD aggregate with the delta's
    // aggregate — never rescanning history. Works because sum/count are
    // mergeable (the same property partial aggregation exploits); the
    // oracle recomputes from scratch, proving merge ≡ full recompute.
    // At 100 TB: refresh cost ~ delta size, not table size.
    "x_incr_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val cut = to_date(lit("1996-01-01"))
      def aggOf(df: DataFrame): DataFrame =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("total"))
      val mv0 = aggOf(o.filter(col("o_orderdate") < cut)) // yesterday's MV
      val delta = aggOf(o.filter(col("o_orderdate") >= cut)) // new partition
      mv0.unionByName(delta)
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("n_orders")).cast("long").as("n_orders"),
          sum(col("total")).cast("decimal(38,2)").cast("double").as("total"))
    }),

    // TPC-H Q6 shape: pure scan + filter + global agg. The whole predicate
    // pushes into the parquet scan; no shuffle at all (partial agg → one
    // exchange of 32 single-row partials).
    "q6_forecast_revenue" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
            lit("1996-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp"))
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(sum((col("l_extendedprice") * col("l_discount")).cast("decimal(22,6)"))
            .cast("decimal(38,6)").as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q8 shape: market share — conditional share of one nation's
    // supply volume within a region, per year. All dims broadcast; the
    // only shuffle is orders⋈lineitem. The share is ONE double division
    // over two exact decimal sums (numerator/denominator shapes identical
    // to the oracle's, so IEEE rounding agrees).
    "q8_market_share" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val supp = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region").filter(col("r_name") === "AMERICA")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          sum(when(col("n_name") === "NATION_6", discPrice)
            .otherwise(lit(0).cast("decimal(22,6)"))).cast("decimal(38,6)").as("_num"),
          sum(discPrice).cast("decimal(38,6)").as("_den"))
        .select(col("o_year"),
          (col("_num").cast("double") / col("_den").cast("double")).as("mkt_share"))
    }),

    // TPC-H Q10 shape: returned-item revenue ranking — fact⋈fact shuffle
    // join (orders⋈lineitem), customer/nation broadcast, then a global
    // top-20 (TakeOrderedAndProject — executors keep 20 rows each; no
    // full sort at any scale).
    "q10_returned_items" -> ((s, dir) => {
      val ord = t(s, dir, "orders").filter(col("o_orderdate").between(
        lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
      t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
        .agg(sum(discPrice).cast("decimal(38,6)").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // TPC-H Q13 shape: customer order-count distribution — the LEFT OUTER
    // join surface (customers with zero qualifying orders land in the
    // c_count=0 bucket). Two aggregations; the second one is tiny.
    "q13_customer_distribution" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))),

    // TPC-H Q14 shape: promotion share of one ship-month's revenue —
    // conditional aggregate ratio; part broadcast; single-row output.
    "q14_promo_effect" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-06-01").cast("timestamp"), lit("1996-06-30").cast("timestamp")))
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", discPrice)
            .otherwise(lit(0).cast("decimal(22,6)"))).cast("decimal(38,6)").as("_num"),
          sum(discPrice).cast("decimal(38,6)").as("_den"))
        .select((lit(100.0) * col("_num").cast("double") / col("_den").cast("double"))
          .as("promo_pct"))),

    // TPC-H Q15 shape: top supplier — scalar MAX subquery joined back by
    // exact decimal equality (ties all returned, as in the spec). The
    // 1-row max frame is broadcast; per-supplier revenue aggregates once.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate").between(
          lit("1996-01-01").cast("timestamp"), lit("1996-03-31").cast("timestamp")))
        .groupBy(col("l_suppkey"))
        .agg(sum(discPrice).cast("decimal(38,6)").as("total_revenue"))
      val mx = rev.agg(max(col("total_revenue")).as("_mx"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_revenue") === col("_mx"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // TPC-H Q16 shape (adapted: supplier variety observed in lineitem —
    // the reference schema has no partsupp): distinct suppliers per
    // (brand, type, size) for non-excluded parts. countDistinct plans as
    // a two-level partial-distinct aggregate (map-side dedup first).
    "q16_supplier_variety" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
            .filter(!col("p_brand").isin("Brand#1", "Brand#2")
              && col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))),

    // SCD2 history over the change stream: each key's versions become
    // validity intervals [valid_from, valid_to) via lead() — the
    // slowly-changing-dimension view a warehouse keeps alongside the
    // reference's latest-state live view. One hash exchange on user_id +
    // per-partition sort; no self-join.
    "x_scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from").asc, col(SeqCol).asc)
      ReferenceOps.stamped(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          col(DeletedCol).as("deleted"),
          col(VersionCol).as("valid_from"), col(SeqCol))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull && col("deleted") === 0)
        .drop(SeqCol)
    }),

    // Snapshot diff: reconcile the live view as-of the cutoff against the
    // final live view — added/removed/changed/unchanged per key. This is
    // the count-match validation (A4) upgraded to row granularity, and
    // the FULL OUTER join surface. Both sides dedup map-side
    // (WindowGroupLimit); the diff join shuffles each once on user_id.
    // Cross-table CONSISTENT snapshot cut: orders and lineitem are
    // versioned together (v0 = the ⅔ of orders with key % 3 ≠ 0 plus
    // exactly their lineitems; v1 = everything), and the gate proves the
    // property a multi-table warehouse needs: reading BOTH tables at the
    // SAME version has zero referential violations, while a MIXED read
    // (lineitem@v1 against orders@v0) orphans every lineitem of a
    // v1-only order. Versions are independent directories (TimeTravel),
    // so a consistent cut is just "pin one version number across
    // tables" — no cross-table lock, readers never block writers. The
    // violation check is a broadcast-able anti join on the FK.
    "x_consistent_cut" -> ((s, dir) => {
      import graft.operators.TimeTravel
      val root = graft.GateCache.tempDir("graft_cut").toString
      val o = t(s, dir, "orders").select(col("o_orderkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"))
      val oV0 = o.filter(col("o_orderkey") % 3 =!= 0)
      TimeTravel.write(oV0, s"$root/orders")
      TimeTravel.write(
        l.join(oV0, col("l_orderkey") === col("o_orderkey"), "left_semi"),
        s"$root/lineitem")
      TimeTravel.write(o, s"$root/orders")
      TimeTravel.write(l, s"$root/lineitem")
      def violations(li: DataFrame, ord: DataFrame) =
        li.join(ord, col("l_orderkey") === col("o_orderkey"), "left_anti")
          .count()
      val cut0 = violations(TimeTravel.readAt(s, s"$root/lineitem", 0),
        TimeTravel.readAt(s, s"$root/orders", 0))
      val cut1 = violations(TimeTravel.readAt(s, s"$root/lineitem", 1),
        TimeTravel.readAt(s, s"$root/orders", 1))
      val mixed = violations(TimeTravel.readAt(s, s"$root/lineitem", 1),
        TimeTravel.readAt(s, s"$root/orders", 0))
      val cutRows = TimeTravel.readAt(s, s"$root/lineitem", 0).count()
      import s.implicits._
      Seq((cut0, cut1, mixed, cutRows))
        .toDF("cut_v0_violations", "cut_v1_violations",
          "mixed_read_violations", "v0_lineitem_rows")
    }),

    "x_snapshot_diff" -> ((s, dir) => {
      val st = ReferenceOps.stamped(s, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("props"),
          col(VersionCol), col(SeqCol), col(DeletedCol))
      def live(f: DataFrame, p: String) =
        LiveView.live(f, pks = Seq("user_id"))
          .select(col("user_id").as(s"${p}_uid"), col("event_type").as(s"${p}_et"),
            col("value").as(s"${p}_v"), col("props").as(s"${p}_p"))
      val a = live(st.filter(col(VersionCol) <= DiffCutoffUs), "a")
      val b = live(st, "b")
      a.join(b, col("a_uid") === col("b_uid"), "full_outer")
        .select(
          coalesce(col("a_uid"), col("b_uid")).as("user_id"),
          when(col("a_uid").isNull, "added")
            .when(col("b_uid").isNull, "removed")
            .when(!(col("a_et") <=> col("b_et") && col("a_v") <=> col("b_v")
              && col("a_p") <=> col("b_p")), "changed")
            .otherwise("unchanged").as("status"))
    }),

    // Column profiling (data-quality surface): null count + distinct count
    // per column of `orders` in ONE scan — a single multi-distinct
    // aggregate (Catalyst plans Expand, one pass over the input), then a
    // stack() unpivot of the 1-row result. No per-column re-scan.
    "x_profile_columns" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      val aggs = cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct")))
      val one = t(s, dir, "orders").agg(aggs.head, aggs.tail: _*)
      one.selectExpr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', `${c}__nulls`, `${c}__distinct`").mkString(", ") +
          ") AS (col_name, n_nulls, n_distinct)")
    }),

    // Exact distributed quantiles per group — integer-exact forms (no
    // interpolation floats): median as sum-of-middle-two ×2 in cents,
    // p90/p99 as discrete rank picks. One window exchange on the group
    // key; rank targets are integer arithmetic, so both engines agree
    // bit-for-bit. (approx_percentile is the 100 TB fast path; this is
    // the exact-oracle form pinning semantics.)
    // Exact WEIGHTED quantiles (ClickHouse quantileExactWeighted): per
    // return flag, the weighted median and p90 of line price with the
    // line QUANTITY as weight. The definition is order-free — equal
    // prices are collapsed first (one partial-agg shuffle), the
    // cumulative weight is a window over the now-total price order, and
    // quantile q = min price with cum ≥ q·total (all in exact integer
    // cents/weights: 2·cum ≥ tot, 10·cum ≥ 9·tot — no float rank
    // interpolation to diverge between engines). Scale shape: the window
    // runs over O(distinct prices per group), not O(rows); the row-level
    // work is the collapsing partial agg riding the scan.
    "x_weighted_quantiles" -> ((s, dir) => {
      val collapsed = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          col("l_quantity").cast("long").as("w"))
        .groupBy(col("l_returnflag"), col("price_cents"))
        .agg(sum(col("w")).as("w"))
      val g = Window.partitionBy(col("l_returnflag"))
      val cumW = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("price_cents").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      collapsed
        .withColumn("cum", sum(col("w")).over(cumW))
        .withColumn("tot", sum(col("w")).over(g))
        .groupBy(col("l_returnflag"))
        .agg(
          min(when(col("cum") * 2 >= col("tot"), col("price_cents")))
            .as("wmedian_cents"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("price_cents")))
            .as("wp90_cents"),
          max(col("tot")).as("total_weight"))
    }),

    "x_percentiles" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("cents").asc)
      val mid1 = expr("(n + 1) div 2") // integer div — exact rank targets
      val mid2 = expr("(n + 2) div 2")
      val p90 = expr("(n * 9 + 9) div 10")
      val p99 = expr("(n * 99 + 99) div 100")
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("rn") === mid1 && mid1 === mid2, col("cents") * 2)
            .when(col("rn") === mid1 || col("rn") === mid2, col("cents"))
            .otherwise(0L)).as("median_x2_cents"),
          max(when(col("rn") === p90, col("cents"))).as("p90_cents"),
          max(when(col("rn") === p99, col("cents"))).as("p99_cents"))
    }),

    // Anti-entropy table checksum (pt-table-checksum style): per-bucket
    // row count + order-independent XOR of a portable row hash. Run the
    // same statement on source and replica and compare buckets — drift
    // localizes to a bucket without shipping rows. Scan + one tiny
    // shuffle (32 buckets); the hash is codegen'd MD5 (PortableHash), no
    // UDF. XOR commutes, so partial aggregation works map-side and row
    // order never matters; count catches the self-canceling duplicate-
    // pair case XOR alone would miss.
    "x_table_checksum" -> ((s, dir) => {
      val canon = concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(9,2)").cast("string"),
        col("l_extendedprice").cast("decimal(18,2)").cast("string"),
        col("l_discount").cast("decimal(4,2)").cast("string"),
        col("l_tax").cast("decimal(4,2)").cast("string"),
        col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate").cast("string"))
      t(s, dir, "lineitem")
        .select(pmod(col("l_orderkey"), lit(32)).cast("int").as("bucket"),
          graft.functions.PortableHash.hash32(canon, "cksum").as("_rh"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(_rh)").as("xor_hash"))
    }),

    // Explicit GROUPING SETS (beyond rollup/cube): caller-chosen set list
    // + grouping() indicators, through the SQL surface. Single pass —
    // Catalyst expands the sets without re-scanning the join.
    "x_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      t(s, dir, "customer").createOrReplaceTempView("gs_customer")
      t(s, dir, "nation").createOrReplaceTempView("gs_nation")
      s.sql("""SELECT n_name, o_orderpriority,
              |  CAST(grouping(n_name) AS INT) AS g_nation,
              |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
              |  count(*) AS n_orders,
              |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS total
              |FROM gs_orders
              |JOIN gs_customer ON o_custkey = c_custkey
              |JOIN gs_nation ON c_nationkey = n_nationkey
              |GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
              |  (o_orderpriority))""".stripMargin)
    }),

    // Deterministic exactly-k-per-group sampling ("frozen reservoir"):
    // rank each group by a portable hash and keep the top k — unlike the
    // ppm-threshold stratified sample (fraction-based, size varies), this
    // pins the sample SIZE. WindowGroupLimit prunes to k rows map-side
    // before the single group-key exchange, so the shuffle carries
    // ~k·|groups| rows regardless of corpus size.
    "x_reservoir_sample" -> ((s, dir) => reservoirSample(s, dir, pass = 1)),

    // Z-order re-layout roundtrip: lineitem rewritten so files cover
    // compact (partkey, suppkey) rectangles — min/max stats then prune
    // scans on EITHER column (ZOrderSpec pins the pruning win; this gate
    // pins that re-layout preserves content exactly). One range shuffle.
    "x_zorder_layout" -> ((s, dir) => {
      val tmp = graft.GateCache.tempDir("graft_zorder")
        .toString + "/lineitem_z.parquet"
      graft.operators.ZOrder
        .layoutBy2(t(s, dir, "lineitem"), "l_partkey", "l_suppkey",
          numFiles = 8)
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("decimal(38,2)")
            .as("sum_qty"),
          sum(col("l_partkey")).as("sum_partkey"),
          sum(col("l_suppkey")).as("sum_suppkey"))
    }),

    // Count-Min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the
    // frequency sketch that, unlike HLL/quantile digests, is EXACTLY
    // reproducible cross-engine: counters are plain integer sums over
    // deterministic hash buckets, so this sketch gate oracle-checks its
    // VALUES directly (x_approx_quantiles/x_hll adjudicate via exact
    // values + within-bound booleans — their sketch internals are
    // engine-specific). All CmsD rows come from ONE md5 per token (the four
    // 32-bit windows — the wide-simhash trick), the sketch is a fixed
    // d×w = 4096-counter frame REGARDLESS of corpus size (mergeable:
    // partial aggregation builds per-partition sketches and the shuffle
    // merges 4096-row partials), and the estimate stage joins the top-k
    // candidates against the broadcast sketch. The overestimate-only
    // guarantee (est ≥ true, error ≤ εN w.h.p.) is asserted in-row.
    "x_cms_heavy_hitters" -> ((s, dir) => {
      import graft.functions.{PortableHash, Text}
      // one corpus scan: per-token counts feed BOTH the sketch (counters
      // = count-weighted bucket sums ≡ per-occurrence counts) and the
      // exact top-k; md5 runs once per DISTINCT token, not per occurrence
      val tc = graft.GateCache.cache(t(s, dir, "documents")
        .select(explode(split(Text.normalize(col("text")), " ")).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("_c")))
      def bucketsOf(c: Column): Column = array((0 until CmsD).map(r =>
        PortableHash.hash32w(c, "cms|", r) % CmsW): _*)
      val sketch = tc
        .select(col("_c"),
          posexplode(bucketsOf(col("token"))).as(Seq("r", "bucket")))
        .groupBy(col("r"), col("bucket")).agg(sum(col("_c")).as("c"))
      val top = tc.select(col("token"), col("_c").as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("token").asc).limit(CmsTopK)
      top.select(col("token"), col("true_cnt"),
          posexplode(bucketsOf(col("token"))).as(Seq("r", "bucket")))
        .join(broadcast(sketch), Seq("r", "bucket")) // ≤ d·w rows
        .groupBy(col("token"), col("true_cnt"))
        .agg(min(col("c")).as("est_cnt"))
        .select(col("token"), col("true_cnt"), col("est_cnt"),
          (col("est_cnt") >= col("true_cnt")).as("no_underestimate"))
        .orderBy(col("true_cnt").desc, col("token").asc)
    }),

    // DDSketch-style relative-error quantiles (Masson et al. 2019,
    // arXiv:1908.10693) — the quantile sketch that IS exactly
    // cross-engine reproducible, completing the quantile triptych:
    // x_percentiles (exact, window), x_approx_quantiles (t-digest-style,
    // engine-internal, boolean-adjudicated), and this (sketch semantics
    // with full value-level oracle). Values map to integer log-buckets
    // k = ceil(ln(x)/ln(γ)) — quantized to nano units BEFORE the ceil,
    // the x_ngram_lm_score trick, so the one libm ln both engines share
    // can't flip a boundary — and the per-(group, bucket) counts are a
    // plain integer aggregate: mergeable, one partial-agg'd shuffle,
    // sketch size O(log(range)/log γ) per group REGARDLESS of input
    // rows. The quantile estimate is the canonical 2γ^k/(γ+1) midpoint
    // of the smallest bucket whose cumulative count reaches ⌈q·n⌉; the
    // guarantee |est − true|/true ≤ (γ−1)/(γ+1) is pinned in the spec
    // against exact ranks. Cumulative walk is a window over ≤ a few
    // hundred bucket rows per group — never the data. The quantile
    // BUCKETS (k50/k90) are the sketch's exact integer core; the midpoint
    // estimates additionally go through libm pow, which is not
    // correctly-rounded — at these magnitudes a 1-ulp disagreement flips
    // a 2-dp rounding boundary with probability ~1e-8 per value (review
    // find; ln is protected by the nano-quantize, pow rides the same
    // negligible-boundary argument as the repo's round-6 cosines).
    "x_ddsketch_quantiles" -> ((s, dir) => {
      val lnG = math.log(DdGamma)
      val bkt = t(s, dir, "orders")
        .select(col("o_orderpriority"),
          ceil(round(log(col("o_totalprice")) / lnG * 1e9, 0) / 1e9)
            .cast("int").as("_k"))
        .groupBy(col("o_orderpriority"), col("_k"))
        .agg(count(lit(1)).as("_c"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("_k").asc)
      val cum = bkt
        .withColumn("_cum", sum(col("_c")).over(w))
        .withColumn("_n", sum(col("_c")).over(
          Window.partitionBy(col("o_orderpriority"))))
      def estAt(q: Double): Column =
        min(when(col("_cum") * lit(1.0) >= ceil(col("_n") * q), col("_k")))
      val est = cum.groupBy(col("o_orderpriority"))
        .agg(min(col("_n")).cast("long").as("n_rows"),
          estAt(0.5).as("_k50"), estAt(0.9).as("_k90"))
      def mid(k: Column): Column =
        round(pow(lit(DdGamma), k.cast("double")) * 2.0 / (DdGamma + 1.0), 2)
          .cast("decimal(18,2)")
      est.select(col("o_orderpriority"), col("n_rows"),
        col("_k50").as("k50"), col("_k90").as("k90"),
        mid(col("_k50")).as("p50_est"), mid(col("_k90")).as("p90_est"))
    }),

    // Approximate quantiles (the 100 TB fast path x_percentiles documents):
    // one pass, mergeable sketch, ε-rank error 1/accuracy. The sketch
    // VALUES are engine-dependent order statistics (no cross-engine
    // oracle), so the gate emits what IS adjudicable (r7 VERDICT #6):
    // group counts plus per-quantile within-ε-rank booleans — the approx
    // value's rank interval [count(<v)+1, count(≤v)] must intersect
    // [(q-ε)n - 1, (q+ε)n + 1]. The oracle pins the booleans to literal
    // true; a sketch that drifted out of its contract hash-mismatches
    // instead of passing rows-only. (ε = 1/accuracy = 1e-4.)
    "x_approx_quantiles" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val ap = o.groupBy(col("o_orderpriority"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
            .as("_p50a"),
          percentile_approx(col("o_totalprice"), lit(0.9), lit(10000))
            .as("_p90a"))
      def inBound(v: Column, q: Double): Column = {
        val n = count(lit(1)).cast("double")
        val eps = n * 1e-4 + 1.0
        val target = n * q
        (sum(when(col("o_totalprice") < v, 1L).otherwise(0L))
          .cast("double") < target + eps) &&
          (sum(when(col("o_totalprice") <= v, 1L).otherwise(0L))
            .cast("double") >= target - eps)
      }
      o.join(broadcast(ap), "o_orderpriority")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          inBound(col("_p50a"), 0.5).as("p50_in_bound"),
          inBound(col("_p90a"), 0.9).as("p90_in_bound"))
    }),

    // Exact distributed correlation: Pearson r from six exact decimal
    // sums (n, Σx, Σy, Σxy, Σx², Σy²) — order-independent, unlike a
    // streaming corr over doubles — then one final double formula shaped
    // identically to the oracle's. Single partial-agg shuffle on a
    // 3-value key. Decimal(38,4) bounds: Σy² at SF1000 ≈ 1e10·6e9 rows ≈
    // 1e20·scale4 — still inside 38 digits.
    // Pareto frontier (skyline) over (quantity, price), both minimized —
    // the multi-objective "best tradeoffs" operator Spark has no built-in
    // for. The scalable formulation: on DISTINCT (qty, price) points
    // sorted by (qty asc, price asc), a point is Pareto-optimal iff the
    // EXCLUSIVE prefix-min of price is absent or strictly larger — one
    // [[graft.operators.PrefixSum.exclusiveMin]] two-pass prefix scan
    // (no O(n²) dominance join, no unpartitioned window). Equal points
    // collapse in the distinct stage (n_items keeps the multiplicity);
    // a same-qty lower price dominates via the in-order prefix.
    "x_pareto_front" -> ((s, dir) => {
      val pts = t(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("qty"),
          col("l_extendedprice").cast("double").as("price"))
        .groupBy(col("qty"), col("price"))
        .agg(count(lit(1)).as("n_items"))
      graft.operators.PrefixSum.exclusiveMin(pts,
          Seq(col("qty").asc, col("price").asc), col("price"),
          s.sparkContext.defaultParallelism, "_pm")
        .filter(col("_pm").isNull || col("_pm") > col("price"))
        .select(col("qty"), col("price"), col("n_items"))
    }),

    "x_corr_qty_price" -> ((s, dir) => {
      def d(c: String): Column = col(c).cast("double")
      sufficientStats(s, dir)
        .select(col("l_returnflag"), {
          // zero-variance group ⇒ correlation undefined: NULL on both
          // sides (engines disagree at /0 — inf/NaN vs error; review find)
          val den = sqrt(d("n") * d("sxx") - d("sx") * d("sx")) *
            sqrt(d("n") * d("syy") - d("sy") * d("sy"))
          when(den =!= 0.0, round(
            (d("n") * d("sxy") - d("sx") * d("sy")) / den, 6))
            .as("corr_qty_price")
        })
    }),

    // Closed-form distributed OLS (normal equations): slope/intercept/R²
    // of extendedprice ~ quantity per return flag — the "fit a linear
    // model on the cluster" primitive. ONE partial-agg'd pass collects
    // the exact decimal sufficient statistics (the x_corr_qty_price
    // pattern — no iterative optimizer, no order-dependent float sums);
    // the only floating-point work is the final per-group scalar
    // arithmetic, an identical IEEE sequence in both engines (rounded to
    // 6 for the hash). At 100 TB this is the same single shuffle as any
    // grouped aggregate; model quality math costs O(groups).
    "x_linreg_price" -> ((s, dir) => {
      def d(c: String): Column = col(c).cast("double")
      def num: Column = d("n") * d("sxy") - d("sx") * d("sy")
      def denx: Column = d("n") * d("sxx") - d("sx") * d("sx")
      def deny: Column = d("n") * d("syy") - d("sy") * d("sy")
      sufficientStats(s, dir)
        .select(col("l_returnflag"), col("n"),
          // zero-variance x ⇒ the fit is undefined: NULL on both sides
          // (engines disagree at /0 — inf/NaN vs error; review find)
          when(denx =!= 0.0, round(num / denx, 6)).as("slope"),
          when(denx =!= 0.0,
            round((d("sy") - (num / denx) * d("sx")) / d("n"), 6))
            .as("intercept"),
          when(denx =!= 0.0 && deny =!= 0.0,
            round((num * num) / (denx * deny), 6)).as("r2"))
    })
  )

  /** Exact-decimal sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) of
    * (quantity, extendedprice) per return flag — ONE aggregation for
    * both second-moment gates (correlation and OLS; review find:
    * previously inlined in each, on both engines). Decimal bounds: x ≤
    * 10^7 (9,2), y ≤ 10^16 (18,2); the products stay inside (30,4)/
    * (38,4) and the sums inside 38 digits at any SF. */
  private def sufficientStats(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(9,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(x).cast("decimal(38,2)").as("sx"),
        sum(y).cast("decimal(38,2)").as("sy"),
        sum((x * y).cast("decimal(30,4)")).cast("decimal(38,4)").as("sxy"),
        sum((x * x).cast("decimal(20,4)")).cast("decimal(38,4)").as("sxx"),
        sum((y * y).cast("decimal(38,4)")).cast("decimal(38,4)").as("syy"))
  }

  /** [[sufficientStats]]' oracle-side rebuild — shared CTE text. */
  private val SuffStatsCte: String =
    """s AS (SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(9,2))) AS DECIMAL(38,2)) AS sx,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sy,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(9,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(30,4)))
      |      AS DECIMAL(38,4)) AS sxy,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(9,2))
      |      * CAST(l_quantity AS DECIMAL(9,2)) AS DECIMAL(20,4)))
      |      AS DECIMAL(38,4)) AS sxx,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4)))
      |      AS DECIMAL(38,4)) AS syy
      |  FROM lineitem GROUP BY l_returnflag)""".stripMargin

  val oracle: Map[String, String] = Map(
    // the top-3 multiset per priority, tie-safe: row_number may cut ties
    // arbitrarily but the surviving VALUES are identical either way
    "x_topk_udaf" ->
      """SELECT o_orderpriority,
        |  string_agg(CAST(c AS VARCHAR), ',' ORDER BY c DESC) AS top3_cents
        |FROM (SELECT o_orderpriority, c,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY c DESC) AS rn
        |  FROM (SELECT o_orderpriority,
        |      CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders))
        |WHERE rn <= 3 GROUP BY o_orderpriority""".stripMargin,

    "x_cms_heavy_hitters" -> {
      val norm = graft.functions.Text.normalizeDuck("text")
      def bkt(r: Int) =
        s"(${graft.functions.PortableHash.duckSqlW("token", "cms|", r)}) % $CmsW"
      val rows = (0 until CmsD)
        .map(r => s"SELECT $r AS r, ${bkt(r)} AS bucket FROM toks")
        .mkString(" UNION ALL ")
      val probes = (0 until CmsD)
        .map(r => s"SELECT token, true_cnt, $r AS r, ${bkt(r)} AS bucket " +
          "FROM top")
        .mkString(" UNION ALL ")
      s"""WITH toks AS MATERIALIZED (
         |  SELECT unnest(string_split($norm, ' ')) AS token FROM documents),
         |sk AS (SELECT r, bucket, count(*) AS c FROM ($rows) GROUP BY 1, 2),
         |top AS MATERIALIZED (SELECT token, count(*) AS true_cnt FROM toks
         |        GROUP BY token ORDER BY true_cnt DESC, token ASC
         |        LIMIT $CmsTopK),
         |est AS (SELECT p.token, p.true_cnt, min(sk.c) AS est_cnt
         |        FROM ($probes) p JOIN sk USING (r, bucket)
         |        GROUP BY 1, 2)
         |SELECT token, true_cnt, est_cnt,
         |  est_cnt >= true_cnt AS no_underestimate
         |FROM est ORDER BY true_cnt DESC, token ASC""".stripMargin
    },

    "x_sliding_windows" ->
      """WITH b AS (SELECT epoch_us(ts) AS tu FROM events),
        |w AS (
        |  SELECT (tu // 3600000000) * 3600000000 AS ws FROM b
        |  UNION ALL
        |  SELECT (tu // 3600000000) * 3600000000 - 3600000000 FROM b
        |)
        |SELECT ws AS ws_us, count(*) AS n_events FROM w GROUP BY 1""".stripMargin,

    "x_freq_profile" ->
      """WITH seg AS (
        |  SELECT 'c_mktsegment' AS column_name,
        |    CAST(c_mktsegment AS VARCHAR) AS value, count(*) AS cnt
        |  FROM customer GROUP BY 2),
        |nat AS (
        |  SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR), count(*)
        |  FROM customer GROUP BY 2),
        |u AS (SELECT * FROM seg UNION ALL SELECT * FROM nat)
        |SELECT column_name, value, cnt, CAST(rk AS INT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY column_name
        |    ORDER BY cnt DESC, value ASC) AS rk
        |  FROM u) WHERE rk <= 3""".stripMargin,

    "x_dq_checks" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS qty_range_viol,
        |  CAST(sum(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS disc_range_viol,
        |  CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END)
        |    AS BIGINT) AS price_pos_viol,
        |  CAST(sum(CASE WHEN l_orderkey IS NOT NULL
        |                 AND l_partkey IS NOT NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS key_null_viol,
        |  CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        |    AS BIGINT) AS pk_dup_viol
        |FROM lineitem""".stripMargin,

    "x_dq_referential" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |    AS orphan_lineitems,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS orphan_orders,
        |  (SELECT count(*) FROM lineitem) AS n_lineitems,
        |  (SELECT count(*) FROM orders) AS n_orders""".stripMargin,

    "x_incr_agg" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DECIMAL(38,2)) AS DOUBLE) AS total
        |FROM orders GROUP BY 1""".stripMargin,

    "x_bloom_join" ->
      """SELECT count(*) AS n_items,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(22,6))) AS DECIMAL(38,6)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'""".stripMargin,

    "x_pseudonymize" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        |  count(DISTINCT sha256('graft:' || c_name)) AS n_tokens,
        |  min(sha256('graft:' || c_name)) AS first_token
        |FROM customer GROUP BY 1""".stripMargin,

    "x_kanon_agg" ->
      s"""WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS s
        |  FROM customer GROUP BY 1, 2)
        |SELECT CAST(c_nationkey AS VARCHAR) AS nation,
        |  c_mktsegment AS segment, CAST(n AS BIGINT) AS n_members,
        |  CAST(s AS DOUBLE) AS bal_total
        |FROM g WHERE n >= $KAnonK
        |UNION ALL
        |SELECT '__other__', '__other__',
        |  CAST(coalesce(sum(n), 0) AS BIGINT),
        |  CAST(coalesce(sum(s), 0) AS DOUBLE)
        |FROM g WHERE n < $KAnonK""".stripMargin,

    "x_histogram" ->
      """WITH mm AS (SELECT min(o_totalprice) AS mn, max(o_totalprice) AS mx
        |            FROM orders)
        |SELECT CAST(least(floor((o_totalprice - mn) / ((mx - mn) / 20.0)),
        |  19.0) AS INT) AS bucket, count(*) AS n_orders
        |FROM orders, mm GROUP BY 1""".stripMargin,

    "x_unpivot_metrics" ->
      """WITH w AS (
        |  SELECT c_nationkey,
        |    CAST(count(*) AS DOUBLE) AS n_customers,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
        |  FROM customer GROUP BY 1
        |)
        |SELECT c_nationkey, 'n_customers' AS metric, n_customers AS value FROM w
        |UNION ALL
        |SELECT c_nationkey, 'acctbal_sum', acctbal_sum FROM w""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-12-31'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q8_market_share" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(CAST(sum(CASE WHEN n_name = 'NATION_6'
        |        THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
        |        ELSE CAST(0 AS DECIMAL(22,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
        |    / CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
        |        AS DECIMAL(38,6)) AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE p_type = 'PROMO' AND r_name = 'AMERICA'
        |GROUP BY 1""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, c_acctbal, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin,

    "q14_promo_effect" ->
      """SELECT 100.0
        |  * CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
        |      ELSE CAST(0 AS DECIMAL(22,6)) END) AS DECIMAL(38,6)) AS DOUBLE)
        |  / CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
        |      AS DECIMAL(38,6)) AS DOUBLE) AS promo_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-06-01' AND TIMESTAMP '1996-06-30'""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6)))
        |      AS DECIMAL(38,6)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1996-03-31'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,

    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
        |  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,

    "x_scd2_history" ->
      """SELECT user_id, event_type, value,
        |  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS deleted,
        |  epoch_us(ts) AS valid_from,
        |  lead(epoch_us(ts)) OVER w AS valid_to,
        |  (lead(epoch_us(ts)) OVER w IS NULL AND event_type <> 'error') AS is_current
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) ASC, event_id ASC)""".stripMargin,

    // both same-version cuts are violation-free by construction; the
    // mixed read orphans exactly the lineitems of % 3 = 0 orders
    "x_consistent_cut" ->
      """SELECT CAST(0 AS BIGINT) AS cut_v0_violations,
        |  CAST(0 AS BIGINT) AS cut_v1_violations,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 3 = 0)
        |    AS mixed_read_violations,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey % 3 <> 0)
        |    AS v0_lineitem_rows""".stripMargin,

    "x_snapshot_diff" ->
      s"""WITH snap_a AS (
        |  SELECT user_id, event_type, value, props FROM (
        |    SELECT user_id, event_type, value, props,
        |      CASE WHEN event_type='error' THEN 1 ELSE 0 END AS del,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events WHERE epoch_us(ts) <= $DiffCutoffUs)
        |  WHERE rn = 1 AND del = 0),
        |snap_b AS (
        |  SELECT user_id, event_type, value, props FROM (
        |    SELECT user_id, event_type, value, props,
        |      CASE WHEN event_type='error' THEN 1 ELSE 0 END AS del,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |    FROM events)
        |  WHERE rn = 1 AND del = 0)
        |SELECT coalesce(a.user_id, b.user_id) AS user_id,
        |  CASE WHEN a.user_id IS NULL THEN 'added'
        |       WHEN b.user_id IS NULL THEN 'removed'
        |       WHEN a.event_type IS DISTINCT FROM b.event_type
        |         OR a.value IS DISTINCT FROM b.value
        |         OR a.props IS DISTINCT FROM b.props THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM snap_a a FULL OUTER JOIN snap_b b ON a.user_id = b.user_id""".stripMargin,

    "x_profile_columns" ->
      """SELECT 'o_orderkey' AS col_name,
        |  count(*) FILTER (o_orderkey IS NULL) AS n_nulls,
        |  count(DISTINCT o_orderkey) AS n_distinct FROM orders
        |UNION ALL SELECT 'o_custkey', count(*) FILTER (o_custkey IS NULL),
        |  count(DISTINCT o_custkey) FROM orders
        |UNION ALL SELECT 'o_orderstatus', count(*) FILTER (o_orderstatus IS NULL),
        |  count(DISTINCT o_orderstatus) FROM orders
        |UNION ALL SELECT 'o_totalprice', count(*) FILTER (o_totalprice IS NULL),
        |  count(DISTINCT o_totalprice) FROM orders
        |UNION ALL SELECT 'o_orderdate', count(*) FILTER (o_orderdate IS NULL),
        |  count(DISTINCT o_orderdate) FROM orders
        |UNION ALL SELECT 'o_orderpriority', count(*) FILTER (o_orderpriority IS NULL),
        |  count(DISTINCT o_orderpriority) FROM orders""".stripMargin,

    // same collapse + cumulative definition, verbatim
    "x_weighted_quantiles" ->
      """WITH c AS (SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
        |    CAST(sum(CAST(trunc(l_quantity) AS BIGINT) /* truncate like Spark long-cast */) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (SELECT l_returnflag, price_cents, w,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(w) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM c)
        |SELECT l_returnflag,
        |  min(CASE WHEN cum * 2 >= tot THEN price_cents END)
        |    AS wmedian_cents,
        |  min(CASE WHEN cum * 10 >= tot * 9 THEN price_cents END)
        |    AS wp90_cents,
        |  CAST(max(tot) AS BIGINT) AS total_weight
        |FROM cw GROUP BY l_returnflag""".stripMargin,

    "x_percentiles" ->
      """WITH r AS (SELECT o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY
        |      CAST(round(o_totalprice * 100) AS BIGINT) ASC) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN rn = (n+1)//2 AND (n+1)//2 = (n+2)//2 THEN cents*2
        |           WHEN rn = (n+1)//2 OR rn = (n+2)//2 THEN cents
        |           ELSE 0 END) AS BIGINT) AS median_x2_cents,
        |  max(CASE WHEN rn = (n*9+9)//10 THEN cents END) AS p90_cents,
        |  max(CASE WHEN rn = (n*99+99)//100 THEN cents END) AS p99_cents
        |FROM r GROUP BY o_orderpriority""".stripMargin,

    "x_table_checksum" -> {
      val canonDuck = "concat_ws('|', l_orderkey, l_partkey, l_suppkey, " +
        "l_linenumber, CAST(CAST(l_quantity AS DECIMAL(9,2)) AS VARCHAR), " +
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), " +
        "CAST(CAST(l_discount AS DECIMAL(4,2)) AS VARCHAR), " +
        "CAST(CAST(l_tax AS DECIMAL(4,2)) AS VARCHAR), " +
        "l_returnflag, l_linestatus, CAST(l_shipdate AS VARCHAR))"
      s"""WITH c AS (SELECT CAST(l_orderkey % 32 AS INT) AS bucket,
        |    ${graft.functions.PortableHash.duckSql(canonDuck, "cksum")} AS rh
        |  FROM lineitem)
        |SELECT bucket, count(*) AS n_rows, bit_xor(rh) AS xor_hash
        |FROM c GROUP BY bucket""".stripMargin
    },

    "x_grouping_sets" ->
      """SELECT n_name, o_orderpriority,
        |  CAST(grouping(n_name) AS INT) AS g_nation,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name),
        |  (o_orderpriority))""".stripMargin,

    "x_reservoir_sample" ->
      """SELECT doc_id, source, rk, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('rsv1' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rk
        |  FROM documents) WHERE rk <= 3""".stripMargin,

    "x_zorder_layout" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(l_partkey) AS BIGINT) AS sum_partkey,
        |  CAST(sum(l_suppkey) AS BIGINT) AS sum_suppkey
        |FROM lineitem""".stripMargin,

    "x_approx_quantiles" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  true AS p50_in_bound, true AS p90_in_bound
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    // identical integer log-bucket arithmetic (nano-quantized before the
    // ceil), identical midpoint formula — full value-level sketch oracle
    "x_ddsketch_quantiles" -> {
      val lnG = math.log(DdGamma)
      s"""WITH b AS (SELECT o_orderpriority,
         |    CAST(ceil(round(ln(o_totalprice) / $lnG * 1e9, 0) / 1e9)
         |      AS INT) AS k,
         |    count(*) AS c
         |  FROM orders GROUP BY 1, 2),
         |cum AS (SELECT o_orderpriority, k,
         |    sum(c) OVER (PARTITION BY o_orderpriority ORDER BY k
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(c) OVER (PARTITION BY o_orderpriority) AS n
         |  FROM b),
         |est AS (SELECT o_orderpriority, CAST(min(n) AS BIGINT) AS n_rows,
         |    min(CASE WHEN cum >= ceil(n * 0.5) THEN k END) AS k50,
         |    min(CASE WHEN cum >= ceil(n * 0.9) THEN k END) AS k90
         |  FROM cum GROUP BY 1)
         |SELECT o_orderpriority, n_rows,
         |  CAST(k50 AS INT) AS k50, CAST(k90 AS INT) AS k90,
         |  CAST(CAST(round(pow($DdGamma, k50) * 2.0 / ($DdGamma + 1.0), 2)
         |    AS DECIMAL(18,2)) AS DOUBLE) AS p50_est,
         |  CAST(CAST(round(pow($DdGamma, k90) * 2.0 / ($DdGamma + 1.0), 2)
         |    AS DECIMAL(18,2)) AS DOUBLE) AS p90_est
         |FROM est""".stripMargin
    },

    "x_corr_qty_price" ->
      s"""WITH $SuffStatsCte
        |SELECT l_returnflag,
        |  CASE WHEN (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) <> 0.0
        |  THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
        |  END AS corr_qty_price
        |FROM s""".stripMargin,

    "x_linreg_price" ->
      s"""WITH $SuffStatsCte,
        |d AS (SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT l_returnflag, n,
        |  CASE WHEN (nd * sxxd - sxd * sxd) <> 0.0 THEN
        |    round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6)
        |  END AS slope,
        |  CASE WHEN (nd * sxxd - sxd * sxd) <> 0.0 THEN
        |    round((syd - ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd))
        |      * sxd) / nd, 6)
        |  END AS intercept,
        |  CASE WHEN (nd * sxxd - sxd * sxd) <> 0.0
        |        AND (nd * syyd - syd * syd) <> 0.0 THEN
        |    round(((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd))
        |      / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6)
        |  END AS r2
        |FROM d""".stripMargin,

    // Same exclusive-prefix-min formulation as the Spark side, expressed
    // as one window: a distinct (qty, price) point is on the frontier iff
    // the running min of price over all strictly-earlier points in
    // (qty asc, price asc) order is absent or strictly larger.
    "x_pareto_front" ->
      """WITH pts AS (SELECT CAST(trunc(l_quantity) AS BIGINT) /* truncate like Spark long-cast */ AS qty,
        |    CAST(l_extendedprice AS DOUBLE) AS price, count(*) AS n_items
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT qty, price, n_items,
        |    min(price) OVER (ORDER BY qty ASC, price ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |  FROM pts)
        |SELECT qty, price, n_items FROM m
        |WHERE pm IS NULL OR pm > price""".stripMargin
  )
}
