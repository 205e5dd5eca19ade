package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The five TPC-H shapes that need columns/tables the harness testdata
  * doesn't ship — Q9 (product-type profit), Q2 (min-cost supplier), Q11
  * (important stock), Q20 (excess availability) over a STAGED
  * deterministic partsupp, and Q12 (shipmode vs priority) over DERIVED
  * shipmode/commitdate/receiptdate columns (TESTDATA.md ships neither). The reference
  * replicates whatever tables exist upstream
  * (/root/reference/src/snapshot_replicator.py — table list is
  * config-driven, not schema-fixed), so a user pointing it at a real TPC-H
  * MySQL would sync partsupp too; these gates close the only
  * reference-class analytics shapes the harness data left unexercised
  * (VERDICT r10 "What's missing" #2).
  *
  * Staging contract: partsupp's domain is lineitem's DISTINCT
  * (l_partkey, l_suppkey) — the exact pair set the fact table joins on,
  * so every lineitem row finds its partsupp row (TPC-H referential
  * integrity) — with availqty/supplycost as pure key arithmetic the DuckDB
  * oracle rebuilds verbatim in a CTE ([[PartsuppCte]]). The Spark side
  * writes real parquet to a session temp dir and reads it back
  * ([[Snapshot]]-style landing), so the queries exercise a genuine scan
  * (pushdown, pruning) rather than an in-memory LocalRelation; the staging
  * itself is one linear distinct (shuffle on the composite key) + write —
  * at 100 TB this is the snapshot-replication path the engine already
  * certifies (`o3_snapshot_roundtrip`).
  *
  * Determinism rules as [[Analytics]]: integer-dollar supplycost (key
  * arithmetic, no division anywhere), decimal money math, one final
  * DECIMAL→DOUBLE cast, total orders on every LIMIT.
  */
object Procurement {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(s, dir, name)

  /** Memoized staged-partsupp location per sf dir (gates may run
    * concurrently — computeIfAbsent makes the stage-once atomic). */
  private val staged = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic partsupp over lineitem's (partkey, suppkey) domain:
    *   ps_availqty   = (pk*7  + sk*3)  % 9999 + 1   ∈ [1, 9999]  (INT)
    *   ps_supplycost = (pk*31 + sk*17) % 1000 + 1   ∈ [1, 1000]  (BIGINT,
    *     whole dollars — integer so cost·qty products stay exact without
    *     any division in either engine)
    * Staged to parquet once per (JVM, sf dir) and re-read, so downstream
    * plans scan a real columnar table. */
  def partsupp(s: SparkSession, dir: String): DataFrame = {
    val path = staged.computeIfAbsent(dir, _ => {
      val p = graft.GateCache.tempDir("graft_partsupp").toString + "/partsupp"
      t(s, dir, "lineitem")
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"))
        .distinct()
        .withColumn("ps_availqty",
          ((col("ps_partkey") * 7 + col("ps_suppkey") * 3) % 9999 + 1)
            .cast("int"))
        .withColumn("ps_supplycost",
          ((col("ps_partkey") * 31 + col("ps_suppkey") * 17) % 1000 + 1)
            .cast("long"))
        .write.mode("overwrite").parquet(p)
      p
    })
    s.read.parquet(path)
  }

  /** The oracle-side rebuild of [[partsupp]] — prepended to every oracle
    * below. Arithmetic mirrors the Spark staging exactly (all keys
    * positive, so `%` agrees between engines). */
  val PartsuppCte: String =
    """WITH partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST((l_partkey * 7 + l_suppkey * 3) % 9999 + 1 AS INT)
      |      AS ps_availqty,
      |    CAST((l_partkey * 31 + l_suppkey * 17) % 1000 + 1 AS BIGINT)
      |      AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))""".stripMargin

  /** Isolated broadcast-disabled session for the plan-audit gates (b3/
    * b5/b6): shares the SparkContext and catalog, owns its conf, so
    * concurrently running gates never observe the -1 thresholds. */
  private[graft] def isoSession(s: SparkSession): SparkSession = {
    val iso = s.newSession()
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    iso
  }

  /** The b-family composite-key join + exact-decimal rollup shared by
    * b3/b5/b6: COUNT plus Σ(supplycost·qty) kept in DECIMAL end-to-end,
    * one DOUBLE cast at the output. */
  private[graft] def costAgg(li: DataFrame, ps: DataFrame): DataFrame =
    li.join(ps, col("l_partkey") === col("ps_partkey") &&
        col("l_suppkey") === col("ps_suppkey"))
      .agg(count(lit(1)).as("n_joined"),
        sum((col("ps_supplycost") * col("l_quantity")
          .cast("decimal(18,2)")).cast("decimal(22,6)"))
          .cast("decimal(38,6)").cast("double").as("cost_total"))

  /** Execute `j` and audit the AQE-final rendered plan (the
    * RuntimeFilterSpec grep protocol — query stages hide subtrees from a
    * children-walk): a sort-merge join must be present, no broadcast may
    * leak through the disabled thresholds, and zero `Exchange
    * hashpartitioning` — the single-row agg exchanges to SinglePartition
    * only, so any hashpartitioning means a join side shuffled despite
    * the co-bucketed layout. Returns (result row, Sort-node count, plan
    * string); "Sort [" matches the Sort node, never SortMergeJoin. */
  private def auditedExchangeFree(
      j: DataFrame): (org.apache.spark.sql.Row, Int, String) = {
    val row = j.collect()(0)
    val planStr = j.queryExecution.executedPlan.toString
    require(planStr.contains("SortMergeJoin"),
      s"no sort-merge join in the executed plan:\n$planStr")
    require(!planStr.contains("BroadcastHashJoin"),
      "broadcast leaked through the disabled thresholds")
    require(!planStr.contains("Exchange hashpartitioning"),
      s"co-bucketed join still shuffles:\n$planStr")
    (row, planStr.linesIterator.count(_.contains("Sort [")), planStr)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q9: product-type profit by nation and year — the classic
    // 100 TB stressor: a 6-way join where the two big tables (lineitem,
    // partsupp) share a co-partitionable composite key and everything
    // else is a broadcastable dim. Plan: lineitem⋈partsupp shuffles on
    // (partkey, suppkey); part/supplier/nation broadcast; orders joins on
    // orderkey (second shuffle — unavoidable: different key). profit =
    // disc_price − supplycost·qty, all decimal until the final cast.
    "q9_product_profit" -> ((s, dir) => {
      val ps = partsupp(s, dir)
      val part = t(s, dir, "part").filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val sup = t(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(s, dir, "nation")
      val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
      t(s, dir, "lineitem")
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(sum(
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(22,6)")
            - (col("ps_supplycost") * col("l_quantity").cast("decimal(18,2)"))
              .cast("decimal(22,6)"))
          .cast("decimal(38,6)").as("profit"))
    }),

    // TPC-H Q2: min-cost supplier per part within a region — the
    // correlated-MIN shape, expressed decorrelated (per-part min over the
    // region-eligible suppliers, joined back on (part, cost)). partsupp
    // shuffles once to build the min and once for the probe; every dim
    // broadcasts. Total order on the LIMIT: (acctbal desc, nation, name,
    // partkey, cost) is unique because (part, supplier) is the partsupp
    // key and s_name is unique per supplier.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val eligible = partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .select(col("ps_partkey"), col("ps_suppkey"), col("ps_supplycost"),
          col("s_acctbal"), col("s_name"), col("n_name"))
      val minCost = eligible.groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min(col("ps_supplycost")).as("mc_cost"))
      val part = t(s, dir, "part")
        .filter(col("p_size") === 10 && col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      eligible
        .join(broadcast(part), col("ps_partkey") === col("p_partkey"))
        .join(minCost, col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost") === col("mc_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("ps_supplycost").as("supplycost"))
        .orderBy(col("s_acctbal").desc, col("n_name").asc, col("s_name").asc,
          col("p_partkey").asc, col("supplycost").asc)
        .limit(100)
    }),

    // TPC-H Q11: important stock — per-part inventory value inside one
    // nation, kept when the part's share exceeds 2× the average share
    // (the fraction threshold made SCALE-INVARIANT: TPC-H's fixed
    // 0.0001 selects everything when #parts < 10⁴ and nothing at 10×
    // that; share > 2×average selects the same tail shape at every SF).
    // Stated multiplicatively — sum·n_parts > 2·total — so the whole
    // computation stays in exact BIGINT (value = int dollars × int qty;
    // magnitudes: ≤1e8 per part × ≤1e6 parts ≪ 2^63).
    "q11_important_stock" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation").filter(col("n_name") === "NATION_7")
      val scoped = partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"),
          (col("ps_supplycost") * col("ps_availqty").cast("long")).as("value"))
      val tot = scoped.agg(sum(col("value")).as("total_value"),
        countDistinct(col("ps_partkey")).as("n_parts"))
      scoped.groupBy(col("ps_partkey"))
        .agg(sum(col("value")).as("stock_value"))
        .crossJoin(broadcast(tot))
        .filter(col("stock_value") * col("n_parts") >
          col("total_value") * 2)
        .select(col("ps_partkey"), col("stock_value"))
    }),

    // The PLANS.md claim for q9, substantiated: at 100 TB you bucket
    // lineitem and partsupp on the composite (partkey, suppkey) and the
    // fact-side exchange disappears. Both sides are written bucketed on
    // exactly the join key set (a prefix is not enough), broadcast is
    // disabled so the harness-scale AQE can't hide the effect, and the
    // gate REQUIREs the executed plan to contain zero shuffle exchanges
    // below the join — the only exchange left is the final single-row
    // aggregate's. Layout cost is paid once at write time and amortizes
    // over every (partkey, suppkey) join after it.
    "b3_bucketed_partsupp_join" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      Bucketing.writeBucketedMulti(li, "b3_li",
        Seq("l_partkey", "l_suppkey"), 8)
      Bucketing.writeBucketedMulti(partsupp(s, dir), "b3_ps",
        Seq("ps_partkey", "ps_suppkey"), 8)
      // broadcast thresholds are disabled on an ISOLATED newSession
      // ([[isoSession]]) so concurrently running gates whose plan-shape
      // assertions require BroadcastHashJoin (e.g. q9) never observe the
      // -1 thresholds (r11 ADVICE); audit protocol in
      // [[auditedExchangeFree]].
      val iso = isoSession(s)
      val (row, _, _) =
        auditedExchangeFree(costAgg(iso.table("b3_li"), iso.table("b3_ps")))
      import s.implicits._
      Seq((row.getLong(0), row.getDouble(1), true))
        .toDF("n_joined", "cost_total", "exchange_free_join")
    }),

    // The OPERATIONAL half of the layout story: b3/b4 price the bucketed
    // write once, but a 100 TB table is not written once — it ingests.
    // Here lineitem lands in TWO generations (split on orderkey parity)
    // into the SAME bucketed table via append, and the gate REQUIREs
    // (a) every bucket holds more than one file (the append really
    // created a second generation per bucket, not a new layout),
    // (b) the composite-key join is STILL a sort-merge with zero
    // hashpartitioning exchanges — Spark drops only the per-bucket
    // sorted-scan claim on multi-file buckets (an extra Sort, never an
    // Exchange), and (c) the joined totals equal the single-write b3
    // numbers (shared oracle): generational layout is invisible to
    // results. Compaction folds generations back when the sort claim is
    // worth reclaiming.
    "b5_bucketed_append_maintenance" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      Bucketing.writeBucketedMulti(li.filter(col("l_orderkey") % 2 === 0),
        "b5_li", Seq("l_partkey", "l_suppkey"), 8)
      Bucketing.appendBucketedMulti(li.filter(col("l_orderkey") % 2 === 1),
        "b5_li", Seq("l_partkey", "l_suppkey"), 8)
      Bucketing.writeBucketedMulti(partsupp(s, dir), "b5_ps",
        Seq("ps_partkey", "ps_suppkey"), 8)
      // (a) multi-generation check via the table's file listing: bucketed
      // part files are `part-<task>-<jobUUID>_<bucketId>.c000...` — one
      // job UUID per write, so two distinct UUIDs = two generations, and
      // a bucket id appearing under both proves generations COEXIST in
      // one bucket (the case that would break a naive sorted-merge)
      val loc = s.sql("DESCRIBE TABLE EXTENDED b5_li").filter(
        col("col_name") === "Location").select("data_type").head().getString(0)
      val PartFile = """part-\d+-([0-9a-f\-]+)_(\d+)\.c000.*""".r
      val genBucket = graft.sources.HadoopFs.list(loc)
        .map(_.getPath.getName).collect {
          case PartFile(gen, bucket) => (gen, bucket.toInt)
        }
      val gens = genBucket.map(_._1).distinct
      val sharedBuckets = genBucket.groupBy(_._2)
        .filter(_._2.map(_._1).distinct.length >= 2)
      require(gens.length >= 2 && sharedBuckets.nonEmpty,
        s"append did not create a coexisting second generation: " +
          s"${gens.length} generations, ${sharedBuckets.size} shared buckets")
      val iso = isoSession(s)
      val (row, _, _) =
        auditedExchangeFree(costAgg(iso.table("b5_li"), iso.table("b5_ps")))
      import s.implicits._
      Seq((row.getLong(0), row.getDouble(1), true))
        .toDF("n_joined", "cost_total", "exchange_free_after_append")
    }),

    // The THIRD leg of the layout lifecycle (b3 = write it, b5 = ingest
    // into it, b6 = maintain it): appended generations keep the join
    // exchange-free but cost a SORT on every merge join, because Spark
    // only advertises a bucket's sort order when it holds one file.
    // Compaction (Bucketing.compactBucketed: repartition-on-bucket-id →
    // one sorted file per bucket → CTAS/DROP/RENAME) deletes that sort.
    // The gate REQUIREs the full arc in the executed plans: the
    // two-generation join carries Sort nodes; the compacted join — same
    // tables, same names — carries NONE (and still zero exchanges); the
    // totals are identical before and after. At 100 TB the Sort is a
    // per-query spill risk on every fat bucket; compaction converts it
    // into one amortized rewrite.
    "b6_bucketed_compaction" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val keysLi = Seq("l_partkey", "l_suppkey")
      val keysPs = Seq("ps_partkey", "ps_suppkey")
      Bucketing.writeBucketedMulti(li.filter(col("l_orderkey") % 2 === 0),
        "b6_li", keysLi, 8)
      Bucketing.appendBucketedMulti(li.filter(col("l_orderkey") % 2 === 1),
        "b6_li", keysLi, 8)
      Bucketing.writeBucketedMulti(partsupp(s, dir), "b6_ps", keysPs, 8)
      val iso = isoSession(s)
      // let the scan ADVERTISE per-bucket sort order — Spark guards the
      // claim itself (only made when every bucket holds ≤ 1 file, i.e.
      // exactly the compacted state; multi-file buckets still sort)
      iso.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering",
        "true")
      def runAudited() =
        auditedExchangeFree(costAgg(iso.table("b6_li"), iso.table("b6_ps")))
      val (pre, sortsPre, planPre) = runAudited()
      require(sortsPre > 0,
        "two-generation buckets planned sort-free — the compaction gate " +
          s"has nothing to price:\n$planPre")
      Bucketing.compactBucketed(s, "b6_li", keysLi, 8)
      Bucketing.compactBucketed(s, "b6_ps", keysPs, 8)
      // the iso session caches its own relation file listings
      iso.catalog.refreshTable("b6_li")
      iso.catalog.refreshTable("b6_ps")
      val (post, sortsPost, planPost) = runAudited()
      require(sortsPost == 0,
        s"compaction did not restore the sorted-scan claim " +
          s"($sortsPost sorts):\n$planPost")
      require(pre.getLong(0) == post.getLong(0) &&
        pre.getDouble(1) == post.getDouble(1),
        s"compaction changed the results: $pre vs $post")
      import s.implicits._
      Seq((post.getLong(0), post.getDouble(1), sortsPre > 0, true))
        .toDF("n_joined", "cost_total", "sort_paid_before", "sort_elided")
    }),

    // The AGGREGATION half of the layout story: bucketing doesn't just
    // delete join exchanges — a groupBy on exactly the bucket key set
    // aggregates with ZERO exchange too (the scan's hash partitioning
    // satisfies the aggregate's required distribution, so partial and
    // final agg fuse into one stage). The gate runs the same per-pair
    // rollup both ways and REQUIREs the asymmetry in the executed
    // plans: over the bucketed table no partkey/suppkey exchange
    // exists; over the raw parquet the SAME query must shuffle — the
    // priced difference. At 100 TB this is the difference between a
    // full-fact shuffle and a scan-local rollup for every aggregation
    // keyed on the layout. Output is a bounded histogram (pair-sum mod
    // 10) so the oracle stays exact: quantities are integral, sums fit
    // BIGINT.
    "b7_bucketed_agg_no_exchange" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        col("l_suppkey"), col("l_quantity"))
      Bucketing.writeBucketedMulti(li, "b7_li",
        Seq("l_partkey", "l_suppkey"), 8)
      def rollup(src: DataFrame): DataFrame = src
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).cast("long").as("pair_qty"))
        .groupBy((col("pair_qty") % 10).as("qty_mod"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("pair_qty")).cast("long").as("total_qty"))
      val bucketed = rollup(s.table("b7_li"))
      val rows = bucketed.collect()
      val planB = bucketed.queryExecution.executedPlan.toString
      val keyExchange = (p: String) => p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") &&
          (l.contains("partkey") || l.contains("suppkey")))
      require(!keyExchange(planB),
        s"bucketed rollup shuffled on the layout key:\n$planB")
      require(planB.contains("HashAggregate"), s"no hash agg:\n$planB")
      val raw = rollup(li)
      raw.collect()
      val planR = raw.queryExecution.executedPlan.toString
      require(keyExchange(planR),
        s"raw rollup planned exchange-free — the gate prices nothing:\n$planR")
      s.createDataFrame(s.sparkContext.parallelize(rows.toIndexedSeq),
        bucketed.schema)
    }),

    // The b3 claim carried to the FULL 6-way Q9 — the definitive 100 TB
    // plan: lineitem and partsupp co-bucketed on the composite join key,
    // part/supplier/nation broadcast-hinted (hints survive the disabled
    // thresholds, so harness-scale AQE can't quietly broadcast the FACT
    // side and void the audit), orders joined on orderkey (the one
    // genuinely different key), then the nation×year rollup. The audit
    // walks every `Exchange hashpartitioning` in the executed plan and
    // REQUIREs none of them repartitions on partkey/suppkey — i.e. the
    // lineitem⋈partsupp edge, the query's dominant data movement at
    // 100 TB, moved ZERO bytes through a shuffle; the only exchanges
    // left are the orderkey join's and the final rollup's, which no
    // layout can delete (different keys). Result = q9's, byte-for-byte:
    // the bucketed roundtrip is also a correctness check.
    "b4_bucketed_q9_profit" -> ((s, dir) => {
      import graft.operators.Bucketing
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      Bucketing.writeBucketedMulti(li, "b4_li",
        Seq("l_partkey", "l_suppkey"), 8)
      Bucketing.writeBucketedMulti(partsupp(s, dir), "b4_ps",
        Seq("ps_partkey", "ps_suppkey"), 8)
      val iso = isoSession(s) // conf isolation, as b3; here the explicit
      // broadcast() hints below still force the dim joins — only the
      // AUTO path is disabled, so AQE can't broadcast the fact side
      val part = t(iso, dir, "part").filter(col("p_name").like("%widget%"))
        .select(col("p_partkey"))
      val sup = t(iso, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val nat = t(iso, dir, "nation")
      val ord = t(iso, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val j = iso.table("b4_li").join(iso.table("b4_ps"),
          col("l_partkey") === col("ps_partkey") &&
            col("l_suppkey") === col("ps_suppkey"))
        .join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(sum(
          (col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast("decimal(22,6)")
            - (col("ps_supplycost") * col("l_quantity").cast("decimal(18,2)"))
              .cast("decimal(22,6)"))
          .cast("decimal(38,6)").as("profit"))
      val out = j.collect() // materialize so AQE finalizes the plan
      val planStr = j.queryExecution.executedPlan.toString
      val factJoinIsSmj = planStr.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("ps_partkey"))
      require(factJoinIsSmj,
        s"lineitem⋈partsupp is not a sort-merge join:\n$planStr")
      val badExchanges = planStr.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") &&
          (l.contains("partkey") || l.contains("suppkey"))).toSeq
      require(badExchanges.isEmpty,
        s"fact edge shuffled despite the co-bucketed layout: " +
          s"${badExchanges.mkString("; ")}\n$planStr")
      require(planStr.contains("BroadcastHashJoin"),
        s"dimension joins lost their broadcast hints:\n$planStr")
      s.createDataFrame(s.sparkContext.parallelize(out.toIndexedSeq),
        j.schema)
    }),

    // TPC-H Q12: shipping-mode vs priority — the LAST TPC-H shape the
    // harness schema left unexercised (lineitem ships no shipmode/
    // commitdate/receiptdate). The three columns are DERIVED inline by
    // key arithmetic both engines reproduce verbatim (the partsupp
    // pattern, minus the staging — these are per-row projections, not a
    // relation). Late-commit semantics preserved: receipt-year window,
    // commit < receipt, ship < commit; counts split by priority class.
    // One orderkey shuffle join; the derivation rides the scan.
    "q12_shipmode_priority" -> ((s, dir) => {
      val modes = array(lit("MAIL"), lit("SHIP"), lit("RAIL"),
        lit("TRUCK"), lit("AIR"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        element_at(modes,
          ((col("l_orderkey") * 7 + col("l_linenumber")) % 5 + 1)
            .cast("int")).as("l_shipmode"),
        to_date(col("l_shipdate")).as("_ship"),
        date_add(to_date(col("l_shipdate")),
          ((col("l_orderkey") * 3 + col("l_linenumber") * 5) % 60 - 30)
            .cast("int")).as("_commit"),
        date_add(to_date(col("l_shipdate")),
          ((col("l_orderkey") * 11 + col("l_linenumber") * 13) % 45 + 1)
            .cast("int")).as("_receipt"))
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      li.filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("_commit") < col("_receipt") &&
          col("_ship") < col("_commit") &&
          col("_receipt") >= lit("1996-01-01").cast("date") &&
          col("_receipt") < lit("1997-01-01").cast("date"))
        .join(t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority")), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_shipmode"))
        .agg(sum(when(high, 1L).otherwise(0L)).cast("long")
            .as("high_line_count"),
          sum(when(high, 0L).otherwise(1L)).cast("long")
            .as("low_line_count"))
    }),

    // TPC-H Q20: suppliers holding excess stock of a part family — avail
    // qty more than half the quantity they actually shipped in 1996.
    // shipped is a partial-agg'd groupBy on the SAME composite key the
    // partsupp join uses (one co-partitioned shuffle pair); the date
    // filter is a pushable timestamp range; supplier membership is a
    // left-semi (no multiplicity from the many qualifying parts).
    "q20_excess_suppliers" -> ((s, dir) => {
      val shipped = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)"))
          .cast("decimal(38,2)").as("shipped_qty"))
      val bolts = t(s, dir, "part").filter(col("p_name").like("%bolt%"))
        .select(col("p_partkey"))
      val excess = partsupp(s, dir)
        .join(broadcast(bolts), col("ps_partkey") === col("p_partkey"))
        .join(shipped, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty").cast("decimal(18,2)") * 2 >
          col("shipped_qty"))
      val nat = t(s, dir, "nation").filter(col("n_name") === "NATION_3")
      val sup = t(s, dir, "supplier")
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      sup.join(excess, sup("s_suppkey") === excess("ps_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }))

  /** Q9's oracle — shared verbatim by `b4_bucketed_q9_profit` (same
    * relational result; the bucketed layout and the exchange-free plan
    * are REQUIREd in-gate, not SQL-expressible). */
  private val Q9Sql: String =
    s"""$PartsuppCte
       |SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
       |    - CAST(ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
       |        AS DECIMAL(22,6))) AS DOUBLE) AS profit
       |FROM lineitem
       |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%widget%'
       |GROUP BY n_name, year(o_orderdate)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q9_product_profit" -> Q9Sql,
    "b4_bucketed_q9_profit" -> Q9Sql,

    "q2_min_cost_supplier" ->
      s"""$PartsuppCte,
         |eligible AS (
         |  SELECT ps_partkey, ps_suppkey, ps_supplycost,
         |    s_acctbal, s_name, n_name
         |  FROM partsupp
         |  JOIN supplier ON ps_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE')
         |SELECT s_acctbal, s_name, n_name, p_partkey,
         |  ps_supplycost AS supplycost
         |FROM eligible e
         |JOIN part ON e.ps_partkey = p_partkey
         |WHERE p_size = 10 AND p_type = 'ECONOMY'
         |  AND e.ps_supplycost = (SELECT min(e2.ps_supplycost)
         |    FROM eligible e2 WHERE e2.ps_partkey = e.ps_partkey)
         |ORDER BY s_acctbal DESC, n_name ASC, s_name ASC,
         |  p_partkey ASC, supplycost ASC
         |LIMIT 100""".stripMargin,

    "q11_important_stock" ->
      s"""$PartsuppCte,
         |scoped AS (
         |  SELECT ps_partkey, ps_supplycost * ps_availqty AS value
         |  FROM partsupp
         |  JOIN supplier ON ps_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  WHERE n_name = 'NATION_7'),
         |tot AS (SELECT CAST(sum(value) AS BIGINT) AS total_value,
         |    count(DISTINCT ps_partkey) AS n_parts FROM scoped)
         |SELECT ps_partkey, CAST(sum(value) AS BIGINT) AS stock_value
         |FROM scoped, tot
         |GROUP BY ps_partkey, total_value, n_parts
         |HAVING CAST(sum(value) AS BIGINT) * n_parts > total_value * 2""".stripMargin,

    // the per-pair rollup then its mod-10 histogram — pure integer
    // arithmetic (quantities are integral doubles; sums < 2^53); the
    // bucketed-vs-raw plan asymmetry is REQUIREd in-gate
    "b7_bucketed_agg_no_exchange" ->
      """WITH pair AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(l_quantity) AS BIGINT) AS pair_qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT pair_qty % 10 AS qty_mod, count(*) AS n_pairs,
        |  CAST(sum(pair_qty) AS BIGINT) AS total_qty
        |FROM pair GROUP BY 1""".stripMargin,

    // b3's relational result; the sort-paid/sort-elided arc is REQUIREd
    // in-gate (plan-level) and surfaced as the two pinned booleans
    "b6_bucketed_compaction" ->
      s"""$PartsuppCte
         |SELECT count(*) AS n_joined,
         |  CAST(sum(CAST(ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
         |    AS DECIMAL(22,6))) AS DOUBLE) AS cost_total,
         |  TRUE AS sort_paid_before, TRUE AS sort_elided
         |FROM lineitem
         |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey""".stripMargin,

    // b3's relational result over the two-generation layout: the append
    // must be invisible to the join's values; the coexisting-generation
    // and exchange-free properties are REQUIREd in-gate
    "b5_bucketed_append_maintenance" ->
      s"""$PartsuppCte
         |SELECT count(*) AS n_joined,
         |  CAST(sum(CAST(ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
         |    AS DECIMAL(22,6))) AS DOUBLE) AS cost_total,
         |  TRUE AS exchange_free_after_append
         |FROM lineitem
         |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey""".stripMargin,

    // the joined multiset is pure relational arithmetic; the
    // exchange-free property is REQUIREd in-gate (plan-level, not
    // SQL-expressible) and surfaced as the pinned boolean
    "b3_bucketed_partsupp_join" ->
      s"""$PartsuppCte
         |SELECT count(*) AS n_joined,
         |  CAST(sum(CAST(ps_supplycost * CAST(l_quantity AS DECIMAL(18,2))
         |    AS DECIMAL(22,6))) AS DOUBLE) AS cost_total,
         |  TRUE AS exchange_free_join
         |FROM lineitem
         |JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey""".stripMargin,

    "q12_shipmode_priority" ->
      """WITH d AS (SELECT l_orderkey,
        |    (['MAIL', 'SHIP', 'RAIL', 'TRUCK', 'AIR'])[
        |      CAST((l_orderkey * 7 + l_linenumber) % 5 + 1 AS INTEGER)]
        |      AS l_shipmode,
        |    CAST(l_shipdate AS DATE) AS ship,
        |    CAST(l_shipdate AS DATE)
        |      + CAST((l_orderkey * 3 + l_linenumber * 5) % 60 - 30
        |             AS INTEGER) AS commit_d,
        |    CAST(l_shipdate AS DATE)
        |      + CAST((l_orderkey * 11 + l_linenumber * 13) % 45 + 1
        |             AS INTEGER) AS receipt
        |  FROM lineitem)
        |SELECT l_shipmode,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM d JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipmode IN ('MAIL', 'SHIP')
        |  AND commit_d < receipt AND ship < commit_d
        |  AND receipt >= DATE '1996-01-01' AND receipt < DATE '1997-01-01'
        |GROUP BY l_shipmode""".stripMargin,

    "q20_excess_suppliers" ->
      s"""$PartsuppCte,
         |shipped AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2))
         |      AS shipped_qty
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate < TIMESTAMP '1997-01-01'
         |  GROUP BY l_partkey, l_suppkey)
         |SELECT s_suppkey, s_name
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = 'NATION_3'
         |  AND s_suppkey IN (
         |    SELECT ps_suppkey FROM partsupp
         |    JOIN part ON ps_partkey = p_partkey
         |    JOIN shipped ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
         |    WHERE p_name LIKE '%bolt%'
         |      AND CAST(ps_availqty AS DECIMAL(18,2)) * 2 > shipped_qty)""".stripMargin)
}
