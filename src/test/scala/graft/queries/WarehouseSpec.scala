package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

/** Semantic pins for the warehouse-analytics operators (cross-engine
  * exactness is the DuckDB gate's job; these specs pin invariants a hash
  * compare can't express — interval integrity, plan shape, quantile
  * definitions against a straight-line JVM reference). */
class WarehouseSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("x_freq_profile ranks through a partitioned window — no single-partition Exchange") {
    val df = Warehouse.queries("x_freq_profile")(spark, TestSpark.Sf0001)
    // a global Window.orderBy would plan Exchange SinglePartition and
    // funnel every distinct value through one reducer — the 100 TB
    // anti-pattern this profiling query must never regress to
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"found a single-partition exchange:\n$plan")
    // and the result is still the per-column top-3
    val rows = df.as[(String, String, Long, Int)].collect()
    val byCol = rows.groupBy(_._1)
    assert(byCol.keySet == Set("c_mktsegment", "c_nationkey"))
    byCol.values.foreach { vs =>
      assert(vs.map(_._4).sorted.toSeq == Seq(1, 2, 3))
      val byRank = vs.sortBy(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a._3 >= b._3 })
    }
  }

  test("x_scd2_history: per-key intervals chain without gaps or overlap; one current row per surviving key") {
    val rows = Warehouse.queries("x_scd2_history")(spark, TestSpark.Sf0001)
      .select("user_id", "valid_from", "valid_to", "is_current", "deleted")
      .as[(Long, Long, Option[Long], Boolean, Int)].collect()
    rows.groupBy(_._1).foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._2)
      // intervals chain: each valid_to equals the next valid_from
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._3.contains(b._2), s"gap/overlap: $a -> $b")
      }
      // exactly the last version is open-ended
      assert(sorted.init.forall(_._3.isDefined) && sorted.last._3.isEmpty)
      // is_current == open-ended AND not a delete
      sorted.foreach { r =>
        assert(r._4 == (r._3.isEmpty && r._5 == 0))
      }
    }
    // history preserves every change event (nothing dropped)
    assert(rows.length ==
      Tables.events(spark, TestSpark.Sf0001).count())
  }

  test("x_scd2_history: current rows equal the live view's survivors") {
    val current = Warehouse.queries("x_scd2_history")(spark, TestSpark.Sf0001)
      .filter(col("is_current"))
      .select("user_id").as[Long].collect().sorted
    val live = graft.queries.ReferenceOps.liveView(spark, TestSpark.Sf0001)
      .select("user_id").as[Long].collect().sorted
    assert(current.toSeq == live.toSeq)
  }

  test("x_snapshot_diff: statuses reconcile the two snapshot states") {
    val diff = Warehouse.queries("x_snapshot_diff")(spark, TestSpark.Sf0001)
      .as[(Long, String)].collect().toMap
    val st = ReferenceOps.stamped(spark, TestSpark.Sf0001)
    import graft.model.SchemaModel.VersionCol
    def keys(f: org.apache.spark.sql.DataFrame) =
      graft.operators.LiveView.live(f, Seq("user_id"))
        .select("user_id").as[Long].collect().toSet
    val a = keys(st.filter(col(VersionCol) <= Warehouse.DiffCutoffUs))
    val b = keys(st)
    assert(diff.keySet == (a union b))
    assert(diff.filter(_._2 == "added").keySet == (b diff a))
    assert(diff.filter(_._2 == "removed").keySet == (a diff b))
    // changed/unchanged partition the intersection
    assert(diff.filter(kv => kv._2 == "changed" || kv._2 == "unchanged")
      .keySet == (a intersect b))
    // the diff plan must not degenerate into a nested-loop join
    val plan = Warehouse.queries("x_snapshot_diff")(spark, TestSpark.Sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("x_kanon_agg: no published group below k; totals reconcile; __other__ always present") {
    val rows = Warehouse.queries("x_kanon_agg")(spark, TestSpark.Sf0001)
      .as[(String, String, Long, Double)].collect()
    val (other, pub) = rows.partition(_._1 == "__other__")
    assert(other.length == 1 && other.head._2 == "__other__",
      "exactly one __other__ bucket required")
    assert(pub.forall(_._3 >= Warehouse.KAnonK),
      s"published group below k: ${pub.filter(_._3 < Warehouse.KAnonK).toSeq}")
    // suppression, not deletion: published + other = the full population
    val full = graft.queries.Tables.read(spark, TestSpark.Sf0001, "customer")
      .agg(count(lit(1)),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("decimal(38,2)")
          .cast("double"))
      .as[(Long, Double)].head()
    assert(rows.map(_._3).sum == full._1)
    assert(math.abs(rows.map(_._4).sum - full._2) < 1e-6,
      "balance mass lost in suppression")
    // no quasi-identifier leaks through the other bucket's labels
    assert(pub.forall(r => r._1 != "__other__" && r._2 != "__other__"))
  }

  test("x_percentiles: matches a straight-line sorted-array reference") {
    val got = Warehouse.queries("x_percentiles")(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val cents = Tables.read(spark, TestSpark.Sf0001, "orders")
      .select(col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    cents.foreach { case (prio, v) =>
      val n = v.length
      val medianX2 =
        if (n % 2 == 1) 2 * v(n / 2)
        else v(n / 2 - 1) + v(n / 2)
      val p90 = v(((n * 9 + 9) / 10) - 1)  // 1-based rank → 0-based index
      val p99 = v(((n * 99 + 99) / 100) - 1)
      assert(got(prio) == ((medianX2, p90, p99)), s"prio=$prio n=$n")
    }
  }

  test("x_profile_columns: counts match direct per-column queries") {
    val got = Warehouse.queries("x_profile_columns")(spark, TestSpark.Sf0001)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val orders = Tables.read(spark, TestSpark.Sf0001, "orders")
    got.foreach { case (c, (nulls, distinct)) =>
      assert(nulls == orders.filter(col(c).isNull).count(), c)
      assert(distinct == orders.select(c).distinct().count(), c)
    }
    assert(got.size == 6)
  }

  test("q13: zero-order customers appear in the c_count=0 bucket") {
    val dist = Warehouse.queries("q13_customer_distribution")(spark, TestSpark.Sf0001)
      .as[(Long, Long)].collect().toMap
    val nCust = Tables.read(spark, TestSpark.Sf0001, "customer").count()
    assert(dist.values.sum == nCust) // every customer lands in one bucket
  }

  test("q15: returned suppliers carry exactly the maximum revenue") {
    val rows = Warehouse.queries("q15_top_supplier")(spark, TestSpark.Sf0001)
      .as[(Long, String, java.math.BigDecimal)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(_._3).distinct.length == 1) // all ties at the max
  }

  test("x_table_checksum: detects a single-row mutation and localizes it to one bucket") {
    val base = Warehouse.queries("x_table_checksum")(spark, TestSpark.Sf0001)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // mutate one row (flip one quantity) and re-checksum through the same
    // expression tree over a temp view standing in for the table
    val li = Tables.read(spark, TestSpark.Sf0001, "lineitem")
    val mutated = li.withColumn("l_quantity",
      when(col("l_orderkey") === li.select(min("l_orderkey")).as[Long].head,
        col("l_quantity") + 1)
        .otherwise(col("l_quantity")))
    val dir2 = java.nio.file.Files.createTempDirectory("cksum").toString
    mutated.write.mode("overwrite").parquet(s"$dir2/lineitem.parquet")
    val after = Warehouse.queries("x_table_checksum")(spark, dir2)
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val diff = base.keySet.filter(b => base(b) != after(b))
    assert(diff.size == 1)                       // drift localized
    assert(base(diff.head)._1 == after(diff.head)._1) // same count, hash differs
  }

  test("x_reservoir_sample: exactly k rows per group, stable across runs") {
    val a = Warehouse.queries("x_reservoir_sample")(spark, TestSpark.Sf0001)
      .as[(Long, String, Int, Long)].collect()
    val b = Warehouse.queries("x_reservoir_sample")(spark, TestSpark.Sf0001)
      .as[(Long, String, Int, Long)].collect()
    assert(a.sortBy(_._1).toSeq == b.sortBy(_._1).toSeq) // deterministic
    a.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length == 3, src)
      assert(rows.map(_._3).sorted.toSeq == Seq(1, 2, 3), src)
    }
  }

  test("reservoirSample: passes draw near-independently; gate is pass 1") {
    // the pass salt (r9 ADVICE #7, the weightedSample contract) must
    // yield a genuinely different exactly-k draw per pass
    def draw(p: Int): Array[(Long, String, Int, Long)] =
      Warehouse.reservoirSample(spark, TestSpark.Sf0001, p)
        .as[(Long, String, Int, Long)].collect()
    val p1 = draw(1)
    val p2 = draw(2)
    // both passes keep the exactly-k contract
    Seq(p1, p2).foreach(_.groupBy(_._2).values
      .foreach(rows => assert(rows.length == 3)))
    val ids1 = p1.map(_._1).toSet
    val ids2 = p2.map(_._1).toSet
    assert(ids1 != ids2, "pass 2 drew the identical sample — salt inert")
    // near-independence: expected overlap per group is k²/n_group ≪ k, so
    // across all groups the shared fraction must stay well under half
    val overlap = ids1.intersect(ids2).size.toDouble / ids1.size
    assert(overlap < 0.5, f"passes share $overlap%.2f of the draw")
    val gate = Warehouse.queries("x_reservoir_sample")(spark, TestSpark.Sf0001)
      .as[(Long, String, Int, Long)].collect()
    assert(gate.sortBy(_._1).toSeq == p1.sortBy(_._1).toSeq)
  }

  test("x_grouping_sets: each set's marginals re-aggregate the finest set") {
    val rows = Warehouse.queries("x_grouping_sets")(spark, TestSpark.Sf0001)
      .selectExpr("n_name", "o_orderpriority", "g_nation", "g_prio", "n_orders")
      .as[(Option[String], Option[String], Int, Int, Long)].collect()
    val fine = rows.filter(r => r._3 == 0 && r._4 == 0)
    val byNation = rows.filter(r => r._3 == 0 && r._4 == 1)
    byNation.foreach { m =>
      assert(m._5 == fine.filter(_._1 == m._1).map(_._5).sum, m)
    }
    val byPrio = rows.filter(r => r._3 == 1 && r._4 == 0)
    byPrio.foreach { m =>
      assert(m._5 == fine.filter(_._2 == m._2).map(_._5).sum, m)
    }
    // the set list is exactly the three requested (no grand total row)
    assert(!rows.exists(r => r._3 == 1 && r._4 == 1))
  }

  test("broadcast shapes: q8/q10 keep dims broadcast, facts shuffled once") {
    Seq("q8_market_share", "q10_returned_items").foreach { name =>
      val plan = Warehouse.queries(name)(spark, TestSpark.Sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoop"), name)
    }
  }

  test("x_cms_heavy_hitters: overestimate-only, exact for the dominant token, CMS error bound") {
    val got = Warehouse.queries("x_cms_heavy_hitters")(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Boolean)].collect()
    assert(got.length == Warehouse.CmsTopK)
    // the sketch's deterministic guarantee: counters only ever overcount
    got.foreach { case (tok, t, e, noUnder) =>
      assert(noUnder && e >= t, s"$tok under-estimated: $e < $t")
    }
    // Markov bound on the min-row estimate: err ≤ e·N/w w.p. 1−e^−d per
    // query; with d=4 independent windows over this fixed corpus the
    // loose deterministic pin err ≤ 4·N/w holds with huge margin
    val n = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select(explode(split(graft.functions.Text.normalize(col("text")), " ")))
      .count()
    val bound = 4.0 * n / Warehouse.CmsW
    got.foreach { case (tok, t, e, _) =>
      assert(e - t <= bound, s"$tok error ${e - t} > bound $bound (N=$n)")
    }
    // true counts are descending with token tie-break (top-k contract)
    assert(got.map(r => (-r._2, r._1)).toSeq == got.map(r => (-r._2, r._1)).sortBy(identity).toSeq)

    // the guarantee is per-QUERY, not per-heavy-hitter: rebuild the
    // sketch in plain Scala and check est ≥ true and the error bound for
    // EVERY distinct token in the corpus, not just the reported top-k
    val md = java.security.MessageDigest.getInstance("MD5")
    def windows(tok: String): Seq[(Int, Long)] = {
      val hex = md.digest(("cms|" + tok).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (0 until Warehouse.CmsD).map(r =>
        r -> java.lang.Long.parseLong(hex.substring(8 * r, 8 * r + 8), 16)
          % Warehouse.CmsW)
    }
    val toks = Tables.read(spark, TestSpark.Sf0001, "documents")
      .select(explode(split(graft.functions.Text.normalize(col("text")), " "))
        .as("t")).as[String].collect()
    val sketch = scala.collection.mutable.Map.empty[(Int, Long), Long]
    toks.foreach(t => windows(t).foreach(w =>
      sketch(w) = sketch.getOrElse(w, 0L) + 1))
    val trueCnt = toks.groupBy(identity).view.mapValues(_.length.toLong)
    trueCnt.foreach { case (t, c) =>
      val est = windows(t).map(sketch).min
      assert(est >= c, s"'$t' under-estimated")
      assert(est - c <= bound, s"'$t' error ${est - c} > $bound")
    }
  }

  test("x_pareto_front ≡ O(n²) dominance reference on distinct points") {
    val pts = Tables.read(spark, TestSpark.Sf0001, "lineitem")
      .select(col("l_quantity").cast("long").as("q"),
        col("l_extendedprice").cast("double").as("p"))
      .as[(Long, Double)].collect()
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // straight-line skyline: keep a point iff no other distinct point is
    // ≤ in both coordinates (strict in at least one — guaranteed here by
    // distinctness)
    val expected = pts.filter { case ((q, p), _) =>
      !pts.keys.exists { case (q2, p2) =>
        (q2, p2) != (q, p) && q2 <= q && p2 <= p }
    }.map { case ((q, p), n) => (q, p, n) }.toSet
    val got = Warehouse.queries("x_pareto_front")(spark, TestSpark.Sf0001)
      .as[(Long, Double, Long)].collect().toSet
    assert(got == expected)
    // the frontier is a strictly-decreasing staircase in price over qty
    val stair = got.toSeq.sortBy(_._1)
    stair.zip(stair.tail).foreach { case (a, b) =>
      assert(a._1 < b._1 && a._2 > b._2, s"not a staircase: $a -> $b")
    }
  }

  test("x_linreg_price: closed-form OLS matches a straight-line JVM fit; R2 in [0,1]") {
    import spark.implicits._
    val rows = Warehouse.queries("x_linreg_price")(spark, TestSpark.Sf0001)
      .as[(String, Long, Double, Double, Double)].collect()
    val li = Tables.read(spark, TestSpark.Sf0001, "lineitem")
      .select(org.apache.spark.sql.functions.col("l_returnflag"),
        org.apache.spark.sql.functions.col("l_quantity").cast("double"),
        org.apache.spark.sql.functions.col("l_extendedprice").cast("double"))
      .as[(String, Double, Double)].collect()
    rows.foreach { case (flag, n, slope, intercept, r2) =>
      val pts = li.filter(_._1 == flag)
      assert(n == pts.length)
      // independent reference fit in BigDecimal (exact sums, like the gate)
      def bd(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      val sx = pts.map(p => bd(p._2)).sum; val sy = pts.map(p => bd(p._3)).sum
      val sxy = pts.map(p => bd(p._2) * bd(p._3)).sum
      val sxx = pts.map(p => bd(p._2) * bd(p._2)).sum
      val num = n.toDouble * sxy.toDouble - sx.toDouble * sy.toDouble
      val den = n.toDouble * sxx.toDouble - sx.toDouble * sx.toDouble
      assert(math.abs(slope - num / den) < 1e-4)
      assert(math.abs(intercept - (sy.toDouble - (num / den) * sx.toDouble) / n) < 1e-2)
      assert(r2 >= 0.0 && r2 <= 1.0)
    }
    assert(rows.length == 3)
  }

  test("x_weighted_quantiles ≡ straight-line weighted quantile; boundary " +
      "at exact half picks the lower value") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // gate vs a JVM reference on real data (order-free definition)
    val base = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
      .select(col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long"),
        col("l_quantity").cast("long"))
      .as[(String, Long, Long)].collect()
    val want = base.groupBy(_._1).map { case (rf, rows) =>
      val byPrice = rows.groupBy(_._2).view
        .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
      val tot = byPrice.map(_._2).sum
      def q(num: Long, den: Long): Long = {
        var cum = 0L
        byPrice.find { case (_, w) => cum += w; cum * den >= tot * num }
          .get._1
      }
      rf -> ((q(1, 2), q(9, 10), tot))
    }
    val got = Warehouse.queries("x_weighted_quantiles")(spark, TestSpark.Sf0001)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
    // a heavy tail drags the weighted median where the unweighted stays:
    // prices 1..4, weights 1,1,1,7 → wmedian = 4; exact-half boundary:
    // equal weights 5/5 over prices 10,20 → lower value 10
    val crafted = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 3L, 1L),
      ("a", 4L, 7L), ("b", 10L, 5L), ("b", 20L, 5L))
      .toDF("l_returnflag", "price_cents", "w")
    val w = org.apache.spark.sql.expressions.Window
    val cum = w.partitionBy(col("l_returnflag")).orderBy(col("price_cents"))
      .rowsBetween(Long.MinValue, 0)
    val r = crafted.withColumn("cum", sum(col("w")).over(cum))
      .withColumn("tot", sum(col("w")).over(w.partitionBy(col("l_returnflag"))))
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 2 >= col("tot"), col("price_cents")))
        .as("m"))
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 4L, "b" -> 10L))
  }
}
