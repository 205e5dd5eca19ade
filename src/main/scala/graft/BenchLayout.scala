package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Layout-family scaling measurement (r12 verdict item 6): the bucketed
  * layout's whole argument is "pay the CTAS shuffle once, amortize it
  * over every join after" — this main prices BOTH halves separately at
  * each harness scale factor, the empirical pin the dedup/similarity/
  * binlog families already have:
  *
  *   - `write`: co-bucketing lineitem + partsupp on (partkey, suppkey)
  *     into 8 buckets (the b3/b4 layout) — the one-time cost;
  *   - `bjoin`: the b-family composite-key join + rollup over the
  *     bucketed tables (exchange-free; broadcast disabled so the
  *     measurement is the SMJ path that survives at 100 TB);
  *   - `rjoin`: the SAME query over the raw parquet frames in the same
  *     session — the per-query shuffle price the layout deletes.
  *
  * Protocol matches [[BenchScale]]: one JIT warmup at sf0.001, then
  * min-of-3 per (sf, measurement). Usage: `tools/run_main.sh BenchLayout`.
  */
object BenchLayout {
  import graft.queries.Procurement.{costAgg, isoSession}

  def main(args: Array[String]): Unit = {
    val spark = Sessions.start()
    spark.range(1000000).selectExpr("sum(id)").collect()

    def minOf3(f: () => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }.min

    def once(f: () => Unit): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }

    val iso = isoSession(spark)

    // partsupp derivation mirrors queries.Procurement.partsupp's shape
    // without its staging cache (we time raw recompute vs layout read).
    // BOTH joins run in the broadcast-disabled iso session — the raw
    // side must price the SHUFFLE the layout deletes, not a harness-
    // scale broadcast that 100 TB would never plan
    def partsupp(dir: String): DataFrame =
      iso.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"),
          col("l_extendedprice"), col("l_quantity"))
        .groupBy(col("ps_partkey"), col("ps_suppkey"))
        .agg((min(col("l_extendedprice").cast("decimal(18,2)")) / 100)
          .cast("decimal(18,6)").as("ps_supplycost"))

    def li(dir: String): DataFrame =
      iso.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))

    def writeLayout(dir: String): Unit = {
      graft.operators.Bucketing.writeBucketedMulti(li(dir), "bl_li",
        Seq("l_partkey", "l_suppkey"), 8)
      graft.operators.Bucketing.writeBucketedMulti(partsupp(dir), "bl_ps",
        Seq("ps_partkey", "ps_suppkey"), 8)
      // the iso session caches its own relation file listings
      iso.catalog.refreshTable("bl_li")
      iso.catalog.refreshTable("bl_ps")
    }

    // JIT warmup: full arc once at the smallest SF
    writeLayout("/root/testdata/sf0.001")
    costAgg(iso.table("bl_li"), iso.table("bl_ps")).collect()
    costAgg(li("/root/testdata/sf0.001"),
      partsupp("/root/testdata/sf0.001")).collect()

    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val dir = s"/root/testdata/sf$sf"
      val rows = spark.read.parquet(s"$dir/lineitem.parquet").count()
      val tWrite = once(() => writeLayout(dir)) // CTAS is itself min-able
      val tWrite2 = once(() => writeLayout(dir))
      val tB = minOf3(() =>
        { costAgg(iso.table("bl_li"), iso.table("bl_ps")).collect(); () })
      val tR = minOf3(() =>
        { costAgg(li(dir), partsupp(dir)).collect(); () })
      println(f"layout sf=$sf lineitem=$rows write=${math.min(tWrite, tWrite2)}%.2f s " +
        f"bjoin=$tB%.2f s rjoin=$tR%.2f s")
    }
    spark.stop()
  }
}
