package graft

/** Scaling-law measurement: run the named gates at every harness scale
  * factor and print time-vs-rows, the empirical companion to the 100 TB
  * design claims (r10 verdict item 8 — near-linearity of the dedup
  * family). Same session shape as [[Bench]]; per (query, sf): one JIT
  * warmup at sf0.001, then three timed runs (min = steady state).
  * Usage: `tools/run_main.sh BenchScale <query> [query…]`. */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start()
    spark.range(1000000).selectExpr("sum(id)").collect()
    val sfs = Seq("0.001", "0.01", "0.1")
    for (n <- args) {
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      finally { GateCache.releaseAll(); spark.catalog.clearCache() }
      for (sf <- sfs) {
        val dir = s"/root/testdata/sf$sf"
        val docs = spark.read.parquet(s"$dir/documents.parquet").count()
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          try SparkEntry.queries(n)(spark, dir).count()
          finally { GateCache.releaseAll(); spark.catalog.clearCache() }
          (System.nanoTime() - t0) / 1e9
        }
        println(f"$n sf=$sf docs=$docs min=${times.min}%.2f s " +
          f"runs=[${times.map(t => f"$t%.2f").mkString(", ")}]")
      }
    }
    spark.stop()
  }
}
