package graft

/** Dev-loop single-query bench: same session shape and cache-release
  * protocol as [[Bench]] (local[SPARK_GRAFT_CPUS], warmup pass at
  * sf0.001, GateCache release + catalog clear between timed runs, three
  * runs → report all, min is the steady-state figure). Usage:
  * `tools/run_main.sh BenchOne <query> [query…]`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start()
    spark.range(1000000).selectExpr("sum(id)").collect()
    // fail fast on unknown names (r15 ADVICE: a typo was silently
    // swallowed by the warmup catch-all, then the timed loop died with a
    // bare NoSuchElementException and no hint which arg was wrong)
    val unknown = args.distinct.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} — names must be keys of SparkEntry.queries")
    // warm up only the REQUESTED queries (codegen+JIT) — warming all 280+
    // made every dev-loop measurement pay a multi-minute fixed cost
    for (n <- args.distinct) {
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
      finally { GateCache.releaseAll(); spark.catalog.clearCache() }
    }
    for (n <- args; i <- 1 to 3) {
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).count()
      println(f"$n run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      GateCache.releaseAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
