package graft

/** Dev tool: dump formatted physical plans for named queries so pushdown /
  * broadcast / whole-stage-codegen can be audited (`sbt "runMain
  * graft.PlanCheck <sfDir> [query...]"`). */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("s3_scan_projection", "q1_pricing_summary",
        "q3_shipping_priority", "q5_local_supplier_volume",
        "w1_live_view", "w1_live_view_aggform", "topk_orders",
        "x_dedup_minhash_lsh", "x_ann_brute_topk")
    val spark = Sessions.start(Sessions.builder("4"), logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
