package perfbench

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions.{col, lit, when}

/** The harness's own checks, run by `perfbench/tests`: generator
  * determinism, commit boundaries, and that each correctness check
  * rejects a corrupted replica. Prints one PASS/FAIL line per check. */
object SelfTest {
  def run(work: String): Boolean = {
    val results = Seq.newBuilder[(String, Boolean)]
    def check(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case e: Exception => println(s"  $name: $e"); false }
      println(s"${if (r) "PASS" else "FAIL"} $name")
      results += name -> r
    }
    def gen(seed: Long) = {
      val g = new CdcGen(seed, 500)
      val txns = (1 to 30).map(_ => g.nextTxn(100))
      (txns, CdcGen.encode(txns), g.modelRows)
    }
    val (txns, log, model) = gen(11L)
    val (_, log2, model2) = gen(11L)
    check("same seed gives byte-identical binlog and model state") {
      java.util.Arrays.equals(log, log2) && model == model2
    }
    check("another seed gives another binlog") {
      !java.util.Arrays.equals(log, gen(12L)._2)
    }
    check("XID-derived commit boundaries match the encoded transactions") {
      val b = CdcGen.commitBoundaries(log)
      b.size == txns.size + 1 && b.last == log.length &&
        (0 to txns.size).forall(k => b(k) == CdcGen.encode(txns.take(k)).length)
    }

    val spark = Main.session(work, 2)
    try {
      val g = new CdcGen(5L, 2000)
      val snap = g.snapshotRows
      val clog = CdcGen.encode((1 to 20).map(_ => g.nextTxn(100)))
      val m = g.modelRows
      val src = Replica.fresh(s"$work/selftest_src")
      val mp = s"$src/model.parquet"
      Replica.writeSnapshot(spark, snap, s"$src/accounts.parquet")
      Replica.writeSnapshot(spark, m, mp)
      val base = Replica.fresh(s"$work/selftest_cdc")
      val srv = Replica.server(clog)
      val c = try Replica.catchUp(spark,
        new graft.streaming.CdcPipeline(spark, s"$base/tgt", s"$base/ckp"), srv,
        s"$src/accounts.parquet", mp, new Trace(false, "selftest"), None)
      finally srv.close()
      check("an intact replica passes the _live check") { c.diff == 0 }
      val tgt = s"$base/tgt/accounts.parquet"
      val applied = spark.read.parquet(tgt)
      // a later version of one live key with another balance
      check("the _live check fails on a changed row") {
        applied.filter(col("id") === 7L).limit(1)
          .withColumn("bal", col("bal") + 1.0)
          .withColumn("_version", lit(1000L))
          .write.mode(SaveMode.Append).parquet(tgt)
        Replica.liveDiff(spark, mp) > 0
      }
      check("the _live check fails on a lost row") {
        applied.filter(col("id") === 9L).limit(1)
          .withColumn("_version", lit(1001L))
          .withColumn("_deleted", lit(1))
          .write.mode(SaveMode.Append).parquet(tgt)
        Replica.liveDiff(spark, mp) > 1
      }
      check("the snapshot check fails on a changed table") {
        val a = s"$work/selftest_tables/a.parquet"
        val b = s"$work/selftest_tables/b.parquet"
        val df = Replica.modelDf(spark, snap)
        df.write.mode(SaveMode.Overwrite).parquet(a)
        df.withColumn("bal", when(col("id") === 3L, col("bal") + 0.01)
            .otherwise(col("bal")))
          .write.mode(SaveMode.Overwrite).parquet(b)
        val same = ReplicaWorkload.fingerprint(spark, a) ==
          ReplicaWorkload.fingerprint(spark, a)
        same && ReplicaWorkload.fingerprint(spark, a) !=
          ReplicaWorkload.fingerprint(spark, b)
      }
    } finally spark.stop()
    results.result().forall(_._2)
  }
}
