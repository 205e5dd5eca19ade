package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{GraftConfig, ReplicationConfig, SourceConfig, TargetConfig}

/** End-to-end drive of the Main pipeline bodies (O1 dispatch targets) —
  * not just the operators: snapshot mode over a real source dir, and cdc
  * mode against a binlog fixture primary (capture, copy, stream, restart),
  * verified via the registered live view. */
class MainSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cfg(mode: String, tables: Seq[String]) = GraftConfig(
    SourceConfig(), TargetConfig(),
    ReplicationConfig(mode = mode, tables = tables))

  test("snapshot mode end-to-end: counts reconcile per table") {
    val wh = Files.createTempDirectory("graft_main_wh").toString
    val results = Main.runSnapshot(spark, cfg("snapshot", Seq("region", "nation")),
      TestSpark.Sf0001, wh)
    assert(results.map(_.table).sorted == Seq("nation", "region"))
    assert(results.forall(r => r.success && r.sourceCount == r.targetCount))
    assert(spark.read.parquet(s"$wh/region.parquet").count() == 5)
  }

  test("cdc mode end-to-end: capture, copy, binlog stream; restarts " +
      "resume from the checkpoint and never re-copy") {
    import graft.sources.{BinlogFixture, BinlogFixtureServer}
    import graft.sources.BinlogFixture.Change
    import graft.sources.BinlogFormat.{ColumnDef, TypeDouble, TypeLongLong, TypeVarchar}
    def img(r: (Long, String, Double)): IndexedSeq[Any] = IndexedSeq(r._1, r._2, r._3)
    val (alice, bob, carol, dave) =
      ((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0),
        (4L, "dave", 40.0))
    // H: the history the snapshot holds; W1, W2: writes revealed later
    val h = Seq(Seq(alice, bob).map(r => Change.insert(img(r))),
      Seq(Change.insert(img(carol))))
    val bob2 = (2L, "bob", 25.0)
    val w1 = Seq(Seq(Change.update(img(bob), img(bob2)),
      Change.delete(img(carol))), Seq(Change.insert(img(dave))))
    val dave2 = (4L, "dave", 44.0)
    val w2 = Seq(Seq(Change.update(img(dave), img(dave2)),
      Change.delete(img(alice))))
    val cols = IndexedSeq(ColumnDef(TypeLongLong, 0), ColumnDef(TypeVarchar, 64),
      ColumnDef(TypeDouble, 8))
    val file = "main-bin.000001"
    val logs = Seq(h, h ++ w1, h ++ w1 ++ w2).map(txns =>
      BinlogFixture.encode("shop", "customer", cols, txns, gtidFrom = Some(1L)))
    val srcDir = Files.createTempDirectory("graft_main_src").toString
    val wh = Files.createTempDirectory("graft_main_cdc_wh").toString
    val snapshot = Seq(alice, bob, carol)
    snapshot.toDF("c_custkey", "c_name", "c_acctbal")
      .write.parquet(s"$srcDir/customer.parquet")
    val srv = new BinlogFixtureServer(IndexedSeq(file -> logs.last), "repl",
      "graft-secret")
    srv.truncate(file, logs.head.length)
    try {
      val conf = cfg("cdc", Seq("customer")).copy(source = SourceConfig(
        "127.0.0.1", srv.port, "repl", "graft-secret", "shop"))
      def runAndCheck(run: Long, model: Seq[(Long, String, Double)],
                      nApplied: Int): Unit = {
        // later runs stamp later versions, as the wall clock would
        Main.runCdc(spark, conf, srcDir, wh, once = true,
          initialVersion = run * 1000L, versionOf = b => run * 1000L + 1L + b)
        val applied = spark.read.parquet(s"$wh/customer.parquet").count()
        assert(applied == nApplied, s"run $run applied rows")
        val live = spark.table("customer_live")
        val m = model.toDF("c_custkey", "c_name", "c_acctbal")
        assert(live.exceptAll(m).count() == 0 && m.exceptAll(live).count() == 0,
          s"run $run: customer_live != model")
      }
      // applied = the copy + every change revealed so far: a re-copy, or a
      // capture at the log start instead of its end, adds rows
      runAndCheck(1, snapshot, 3)
      srv.truncate(file, logs(1).length) // W1 lands
      runAndCheck(2, Seq(alice, bob2, dave), 3 + 3)
      srv.reveal(file) // W2 lands
      val model3 = Seq(bob2, dave2)
      runAndCheck(3, model3, 3 + 5)
      // offsets with no commit (a crash before the first commit; batch 0
      // would replay from a new capture): capture and copy again, and the
      // copy REPLACES the target
      graft.GateCache.deleteRecursively(
        new java.io.File(s"$wh/_checkpoints/customer/commits"))
      assert(new java.io.File(s"$wh/_checkpoints/customer/offsets/0").exists)
      model3.toDF("c_custkey", "c_name", "c_acctbal")
        .write.mode("overwrite").parquet(s"$srcDir/customer.parquet")
      runAndCheck(4, model3, 2)
    } finally srv.close()
  }

  test("cdc mode fails at start on a table with no known key, naming it") {
    val e = intercept[IllegalArgumentException](
      Main.runCdc(spark, cfg("cdc", Seq("users")), "/nonexistent", "/nonexistent",
        once = true))
    assert(e.getMessage.contains("users"))
  }
}
