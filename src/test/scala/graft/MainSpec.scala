package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.{GraftConfig, ReplicationConfig, SourceConfig, TargetConfig}
import graft.operators.LiveView
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

/** End-to-end drive of the Main pipeline bodies (O1 dispatch targets) —
  * not just the operators: snapshot mode over a real source dir, and cdc
  * mode with initial sync + a fabricated change stream applied through the
  * real Structured Streaming path, verified via the live view. */
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

  test("cdc mode end-to-end: initial sync + streamed I/U/D, live view " +
      "shows latest state") {
    val srcDir = Files.createTempDirectory("graft_main_src").toString
    val wh = Files.createTempDirectory("graft_main_cdc_wh").toString
    val streamDir = Files.createTempDirectory("graft_main_stream").toString
    // source table: 3 users
    Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
      .toDF("user_id", "name", "score")
      .write.parquet(s"$srcDir/users.parquet")
    // change stream: update bob, delete carol, insert dave
    Seq(
      ("U", 1L, "users", 2L, "bob2", 25.0),
      ("D", 2L, "users", 3L, "carol", 30.0),
      ("I", 3L, "users", 4L, "dave", 40.0))
      .toDF("op", "seq", "table_name", "user_id", "name", "score")
      .write.mode("overwrite").parquet(streamDir) // dir pre-created by temp helper

    Main.runCdc(spark, cfg("cdc", Seq("users")), srcDir, wh, streamDir,
      once = true, initialVersion = 1000L, versionOf = _ => 2000L)

    val applied = spark.read.parquet(s"$wh/users.parquet")
    assert(applied.count() == 6) // 3 synced + 3 change rows, append-only
    val live = LiveView.live(
      applied.select((Seq("user_id", "name", "score") ++
        Seq(VersionCol, SeqCol, DeletedCol)).map(col): _*),
      pks = Seq("user_id"))
      .select("user_id", "name", "score")
      .as[(Long, String, Double)].collect().toSet
    assert(live == Set(
      (1L, "alice", 10.0),   // untouched
      (2L, "bob2", 25.0),    // updated
      (4L, "dave", 40.0)))   // inserted; carol deleted
  }
}
