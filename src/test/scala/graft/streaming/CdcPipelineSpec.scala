package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.SchemaModel.VersionCol
import graft.operators.LiveView

/** End-to-end CDC streaming: initial sync → change-stream apply via
  * foreachBatch + checkpoint → live-view read (SURVEY.md §2.9 T1/T2/T3/T7).
  * The change stream is a parquet file source over a temp dir we append
  * files to — each file plays a binlog segment. */
class CdcPipelineSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDirs() = (
    Files.createTempDirectory("cdc_src").toString,
    Files.createTempDirectory("cdc_tgt").toString,
    Files.createTempDirectory("cdc_ckp").toString)

  // change rows: (id, email, op, seq)
  private def writeSegment(dir: String, name: String,
                           rows: Seq[(Int, String, String, Long)]): Unit =
    rows.toDF("id", "email", "op", "seq")
      .coalesce(1).write.mode("append").parquet(s"$dir/$name")

  test("initial sync + two micro-batches + live view (T7→T1→T2→W1)") {
    val (src, tgt, ckp) = freshDirs()
    val pipe = new CdcPipeline(spark, tgt, ckp)

    // T7: snapshot with one version for the whole table
    val snapshot = Seq((1, "a@x.com"), (2, "b@x.com")).toDF("id", "email")
      .withColumn("seq", lit(0L))
    pipe.initialSync(snapshot, "users", versionMicros = 1000L, seqCol = "seq")

    // segment 1: update id=1, insert id=3
    writeSegment(src, "seg1", Seq(
      (1, "a2@x.com", "U", 1L), (3, "c@x.com", "I", 2L)))

    val schema = "id INT, email STRING, op STRING, seq BIGINT"
    def runStream(version: Long): Unit = {
      val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .parquet(s"$src/*")
      val q = pipe.start(stream, "users", opCol = "op", seqCol = "seq",
        versionOf = _ => version)
      q.awaitTermination()
    }
    runStream(2000L)

    // segment 2: delete id=2 — new file picked up from the checkpoint
    writeSegment(src, "seg2", Seq((2, "b@x.com", "D", 3L)))
    runStream(3000L)

    val applied = pipe.applied("users").drop("op")
    // versions: snapshot=1000, batch1=2000, batch2=3000 (batch-granular F1)
    assert(applied.select(VersionCol).distinct().as[Long].collect().toSet ==
      Set(1000L, 2000L, 3000L))

    val live = LiveView.live(applied, Seq("id"))
      .select("id", "email").as[(Int, String)].collect().toSet
    assert(live == Set((1, "a2@x.com"), (3, "c@x.com"))) // 2 tombstoned

    // T3: replaying segment 1 through a FRESH checkpoint (simulated crash
    // replay, at-least-once) must not change the live view — duplicates are
    // absorbed by version dedup exactly like ReplacingMergeTree.
    val ckp2 = Files.createTempDirectory("cdc_ckp2").toString
    val pipe2 = new CdcPipeline(spark, tgt, ckp2)
    val stream2 = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(schema))
      .parquet(s"$src/*")
    val q2 = pipe2.start(stream2, "users", opCol = "op", seqCol = "seq",
      versionOf = _ => 3000L)
    q2.awaitTermination()
    val liveAfterReplay = LiveView.live(pipe2.applied("users"), Seq("id"))
      .select("id", "email").as[(Int, String)].collect().toSet
    assert(liveAfterReplay == live)
  }

  test("registerLiveView is late-bound: appends after registration show, " +
      "tombstones drop, _ingest_seq breaks _version ties") {
    val (src, tgt, ckp) = freshDirs()
    val pipe = new CdcPipeline(spark, tgt, ckp)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id INT, email STRING, op STRING, seq BIGINT")
    // every batch gets the SAME version: only the seq orders a key's rows
    def drain(): Unit = pipe.start(
      spark.readStream.schema(schema).parquet(s"$src/*"), "members",
      opCol = "op", seqCol = "seq", versionOf = _ => 5L).awaitTermination()
    writeSegment(src, "seg1", Seq((1, "a@x.com", "I", 1L),
      (2, "b@x.com", "I", 2L), (1, "a2@x.com", "U", 3L)))
    drain()
    val name = pipe.registerLiveView("members", Seq("id"))
    assert(name == "members_live")
    def live() = spark.sql(s"SELECT * FROM $name").as[(Int, String)]
      .collect().toSet
    assert(spark.table(name).columns.toSeq == Seq("id", "email"))
    assert(live() == Set((1, "a2@x.com"), (2, "b@x.com")))
    // appended AFTER registration, no re-registration: key 2 tombstoned,
    // key 3 new; key 1's late row carries a LOWER seq at the same
    // version, so it must not displace the seq-3 survivor
    writeSegment(src, "seg2", Seq((2, "b@x.com", "D", 4L),
      (3, "c@x.com", "I", 5L), (1, "stale@x.com", "U", 0L)))
    drain()
    assert(live() == Set((1, "a2@x.com"), (3, "c@x.com")))
    // names reach SQL text: anything but a plain identifier is rejected
    Seq("bad name", "x; DROP VIEW members_live", "a`b").foreach { bad =>
      intercept[IllegalArgumentException](pipe.registerLiveView(bad, Seq("id")))
    }
    intercept[IllegalArgumentException](
      pipe.registerLiveView("members", Seq("id` OR 1=1 --")))
  }

  test("progress listener observes micro-batch metrics (O6)") {
    val (src, tgt, ckp) = freshDirs()
    val logger = ProgressLogger.attach(spark)
    try {
      writeSegment(src, "seg1", Seq((1, "x@x.com", "I", 1L)))
      val pipe = new CdcPipeline(spark, tgt, ckp)
      val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType.fromDDL(
          "id INT, email STRING, op STRING, seq BIGINT"))
        .parquet(s"$src/*")
      val q = pipe.start(stream, "users", opCol = "op", seqCol = "seq",
        versionOf = _ => 1L)
      q.awaitTermination()
      // listener delivery is async — bounded wait
      val deadline = System.currentTimeMillis() + 15000
      while (logger.batches.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(logger.batches.exists(b => b.numInputRows == 1))
    } finally spark.streams.removeListener(logger)
  }

  test("table-set filter drops events for unreplicated tables (P5/S4)") {
    val (src, tgt, ckp) = freshDirs()
    val pipe = new CdcPipeline(spark, tgt, ckp)
    Seq((1, "keep", "I", 1L, "users"), (2, "drop", "I", 2L, "other"))
      .toDF("id", "email", "op", "seq", "table")
      .coalesce(1).write.parquet(s"$src/seg1")
    val stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType.fromDDL(
        "id INT, email STRING, op STRING, seq BIGINT, `table` STRING"))
      .parquet(s"$src/*")
    val q = pipe.start(stream, "users", opCol = "op", seqCol = "seq",
      tables = Seq("users"), tableCol = Some("table"), versionOf = _ => 1L)
    q.awaitTermination()
    assert(pipe.applied("users").select("email").as[String].collect().toSeq ==
      Seq("keep"))
  }

  test("PK-changing update through the pipeline: parity orphans the old " +
      "key, fixPkUpdateOrphans tombstones it (T28 streaming path)") {
    // change rows carry both images: (before_id, id, email, op, seq)
    val schema = "before_id INT, id INT, email STRING, op STRING, seq BIGINT"
    def run(fix: Boolean): org.apache.spark.sql.DataFrame = {
      val (src, tgt, ckp) = freshDirs()
      val pipe = new CdcPipeline(spark, tgt, ckp)
      Seq(
        (1, 1, "a@x.com", "I", 1L), // insert id=1
        (2, 2, "b@x.com", "I", 2L), // insert id=2
        (1, 9, "a@x.com", "U", 3L)) // id 1 renumbered to 9
        .toDF("before_id", "id", "email", "op", "seq")
        .coalesce(1).write.parquet(s"$src/seg1")
      val stream = spark.readStream.schema(
        org.apache.spark.sql.types.StructType.fromDDL(schema))
        .parquet(s"$src/*")
      val q = pipe.start(stream, "users", opCol = "op", seqCol = "seq",
        versionOf = _ => 100L, beforeImage = Some(("id", "before_id")),
        fixPkUpdateOrphans = fix)
      q.awaitTermination()
      LiveView.live(pipe.applied("users"), pks = Seq("id"))
    }
    // parity: the old key's insert survives — the reference's orphan
    assert(run(fix = false).select("id").as[Int].collect().sorted.toSeq ==
      Seq(1, 2, 9))
    // fixed: the tombstone (same version, seq=3 beats seq=1) removes it
    assert(run(fix = true).select("id").as[Int].collect().sorted.toSeq ==
      Seq(2, 9))
  }
}
