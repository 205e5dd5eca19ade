package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.TargetConfig

/** Live Derby exercise of the watermark-polling capture: snapshot poll,
  * delta-only poll (the WHERE runs in the source engine), at-least-once
  * replay before commit, empty poll after, and LiveView resolving the
  * replay duplicates downstream. */
class JdbcIncrementalSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dbUrl = "jdbc:derby:memory:graftinc;create=true"
  private val sinkCfg = TargetConfig(user = "app")

  test("poll/commit protocol: snapshot, delta, replay, drained") {
    val wmDir = graft.GateCache.tempDir("graft_jdbc_wm").toString
    val sink = new JdbcSink(sinkCfg, urlOverride = Some(dbUrl))
    val inc = new JdbcIncremental(spark, dbUrl, "app", wmDir)

    sink.write(Seq((1L, 100L, 10.0), (2L, 200L, 20.0), (3L, 300L, 30.0))
      .toDF("SEQ", "K", "V"), "INC_T")

    // snapshot poll (no watermark yet) sees everything
    val p1 = inc.poll("INC_T", "SEQ")
    assert(p1.count() == 3)
    inc.commit("INC_T", 3L)

    // source grows; the next poll captures ONLY the delta
    sink.write(Seq((4L, 400L, 40.0), (5L, 200L, 21.0)).toDF("SEQ", "K", "V"),
      "INC_T")
    val p2 = inc.poll("INC_T", "SEQ")
    assert(p2.select("SEQ").as[Long].collect().sorted.toSeq == Seq(4L, 5L))

    // crash before commit: the SAME delta replays (at-least-once)...
    val replay = inc.poll("INC_T", "SEQ")
    assert(replay.select("SEQ").as[Long].collect().sorted.toSeq ==
      Seq(4L, 5L))
    inc.commit("INC_T", 5L)
    // ...and after commit the stream is drained
    assert(inc.poll("INC_T", "SEQ").count() == 0)

    // downstream: land all polls append-only (p2 twice = the replay) and
    // let the live view resolve duplicates — key 200's latest value wins
    import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}
    val landed = Seq(p1, p2, replay).zipWithIndex.map { case (df, i) =>
      df.withColumn(VersionCol, lit(i.toLong))
        .withColumn(SeqCol, col("SEQ"))
        .withColumn(DeletedCol, lit(0))
    }.reduce(_ unionByName _)
    val live = graft.operators.LiveView.live(
      landed.select(col("K"), col("V"), col(VersionCol), col(SeqCol),
        col(DeletedCol)),
      pks = Seq("K"))
    assert(live.count() == 4) // 100,200,300,400 — replay dups collapsed
    assert(live.filter(col("K") === 200L).select("V").as[Double]
      .head() == 21.0)
  }

  test("compound (timestamp + incrementing) mode captures UPDATEs and " +
      "splits same-timestamp rows exactly at the id tie-break") {
    val wmDir = graft.GateCache.tempDir("graft_jdbc_wm2").toString
    val sink = new JdbcSink(sinkCfg, urlOverride = Some(dbUrl))
    val inc = new JdbcIncremental(spark, dbUrl, "app", wmDir)

    // (TS, ID, V): two rows share TS=100 — the id must split them
    sink.write(Seq((100L, 1L, 10.0), (100L, 2L, 20.0), (200L, 3L, 30.0))
      .toDF("TS", "ID", "V"), "INC_C")
    val p1 = inc.pollCompound("INC_C", "TS", "ID")
    assert(p1.count() == 3)
    // commit MID-timestamp: (100, 1) — as if the land stopped after row 1
    inc.commitCompound("INC_C", 100L, 1L)
    // the re-poll resumes exactly after the tie-break: (100,2) and (200,3)
    assert(inc.pollCompound("INC_C", "TS", "ID")
      .select("ID").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    inc.commitCompound("INC_C", 200L, 3L)
    assert(inc.pollCompound("INC_C", "TS", "ID").count() == 0)

    // an UPDATE advances TS (the mode's contract) and IS captured —
    // the thing plain incrementing-id polling can never see
    new JdbcSink(sinkCfg, urlOverride = Some(dbUrl)) // keep user scope
    val conn = java.sql.DriverManager.getConnection(dbUrl, "app", "")
    try {
      val st = conn.createStatement()
      st.executeUpdate("UPDATE INC_C SET TS = 300, V = 11.0 WHERE ID = 1")
      st.close()
    } finally conn.close()
    val upd = inc.pollCompound("INC_C", "TS", "ID")
    assert(upd.select("ID").as[Long].collect().toSeq == Seq(1L))
    assert(upd.select("V").as[Double].head() == 11.0)
  }

  test("corrupt/truncated watermark files read as MinValue (full replay, " +
      "still at-least-once) instead of throwing — r11 ADVICE") {
    val wmDir = graft.GateCache.tempDir("graft_jdbc_wmc").toString
    val inc = new JdbcIncremental(spark, dbUrl, "app", wmDir)
    new java.io.File(wmDir).mkdirs()
    // the state a crash mid-truncate-then-write leaves behind
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(wmDir, "CRPT.wm"), "")
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(wmDir, "CRPT.wm2"), "12,") // half a pair
    assert(inc.watermark("CRPT") == Long.MinValue)
    assert(inc.watermark2("CRPT") == (Long.MinValue, Long.MinValue))
    java.nio.file.Files.writeString(
      java.nio.file.Path.of(wmDir, "CRPT.wm2"), "nonsense")
    assert(inc.watermark2("CRPT") == (Long.MinValue, Long.MinValue))
    // a committed watermark still round-trips exactly
    inc.commit("CRPT", 42L)
    inc.commitCompound("CRPT", 7L, 9L)
    assert(inc.watermark("CRPT") == 42L)
    assert(inc.watermark2("CRPT") == (7L, 9L))
    // and the commit leaves no partial temp debris behind on success
    val leftovers = Option(new java.io.File(wmDir).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }
}
