package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
import graft.TestSpark

/** Pins mid-stream schema evolution (t24 — the reference's "No DDL
  * replication" limitation, closed): a crafted two-phase Debezium replay
  * where the upstream table gains columns between files. The crafted
  * data, unlike the gate's real replay, exercises the NULL-backfill path
  * end to end: a user whose LAST change pre-dates the DDL must surface
  * with NULL new-columns in the live view. */
class EvolvingCdcSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def env(op: String, pos: Long, image: String): String = {
    val (before, after) =
      if (op == "d") (image, "null") else ("null", image)
    s"""{"before":$before,"after":$after,"source":{"ts_ms":${pos * 1000},""" +
      s""""db":"g","table":"t","file":"binlog.000001","pos":$pos},""" +
      s""""op":"$op","ts_ms":${pos * 1000}}"""
  }

  test("ADD COLUMN mid-stream: schema widens with inferred types, old rows " +
      "backfill NULL, post-DDL survivor carries values, delete still applies") {
    val base = StructType.fromDDL("id BIGINT, name STRING")
    val landing = graft.GateCache.tempDir("evo_spec_src")
    val tgt = graft.GateCache.tempDir("evo_spec_tgt").toString
    val ckp = graft.GateCache.tempDir("evo_spec_ckp").toString

    // phase 1 (pre-DDL): users 1, 2, 3 in the base shape
    val f1 = Seq(
      env("c", 1, """{"id":1,"name":"a"}"""),
      env("c", 2, """{"id":2,"name":"b"}"""),
      env("c", 3, """{"id":3,"name":"c"}"""))
    // phase 2 (post ALTER TABLE t ADD COLUMN region STRING, score DOUBLE,
    // n BIGINT): user 2 updated with the wide shape, user 3 deleted
    // (delete image also wide), user 4 inserted; user 1 NEVER touched
    // again — its live row must backfill the new columns as NULL
    val f2 = Seq(
      env("u", 4, """{"id":2,"name":"b2","region":"eu","score":1.5,"n":7}"""),
      env("d", 5, """{"id":3,"name":"c","region":"us","score":0.5,"n":1}"""),
      env("c", 6, """{"id":4,"name":"d","region":"ap","score":2.5,"n":9}"""))
    val p1 = landing.resolve("a_phase1.txt")
    val p2 = landing.resolve("b_phase2.txt")
    java.nio.file.Files.write(p1, f1.mkString("\n").getBytes)
    java.nio.file.Files.write(p2, f2.mkString("\n").getBytes)
    // one file per trigger, phase 1 strictly before phase 2
    assert(p1.toFile.setLastModified(1000000L))
    assert(p2.toFile.setLastModified(2000000L))

    val evolved = EvolvingCdc.run(spark, landing.toString, tgt, ckp,
      base, "t", maxFilesPerTrigger = 1)

    // the registry widened IN NAME ORDER with the JSON-inferred types
    assert(evolved.fieldNames.toSeq ==
      Seq("id", "name", "n", "region", "score"))
    assert(evolved("region").dataType == StringType)
    assert(evolved("score").dataType == DoubleType)
    assert(evolved("n").dataType == LongType)

    // landed table: merged footers surface every column; the three
    // phase-1 rows backfill the ALTER-added columns as NULL
    val landed = EvolvingCdc.landed(spark, tgt)
    assert(Seq("n", "region", "score").forall(landed.columns.contains))
    assert(landed.count() == 6)
    assert(landed.filter(col("region").isNull).count() == 3)

    // live view: survivor per id by binlog pos; id 3's tombstone applies
    val live = graft.operators.LiveView.live(landed, pks = Seq("id"))
      .select("id", "name", "region", "score")
      .as[(Long, String, Option[String], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(live.keySet == Set(1L, 2L, 4L))
    assert(live(1L) == (("a", None, None)), "pre-DDL survivor must backfill NULL")
    assert(live(2L) == (("b2", Some("eu"), Some(1.5))))
    assert(live(4L) == (("d", Some("ap"), Some(2.5))))
  }

  test("conflict-driven re-widening: null→int→double batches end at " +
      "DOUBLE, landed values intact (r11 verdict: first-batch-wins removed)") {
    val base = StructType.fromDDL("id BIGINT, name STRING")
    val landing = graft.GateCache.tempDir("evo_spec3_src")
    val tgt = graft.GateCache.tempDir("evo_spec3_tgt").toString
    val ckp = graft.GateCache.tempDir("evo_spec3_ckp").toString
    // worst-case arrival order for first-batch-wins inference: the new
    // column q is first seen all-NULL (would freeze STRING), then
    // all-integral (would freeze LONG), then fractional
    val batches = Seq(
      Seq(env("c", 1, """{"id":1,"name":"a","q":null}""")),
      Seq(env("c", 2, """{"id":2,"name":"b","q":7}""")),
      Seq(env("c", 3, """{"id":3,"name":"c","q":2.5}""")))
    batches.zipWithIndex.foreach { case (lines, i) =>
      val p = landing.resolve(s"f$i.txt")
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
      assert(p.toFile.setLastModified(1000000L * (i + 1)))
    }
    val evolved = EvolvingCdc.run(spark, landing.toString, tgt, ckp,
      base, "t", maxFilesPerTrigger = 1)
    assert(evolved("q").dataType == DoubleType,
      s"q froze at ${evolved("q").dataType} instead of re-widening")
    // the widen rewrote earlier files: one physical type, values exact
    val landed = EvolvingCdc.landed(spark, tgt)
      .select("id", "q").as[(Long, Option[Double])].collect().toSet
    assert(landed == Set((1L, None), (2L, Some(7.0)), (3L, Some(2.5))))
  }

  test("re-widening never narrows: a double column later fed all-integral " +
      "values stays DOUBLE; a quoted numeric string stays STRING") {
    val base = StructType.fromDDL("id BIGINT")
    val landing = graft.GateCache.tempDir("evo_spec4_src")
    val tgt = graft.GateCache.tempDir("evo_spec4_tgt").toString
    val ckp = graft.GateCache.tempDir("evo_spec4_ckp").toString
    val batches = Seq(
      Seq(env("c", 1, """{"id":1,"d":1.5,"s":"00123"}""")),
      Seq(env("c", 2, """{"id":2,"d":3,"s":"00456"}""")))
    batches.zipWithIndex.foreach { case (lines, i) =>
      val p = landing.resolve(s"f$i.txt")
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
      assert(p.toFile.setLastModified(1000000L * (i + 1)))
    }
    val evolved = EvolvingCdc.run(spark, landing.toString, tgt, ckp,
      base, "t", maxFilesPerTrigger = 1)
    assert(evolved("d").dataType == DoubleType)
    assert(evolved("s").dataType == StringType)
    val landed = EvolvingCdc.landed(spark, tgt)
      .select("id", "d", "s").as[(Long, Double, String)].collect().toSet
    assert(landed == Set((1L, 1.5, "00123"), (2L, 3.0, "00456")))
  }

  test("null-first boolean settles at BOOLEAN (typed-null rewrite), and " +
      "an overflowing integer literal widens LONG→DOUBLE instead of " +
      "nulling the row (r12 review findings)") {
    val base = StructType.fromDDL("id BIGINT")
    val landing = graft.GateCache.tempDir("evo_spec5_src")
    val tgt = graft.GateCache.tempDir("evo_spec5_tgt").toString
    val ckp = graft.GateCache.tempDir("evo_spec5_ckp").toString
    val batches = Seq(
      Seq(env("c", 1, """{"id":1,"flag":null,"n":1}""")),
      Seq(env("c", 2, """{"id":2,"flag":true,"n":2}""")),
      // 99999999999999999999 > Long.MaxValue: must re-infer and widen,
      // not slip the probe and null the whole row in PERMISSIVE parse
      Seq(env("c", 3, """{"id":3,"flag":false,"n":99999999999999999999}""")))
    batches.zipWithIndex.foreach { case (lines, i) =>
      val p = landing.resolve(s"f$i.txt")
      java.nio.file.Files.write(p, lines.mkString("\n").getBytes)
      assert(p.toFile.setLastModified(1000000L * (i + 1)))
    }
    val evolved = EvolvingCdc.run(spark, landing.toString, tgt, ckp,
      base, "t", maxFilesPerTrigger = 1)
    // same type a single-batch arrival would have registered
    assert(evolved("flag").dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"null-first boolean settled at ${evolved("flag").dataType}")
    assert(evolved("n").dataType == DoubleType,
      s"overflowing literal settled at ${evolved("n").dataType}")
    val landed = EvolvingCdc.landed(spark, tgt)
      .select("id", "flag", "n")
      .as[(Long, Option[Boolean], Option[Double])].collect().toSet
    assert(landed == Set(
      (1L, None, Some(1.0)),
      (2L, Some(true), Some(2.0)),
      (3L, Some(false), Some(1.0e20))), s"landed=$landed")
  }

  test("drift in the FIRST batch and late pre-DDL arrivals both land") {
    // the wide file arrives first (out-of-order delivery): widening
    // happens at batch 1, and the late base-shape file must still parse
    // under the already-widened schema
    val base = StructType.fromDDL("id BIGINT, name STRING")
    val landing = graft.GateCache.tempDir("evo_spec2_src")
    val tgt = graft.GateCache.tempDir("evo_spec2_tgt").toString
    val ckp = graft.GateCache.tempDir("evo_spec2_ckp").toString
    val wide = Seq(env("c", 10, """{"id":1,"name":"x","region":"eu"}"""))
    val old = Seq(env("c", 11, """{"id":2,"name":"y"}"""))
    val pw = landing.resolve("a_wide.txt")
    val po = landing.resolve("b_old.txt")
    java.nio.file.Files.write(pw, wide.mkString("\n").getBytes)
    java.nio.file.Files.write(po, old.mkString("\n").getBytes)
    assert(pw.toFile.setLastModified(1000000L))
    assert(po.toFile.setLastModified(2000000L))
    val evolved = EvolvingCdc.run(spark, landing.toString, tgt, ckp,
      base, "t", maxFilesPerTrigger = 1)
    assert(evolved.fieldNames.toSeq == Seq("id", "name", "region"))
    val landed = EvolvingCdc.landed(spark, tgt)
      .select("id", "name", "region")
      .as[(Long, String, Option[String])].collect().toSet
    assert(landed == Set((1L, "x", Some("eu")), (2L, "y", None)))
  }
}
