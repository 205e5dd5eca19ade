package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}

class CdcTransformSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val changes = Seq(
    (1L, "a", "I", 100L), (2L, "b", "U", 200L), (3L, "c", "D", 300L))
    .toDF("id", "payload", "op", "ts_us")

  test("stampBatch: one version per batch, deleted flag per op (F1/F2)") {
    val out = CdcTransform.stampBatch(changes, "op", "id", 42L)
    assert(out.select(VersionCol).distinct().as[Long].collect().toSeq == Seq(42L))
    val flags = out.select("op", DeletedCol).as[(String, Int)].collect().toMap
    assert(flags == Map("I" -> 0, "U" -> 0, "D" -> 1))
  }

  test("stamp with event-time version uses the ts column (per-row)") {
    val out = CdcTransform.stamp(changes, "op", "id", col("ts_us"))
    assert(out.select(VersionCol).as[Long].collect().sorted.toSeq ==
      Seq(100L, 200L, 300L))
  }

  test("stampWithBeforeImage: parity mode ≡ stamp; fixed mode tombstones " +
      "exactly the PK-changing updates under their OLD key (T28)") {
    // key 2 moves 2→20 via an update; key 1 is a non-key update; key 3
    // deletes (before≠after on a delete must NOT tombstone-fork)
    val moves = Seq(
      (1L, 1L, "a2", "U", 150L),
      (2L, 20L, "b2", "U", 250L),
      (3L, 30L, "c2", "D", 350L))
      .toDF("before_key", "key", "payload", "op", "ts_us")
    val parity = CdcTransform.stampWithBeforeImage(moves, "op", "ts_us",
      col("ts_us"), "key", "before_key", fixPkUpdateOrphans = false)
    val plain = CdcTransform.stamp(moves, "op", "ts_us", col("ts_us"))
      .drop("before_key")
    assert(parity.exceptAll(plain).isEmpty && plain.exceptAll(parity).isEmpty)
    val fixed = CdcTransform.stampWithBeforeImage(moves, "op", "ts_us",
      col("ts_us"), "key", "before_key", fixPkUpdateOrphans = true)
    assert(fixed.count() == 4) // 3 after-images + 1 tombstone (key 2 only)
    val tomb = fixed.exceptAll(parity)
    val row = tomb.select("key", DeletedCol, VersionCol, SeqCol)
      .as[(Long, Int, Long, Long)].collect().toSeq
    // old key, tombstoned, SAME (version, seq) as the update that moved it
    assert(row == Seq((2L, 1, 250L, 250L)))
    assert(!fixed.columns.contains("before_key"))
  }
}

/** Snapshot path over real harness data (SURVEY.md §7.5 minimum slice):
  * replicate sf0.001 → temp warehouse, counts reconcile (A1/A2/A4). */
class SnapshotSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark

  test("replicate lineitem: counts match, success=true (O3/A4)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    val r = rep.replicateTable("lineitem")
    assert(r.success && r.sourceCount == 6000 && r.targetCount == 6000)
    // target readable and schema preserved
    assert(rep.readTarget("lineitem").schema ==
      spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet").schema)
  }

  test("run all tables with error isolation; bad table fails alone (O4/O5)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    val results = rep.run(Seq("region", "nation", "supplier"), parallelism = 3)
    assert(results.forall(_.success))
    val bad = rep.replicateTable("no_such_table")
    assert(!bad.success && bad.error.isDefined)
  }

  test("run: one pool, results in the configured order, the bad table " +
      "fails alone, and no pool thread outlives the call (O4/O5)") {
    import scala.jdk.CollectionConverters._
    val wh = Files.createTempDirectory("graft_wh").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    val results = rep.run(Seq("region", "no_such_table", "nation"))
    assert(results.map(_.table) == Seq("region", "no_such_table", "nation"))
    assert(results.map(_.success) == Seq(true, false, true))
    assert(results(1).error.isDefined && results(2).sourceCount == 25)
    val alive = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.getName.startsWith("graft-snapshot-") && t.isAlive)
    assert(alive.isEmpty, s"pool threads still alive: $alive")
  }

  test("incremental snapshot appends only the delta past the watermark") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    // bootstrap: everything up to event_id 500, then the remainder
    val (r1, mark1) = rep.replicateIncremental("events", "event_id", -1L)
    assert(r1.success && r1.sourceCount == 1000 && mark1 == 999L)
    val (r2, mark2) = rep.replicateIncremental("events", "event_id", mark1)
    assert(r2.success && r2.sourceCount == 0 && mark2 == mark1) // no new rows
    assert(rep.targetCount("events") == 1000)
    // simulate catch-up from a mid-stream watermark into a fresh target
    val wh2 = Files.createTempDirectory("graft_wh2").toString
    val rep2 = new SnapshotReplicator(spark, TestSpark.Sf0001, wh2)
    val (r3, mark3) = rep2.replicateIncremental("events", "event_id", 499L)
    assert(r3.success && r3.sourceCount == 500 && mark3 == 999L)
  }

  test("incremental snapshot into a file: URI warehouse sees its target") {
    val wh = "file:" + Files.createTempDirectory("graft_wh_uri").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    val (r1, mark1) = rep.replicateIncremental("events", "event_id", 499L)
    assert(r1.success && r1.sourceCount == 500 && r1.targetCount == 500)
    assert(mark1 == 999L && rep.targetExists("events"))
    assert(rep.targetCount("events") == 500)
    // the warehouse dir is created through the URI, not as a local
    // relative directory literally named `file:`
    assert(rep.run(Seq("region")).forall(_.success))
    assert(!new java.io.File("file:").exists())
  }

  test("incremental snapshot: NULL watermarks included on first full run, " +
      "all-NULL delta keeps the mark") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_nullwm_src").toString
    Seq((Some(1L), "a"), (None, "b"), (Some(5L), "c"))
      .toDF("wm", "v").write.parquet(s"$srcDir/t.parquet")
    val wh = Files.createTempDirectory("graft_nullwm_wh").toString
    val rep = new SnapshotReplicator(spark, srcDir, wh)
    // first full run (Long.MinValue sentinel): NULL-wm row replicated too
    val (r1, mark1) = rep.replicateIncremental("t", "wm", Long.MinValue)
    assert(r1.success && r1.sourceCount == 3 && mark1 == 5L)
    // incremental run: strict > never matches NULL (documented contract)
    val (r2, mark2) = rep.replicateIncremental("t", "wm", mark1)
    assert(r2.success && r2.sourceCount == 0 && mark2 == 5L)
    // all-NULL first run into a fresh target: mark unchanged, no crash
    val srcDir2 = Files.createTempDirectory("graft_nullwm_src2").toString
    Seq((Option.empty[Long], "x"), (Option.empty[Long], "y"))
      .toDF("wm", "v").write.parquet(s"$srcDir2/t.parquet")
    val rep2 = new SnapshotReplicator(spark, srcDir2,
      Files.createTempDirectory("graft_nullwm_wh2").toString)
    val (r3, mark3) = rep2.replicateIncremental("t", "wm", Long.MinValue)
    assert(r3.success && r3.sourceCount == 2 && mark3 == Long.MinValue)
  }

  test("nested struct/array/map columns replicate byte-exactly") {
    // 100 TB lakes carry nested data; the snapshot path must not flatten,
    // reorder, or null-corrupt it. Full roundtrip through the replicator.
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_nested_src").toString
    val rows = Seq(
      (1L, ("alice", 30), Seq(1.5, 2.5), Map("a" -> 1L, "b" -> 2L)),
      (2L, ("bob", 40), Seq.empty[Double], Map.empty[String, Long]))
    rows.toDF("id", "person", "scores", "tags")
      .write.parquet(s"$srcDir/nested.parquet")
    val rep = new SnapshotReplicator(spark, srcDir,
      Files.createTempDirectory("graft_nested_wh").toString)
    val r = rep.replicateTable("nested")
    assert(r.success && r.targetCount == 2)
    val back = spark.read.parquet(rep.targetPath("nested"))
      .as[(Long, (String, Int), Seq[Double], Map[String, Long])]
      .collect().sortBy(_._1).toSeq
    assert(back == rows)
    assert(rep.schemaDrift("nested").isEmpty) // nested schema preserved
  }

  test("schema drift detected and described (README.md:491 failure mode)") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, wh)
    rep.replicateTable("region")
    assert(rep.schemaDrift("region").isEmpty)
    // fake drift: rewrite target with a column dropped and one retyped
    // (materialize before overwriting the files being read)
    val drifted = spark.read.parquet(rep.targetPath("region"))
      .withColumn("r_regionkey",
        org.apache.spark.sql.functions.col("r_regionkey").cast("long"))
      .drop("r_name")
      .persist()
    drifted.count()
    drifted.write.mode("overwrite").parquet(rep.targetPath("region"))
    drifted.unpersist()
    val drift = rep.schemaDrift("region")
    assert(drift.isDefined)
    assert(drift.get.contains("+r_name") &&
      drift.get.contains("r_regionkey: BIGINT→INT"))
  }

  test("compaction shrinks many small files to the sized target, content intact") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/lineitem.parquet"
    val src = spark.read.parquet(s"${TestSpark.Sf0001}/lineitem.parquet")
    src.repartition(40).write.parquet(dir) // fragment: 40 small files
    val before = spark.read.parquet(dir)
    val beforeRows = before.count()
    val r = Compaction.compact(spark, dir, targetFileBytes = 512L * 1024)
    assert(r.filesBefore == 40)
    assert(r.filesAfter < r.filesBefore && r.filesAfter >= 1)
    assert(r.rows == beforeRows)
    // content identical after the layout change
    val after = spark.read.parquet(dir)
    assert(after.exceptAll(src).isEmpty && src.exceptAll(after).isEmpty)
  }

  test("compaction auto-recovers a crash between the two swap renames") {
    val parent = Files.createTempDirectory("graft_compact_rec")
    val dir = new java.io.File(parent.toFile, "t.parquet")
    val src = spark.read.parquet(s"${TestSpark.Sf0001}/region.parquet")
    src.repartition(4).write.parquet(dir.getAbsolutePath)
    // simulate the crash window: live dir moved aside, new layout lost
    val old = new java.io.File(parent.toFile, "t.parquet._compact_old")
    assert(dir.renameTo(old) && !dir.exists())
    val r = Compaction.compact(spark, dir.getAbsolutePath,
      targetFileBytes = 512L * 1024)
    assert(r.filesBefore == 4 && r.rows == src.count())
    val after = spark.read.parquet(dir.getAbsolutePath)
    assert(after.exceptAll(src).isEmpty && src.exceptAll(after).isEmpty)
    assert(!old.exists()) // leftover cleaned up by the completed compact
  }

  test("table-set resolution: configured list else all (O2)") {
    val rep = new SnapshotReplicator(spark, TestSpark.Sf0001, "/tmp/unused_wh")
    assert(rep.tablesToReplicate(Seq("orders")) == Seq("orders"))
    assert(rep.tablesToReplicate().size == 10)
    intercept[IllegalArgumentException] {
      rep.tablesToReplicate(Seq("bad; DROP"))
    }
  }
}
