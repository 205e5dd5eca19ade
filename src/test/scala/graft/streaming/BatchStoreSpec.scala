package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.queries.StreamGate
import graft.sources.HadoopFs

/** Pins for the batch-directory store ([[HadoopFs]]'s numbered listing
  * and swap, [[BatchDirs]]' fold): numeric id order, sibling noise
  * ignored, the strictly-below read point, restart safety with no driver
  * state, URI roots, and the move-aside swap's recovery and rollback. */
class BatchStoreSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def sumMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("k")).agg(sum(col("n")).as("n"))

  private def partial(rows: (Long, Long)*): DataFrame =
    rows.toDF("k", "n").groupBy(col("k")).agg(sum(col("n")).as("n"))

  private def contents(path: String): Map[Long, Long] =
    spark.read.parquet(path).as[(Long, Long)].collect().toMap

  test("ids order numerically and non-numeric siblings are ignored") {
    val root = tmp("graft_bs_list")
    Seq("b10", "b2", "b1", "bx", "b", "b-3", "_temporary")
      .foreach(n => HadoopFs.mkdirs(s"$root/$n"))
    HadoopFs.touch(s"$root/_SUCCESS")
    assert(HadoopFs.numberedIds(root, "b") == Seq(1L, 2L, 10L))
    assert(HadoopFs.numberedIds(s"$root/missing", "b").isEmpty)
    Seq(1L, 2L, 10L).foreach(id =>
      Seq(id).toDF("id").write.parquet(BatchDirs.dir(s"$root/d", id)))
    assert(BatchDirs.read(spark, s"$root/d").get.as[Long].collect().toSeq
      == Seq(1L, 2L, 10L))
    assert(BatchDirs.read(spark, s"$root/d", excludeAtOrAbove = Some(10L))
      .get.as[Long].collect().toSeq == Seq(1L, 2L))
  }

  test("newest below N skips a crashed attempt's own v<N>") {
    val root = tmp("graft_bs_below")
    BatchDirs.fold(root, 0L, partial(1L -> 1L))(sumMerge)
    BatchDirs.fold(root, 1L, partial(1L -> 2L, 2L -> 5L))(sumMerge)
    BatchDirs.fold(root, 2L, partial(2L -> 1L))(sumMerge)
    val once = contents(BatchDirs.snapshot(root))
    assert(once == Map(1L -> 3L, 2L -> 6L))
    assert(HadoopFs.newestBelow(root, "v", 2L) == Some(1L))
    assert(HadoopFs.newestBelow(root, "v", 0L).isEmpty)
    // replay of batch 2 after a crash past its snapshot write: the fold
    // reads v1, not its own v2, so nothing is counted twice
    BatchDirs.fold(root, 2L, partial(2L -> 1L))(sumMerge)
    assert(BatchDirs.latest(root) == Some(2L))
    assert(contents(BatchDirs.snapshot(root)) == once)
  }

  test("a fold restarted from its checkpoint equals an uninterrupted one") {
    val waves = Seq(Seq(1L -> 1L), Seq(1L -> 2L, 2L -> 5L), Seq(2L -> 1L))
      .map(w => w.toDF("k", "n"))
    def stage(src: String, i: Int): Unit = StreamGate.stageReplayFile(src)(
      waves(i), s"b$i.parquet", 1600000000000L + i * 600000L)
    def drain(src: String, store: String, ckp: String): Unit =
      BoundedStream.drain(StreamGate.replay(spark, src).writeStream
        .foreachBatch { (b: DataFrame, batchId: Long) =>
          BatchDirs.fold(store, batchId,
            b.groupBy(col("k")).agg(sum(col("n")).as("n")))(sumMerge)
        }, ckp)
    // uninterrupted: one query over all three waves
    val (src1, store1) = (tmp("graft_bs_src1"), tmp("graft_bs_store1"))
    (0 to 2).foreach(stage(src1, _))
    drain(src1, store1, tmp("graft_bs_ckp1"))
    // restarted: the query stops after two waves, the third lands, and a
    // NEW query resumes from the same checkpoint — nothing survives in
    // between except what is on disk
    val (src2, store2, ckp2) =
      (tmp("graft_bs_src2"), tmp("graft_bs_store2"), tmp("graft_bs_ckp2"))
    (0 to 1).foreach(stage(src2, _))
    drain(src2, store2, ckp2)
    assert(BatchDirs.latest(store2) == Some(1L))
    stage(src2, 2)
    drain(src2, store2, ckp2)
    assert(BatchDirs.latest(store2) == Some(2L))
    assert(contents(BatchDirs.snapshot(store2)) ==
      contents(BatchDirs.snapshot(store1)))
    assert(contents(BatchDirs.snapshot(store1)) == Map(1L -> 3L, 2L -> 6L))
  }

  test("a file: URI root lists, folds and reads") {
    val root = "file:" + tmp("graft_bs_uri")
    BatchDirs.fold(root, 0L, partial(1L -> 1L))(sumMerge)
    BatchDirs.fold(root, 1L, partial(1L -> 4L))(sumMerge)
    assert(HadoopFs.numberedIds(root, "v") == Seq(0L, 1L))
    assert(BatchDirs.snapshot(root) == s"$root/v1")
    assert(contents(BatchDirs.snapshot(root)) == Map(1L -> 5L))
  }

  test("swap recovers a stranded ._compact_old") {
    val path = tmp("graft_bs_swap") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(path)
    // the crash window: live dir moved aside, new layout never landed
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "._compact_old")))
    HadoopFs.recoverSwap(path)
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(!HadoopFs.exists(path + "._compact_old"))
    // and a swap started over a stranded old dir recovers it first
    assert(new java.io.File(path)
      .renameTo(new java.io.File(path + "._compact_old")))
    val n = HadoopFs.swap(path) { t =>
      // recovered before `write` runs: the live name holds the data again
      spark.read.parquet(path).withColumn("id", col("id") * 10)
        .write.parquet(t)
      2
    }
    assert(n == 2)
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L))
    assert(!HadoopFs.exists(path + "._compact_old"))
    assert(!HadoopFs.exists(path + "._compact_tmp"))
  }

  test("swap restores the original and throws when the second rename fails") {
    val path = tmp("graft_bs_rollback") + "/t"
    Seq(1L, 2L).toDF("id").write.parquet(path)
    // `write` produces no tmp dir, so tmp -> path cannot rename
    val e = intercept[IllegalStateException](HadoopFs.swap(path)(_ => ()))
    assert(e.getMessage.contains("original restored"))
    assert(spark.read.parquet(path).as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L))
    assert(!HadoopFs.exists(path + "._compact_old"))
  }
}
