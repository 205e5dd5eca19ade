package graft.streaming

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.TestSpark
import graft.model.SchemaModel.{DeletedCol, SeqCol, VersionCol}
import graft.operators.Collapsing

/** Pins for incremental streaming collapse: batch-split invariance (the
  * additive-monoid claim), cross-batch cancellation through a real
  * micro-batch replay, and the O(live keys) store bound. */
class StreamCollapseSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val payload = Seq("state")

  private def stream(rows: (Long, Long, Long, Int, String)*) =
    rows.toDF("k", VersionCol, SeqCol, DeletedCol, "state")

  private val crafted = stream(
    (1L, 1L, 1L, 0, "a"), (1L, 2L, 2L, 0, "b"), (1L, 3L, 3L, 0, "c"),
    (2L, 1L, 4L, 0, "x"), (2L, 5L, 5L, 1, "x"),
    (3L, 1L, 6L, 0, "p"), (3L, 2L, 7L, 1, "p"), (3L, 6L, 8L, 0, "q"),
    (4L, 4L, 9L, 1, "z"))

  private def changelog = Collapsing.changelog(crafted, Seq("k"), payload)

  private def foldBy(splits: Seq[DataFrame]): Map[Long, String] =
    splits.filter(!_.isEmpty)
      .map(b => StreamCollapse.partial(b, Seq("k"), payload))
      .reduce((a, b) => StreamCollapse.merge(a, b, Seq("k")))
      .filter(col("_net") > 0)
      .select(col("k"), col("_cand.state"))
      .as[(Long, String)].collect().toMap

  test("any batch split folds to the batch collapse (commutative monoids)") {
    val want = Collapsing.collapseFinal(changelog, Seq("k"), payload)
      .as[(Long, String)].collect().toMap
    assert(want == Map(1L -> "c", 3L -> "q"))
    // version-tercile split, hash split, and a single batch all agree
    val byVersion = Seq(
      changelog.filter(col(VersionCol) <= 2),
      changelog.filter(col(VersionCol) > 2))
    val byHash = (0 to 2).map(i =>
      changelog.filter(pmod(hash(col(SeqCol)), lit(3)) === i))
    assert(foldBy(byVersion) == want)
    assert(foldBy(byHash) == want)
    assert(foldBy(Seq(changelog)) == want)
  }

  test("real micro-batch replay: cross-batch cancel, O(live keys) store") {
    val srcDir = Files.createTempDirectory("graft_scls_src").toString
    val storeDir = Files.createTempDirectory("graft_scls_store").toString
    val ckp = Files.createTempDirectory("graft_scls_ckp").toString
    val stage = graft.queries.StreamGate.stageReplayFile(srcDir) _
    val base = 1600000000000L
    // cancels carry the PREVIOUS state's version, so a version split puts
    // k=1's later updates and their cancels in b1 while its v1 state and
    // the v1 cancel land in b0; k=3's reinsert (v6, b2) arrives two
    // batches after its delete's cancel (v1, b0) — a genuine cross-batch
    // lifecycle. k=4 (delete with no prior state) emits NO changelog rows.
    stage(changelog.filter(col(VersionCol) <= 1), "b0.parquet", base)
    stage(changelog.filter(col(VersionCol) > 1 && col(VersionCol) <= 3),
      "b1.parquet", base + 600000L)
    stage(changelog.filter(col(VersionCol) > 3), "b2.parquet", base + 1200000L)
    val st = spark.readStream.schema(spark.read.parquet(srcDir).schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val got = StreamCollapse.run(st, Seq("k"), payload, storeDir, ckp)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "c", 3L -> "q"))
    // one snapshot per micro-batch; the final one holds one row per key
    // that ever emitted state (k=1,2,3 — k=2 retained at net 0), never
    // the 10-row changelog history
    val vs = new java.io.File(storeDir).listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName.drop(1).toLong)
    assert(vs.toSet == Set(0L, 1L, 2L))
    assert(changelog.count() == 10L)
    assert(spark.read.parquet(s"$storeDir/v${vs.max}").count() == 3L)
  }

  test("batch replay after a crash is idempotent (fold reads below batchId)") {
    def drain(replayLast: Boolean): Map[Long, String] = {
      val store = Files.createTempDirectory("graft_sclr_store").toString
      val batches = Seq(
        changelog.filter(col(VersionCol) <= 1),
        changelog.filter(col(VersionCol) > 1 && col(VersionCol) <= 3),
        changelog.filter(col(VersionCol) > 3))
      batches.zipWithIndex.foreach { case (b, i) =>
        StreamCollapse.foldBatch(b, Seq("k"), payload, store, i.toLong)
      }
      // crash between snapshot write and checkpoint commit → the source
      // redelivers the last batch under the SAME batch id
      if (replayLast)
        StreamCollapse.foldBatch(batches.last, Seq("k"), payload, store, 2L)
      StreamCollapse.finalRows(spark, store, Seq("k"), payload)
        .as[(Long, String)].collect().toMap
    }
    assert(drain(replayLast = true) == drain(replayLast = false))
    assert(drain(replayLast = true) == Map(1L -> "c", 3L -> "q"))
  }
}
