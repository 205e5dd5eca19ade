package graft.queries

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.BoundedStream

/** The stream-gate scaffold: the overlap pool's failure contract and the
  * state pin as the checkpoint records it. */
class StreamGateSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark

  test("overlap waits for every job before a failure propagates") {
    val slowDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      StreamGate.overlap(
        () => throw new IllegalStateException("fast failure"),
        () => { Thread.sleep(500); slowDone.set(true) })
    }
    assert(err.getMessage == "fast failure")
    assert(slowDone.get, "overlap returned while a sibling job still ran")
    assert((System.nanoTime() - t0) / 1000000L >= 500L)
    // results come back in job order when nothing fails
    assert(StreamGate.overlap(() => { Thread.sleep(100); 1 }, () => 2) ==
      Seq(1, 2))
  }

  /** Stage a 3-wave replay and drain a keyed aggregation over it on
    * `s`, inside the pin when `pin` is set; returns the checkpoint. */
  private def drainReplay(s: SparkSession, pin: Option[Boolean],
      name: String): String = {
    val Seq(src, ckp) = StreamGate.dirs(s"graft_pinspec_$name", "src", "ckp")
    val rows = s.range(0, 300).select(col("id"), (col("id") % 7).as("k"))
    StreamGate.stage(src, StreamGate.idThirdWaves(rows, "id"))
    def drain() = BoundedStream.drain(StreamGate.replay(s, src)
      .groupBy(col("k")).count()
      .writeStream.outputMode("complete").format("memory")
      .queryName(s"graft_pinspec_$name"), ckp)
    pin match {
      case Some(rocksDb) => StreamGate.pinned(s, rocksDb)(drain())
      case None => drain()
    }
    ckp
  }

  private def firstOffsetConf(ckp: String, key: String): Option[String] = {
    val log = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ckp, "offsets", "0")), "UTF-8")
    ("\"" + java.util.regex.Pattern.quote(key) + "\":\"([^\"]+)\"").r
      .findFirstMatchIn(log).map(_.group(1))
  }

  private def committedBatches(ckp: String): Int =
    new java.io.File(ckp, "commits").listFiles()
      .count(_.getName.forall(_.isDigit))

  test("the state pin reaches only the checkpoints started inside it") {
    // a child session whose default differs from the pin's 4
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "7")
    val partitions = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocksDb =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val outside = drainReplay(s, None, "outside")
    val inside = drainReplay(s, Some(false), "inside")
    val onRocks = drainReplay(s, Some(true), "rocks")
    assert(firstOffsetConf(outside, partitions).contains("7"))
    assert(firstOffsetConf(inside, partitions).contains("4"))
    assert(firstOffsetConf(onRocks, partitions).contains("4"))
    assert(firstOffsetConf(onRocks, provider).contains(rocksDb))
    assert(!firstOffsetConf(inside, provider).contains(rocksDb))
    // the scope restored the session conf
    assert(s.conf.get(partitions) == "7")
    assert(!s.conf.getOption(provider).contains(rocksDb))
    // one micro-batch per staged wave, in every scope
    Seq(outside, inside, onRocks).foreach(c =>
      assert(committedBatches(c) == 3, c))
    // same answer whatever the state layout
    assert(s.table("graft_pinspec_outside").orderBy("k").collect().toSeq ==
      s.table("graft_pinspec_rocks").orderBy("k").collect().toSeq)
  }
}
