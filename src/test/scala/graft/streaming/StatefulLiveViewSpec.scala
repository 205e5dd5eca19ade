package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

// top-level: Spark encoders can't instantiate suite-inner case classes
case class Change(user_id: Long, name: String,
                  _version: Long, _ingest_seq: Long, _deleted: Int)

/** The stateful write-path live view: state survives micro-batches AND
  * query restarts (same checkpoint), late rows lose to the stored winner,
  * tombstones propagate. Two separate AvailableNow runs prove the state
  * store recovers from the checkpoint, not just in-memory continuity.
  */
class StatefulLiveViewSpec extends AnyFunSuite with graft.GateCacheHygiene {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("incremental survivor per key across batches and restarts " +
      "(update mode)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Change]
    val out = StatefulLiveView.materializedLive(
      src.toDF(), pks = Seq("user_id"),
      // None: retention's ProcessingTimeTimeout keeps drain-style runs
      // alive forever (see operator caveat) — AvailableNow needs NoTimeout
      tombstoneRetention = None)
    val ckp = java.nio.file.Files.createTempDirectory("slv_ckp").toString
    val emitted = scala.collection.mutable.ArrayBuffer[Change]()
    def drain(): Unit = {
      val q = out.writeStream.outputMode("update")
        .option("checkpointLocation", ckp)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          emitted.synchronized { emitted ++= b.as[Change].collect() }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    src.addData(
      Change(1L, "alice", 100L, 1L, 0),
      Change(2L, "bob", 100L, 2L, 0))
    drain() // run 1, then the query STOPS (state only in the checkpoint)
    src.addData(
      Change(1L, "alice2", 200L, 3L, 0), // genuine update
      Change(2L, "bob_old", 50L, 0L, 0), // LATE: must lose to stored state
      Change(3L, "carol", 100L, 4L, 1))  // tombstone insert
    drain() // run 2 recovers state from the checkpoint

    // run1: both inserts; run2: u1 update, u2 re-emits stored winner
    // (late row lost — requires state recovered across the restart),
    // u3 tombstone
    assert(emitted.size == 5)
    val lastByKey = emitted.zipWithIndex
      .groupBy(_._1.user_id).view.mapValues(_.maxBy(_._2)._1).toMap
    assert(lastByKey(1L).name == "alice2" && lastByKey(1L)._version == 200L)
    assert(lastByKey(2L).name == "bob" && lastByKey(2L)._version == 100L)
    assert(lastByKey(3L)._deleted == 1)
  }
}
