package graft.streaming

import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The one "run this stream to completion" decision. Every bounded drain
  * in the engine — staged replays, catch-ups, the streaming operators'
  * `run` methods — is a checkpointed `Trigger.AvailableNow` query that
  * the caller blocks on until it has consumed everything available at
  * start. Continuous streams ([[CdcPipeline.start]], `graft.Main`) pick
  * their own trigger and do not come through here. */
object BoundedStream {

  /** Start `w` with its offset/commit log at `checkpointDir` and block
    * until every input available at start is processed. A failed
    * micro-batch rethrows as `StreamingQueryException`. */
  def drain(w: DataStreamWriter[_], checkpointDir: String): Unit =
    w.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
}
