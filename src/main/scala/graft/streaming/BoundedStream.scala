package graft.streaming

import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** The one "run this stream to completion" decision. Every bounded drain
  * in the engine — staged replays, catch-ups, the streaming operators'
  * `run` methods — is a checkpointed `Trigger.AvailableNow` query that
  * the caller blocks on until it has consumed everything available at
  * start. Queries started elsewhere ([[CdcPipeline.start]], whose default
  * trigger is `AvailableNow`, and [[CdcPipeline.replicate]] under
  * `graft.Main`) are awaited through [[await]]; a continuous trigger
  * makes that wait last until a query fails or is stopped. */
object BoundedStream {

  /** Start `w` with its offset/commit log at `checkpointDir` and block
    * until every input available at start is processed. A failed
    * micro-batch rethrows as `StreamingQueryException`. */
  def drain(w: DataStreamWriter[_], checkpointDir: String): Unit =
    await(w.option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start())

  /** Block until every query in `queries` terminates. The wait polls all
    * of them, so a failure surfaces as soon as it happens, not once the
    * queries ahead of it end (a continuous one never does); the others
    * are then stopped before its `StreamingQueryException` rethrows. */
  def await(queries: StreamingQuery*): Unit =
    try while (!queries.map(_.awaitTermination(100L)).forall(identity)) ()
    catch { case e: Throwable => queries.foreach(_.stop()); throw e }
}
