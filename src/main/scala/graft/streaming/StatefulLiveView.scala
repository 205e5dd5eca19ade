package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Write-path materialized live view — the stateful-streaming alternative
  * to the read-path dedup ([[graft.operators.LiveView]]): keep the
  * winning row per primary key in `GroupState` and emit the current
  * survivor for every key touched by a micro-batch (update-mode
  * semantics, i.e. an incrementally-maintained ReplacingMergeTree merge).
  *
  * Trade-off vs dedup-on-read (documented in SURVEY §2.7): the read path
  * re-windows per query but needs no state store; this path pays one
  * state-store lookup per change row and makes reads free. At scale the
  * state is hash-partitioned by key across executors (the same shuffle
  * as the read-path window) and checkpointed incrementally. Live keys
  * are retained indefinitely (they ARE the view); tombstoned keys are
  * garbage-collected after `tombstoneRetention` (processing-time
  * timeout), so state is O(live keys + recent tombstones) — without GC a
  * high-churn stream would grow state with every key ever seen. A change
  * for a key older than its tombstone's retention can resurrect it —
  * the standard CDC retention trade-off (ClickHouse's merge-GC has the
  * same window); size retention to the source's maximum replay lag.
  * Late/duplicate rows (at-least-once replay) lose to the stored winner
  * and simply re-emit it, so downstream sinks converge.
  *
  * Winner rule = max (version, seq) — identical to
  * `LiveView.live`; on an exact tie the stored state
  * wins, making replays idempotent. Key columns must be non-null;
  * `versionCol`/`seqCol` must be LongType and `deletedCol` IntegerType
  * (the engine's CDC stamp schema, SchemaModel).
  */
object StatefulLiveView {

  /** Apply to a streaming (or batch) frame of stamped change rows.
    * Output = same schema; tombstones are emitted too (deletedCol = 1)
    * so a sink can apply deletions — filter them for a CH-FINAL-style
    * read. Use with `writeStream.outputMode("update")`.
    * `tombstoneRetention` (e.g. `"7 days"`): how long a deleted key's
    * state is kept before GC; `None` keeps everything forever.
    * CAVEAT: retention uses ProcessingTimeTimeout, which makes the
    * operator request a batch every trigger interval to fire expirations —
    * so drain-style runs (`Trigger.AvailableNow`/`Once`,
    * `processAllAvailable`) never see "caught up" and will not terminate.
    * Use retention only with a continuous processing-time trigger;
    * pass `None` for catch-up jobs. */
  def materializedLive(changes: DataFrame, pks: Seq[String],
                       versionCol: String, seqCol: String,
                       deletedCol: String,
                       tombstoneRetention: Option[String] = None): DataFrame = {
    val schema = changes.schema
    val vIdx = schema.fieldIndex(versionCol)
    val sIdx = schema.fieldIndex(seqCol)
    val dIdx = schema.fieldIndex(deletedCol)
    val kIdx = pks.map(schema.fieldIndex)
    implicit val rowEnc = Encoders.row(schema)

    def beats(a: Row, b: Row): Boolean = {
      val (av, as_) = (a.getLong(vIdx), a.getLong(sIdx))
      val (bv, bs) = (b.getLong(vIdx), b.getLong(sIdx))
      av > bv || (av == bv && as_ > bs)
    }

    val timeoutConf = tombstoneRetention match {
      case Some(_) => GroupStateTimeout.ProcessingTimeTimeout
      case None    => GroupStateTimeout.NoTimeout
    }

    changes
      .groupByKey(r => kIdx.map(i => String.valueOf(r.get(i)))
        .mkString("\u0000"))(Encoders.STRING)
      .flatMapGroupsWithState[Row, Row](OutputMode.Update, timeoutConf) {
        (_: String, rows: Iterator[Row], state: GroupState[Row]) =>
          if (state.hasTimedOut) { // tombstone GC (retention elapsed)
            state.remove()
            Iterator.empty
          } else {
            // stored winner first: on exact (version, seq) ties the state
            // wins → at-least-once replays are idempotent
            val winner = rows.foldLeft(state.getOption.orNull) { (best, r) =>
              if (best == null || beats(r, best)) r else best
            }
            state.update(winner)
            // each invocation cancels a previously-set timeout, so a key
            // resurrected by a live row sheds its pending GC; tombstoned
            // keys re-arm it
            if (winner.getInt(dIdx) == 1)
              tombstoneRetention.foreach(state.setTimeoutDuration)
            Iterator.single(winner)
          }
      }
  }
}
