package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered-funnel tracking — the continuous twin of
  * [[graft.operators.Sessionize.funnel]]. Per user, a (stage, last-ts)
  * state machine advances on each step event that is STRICTLY later than
  * the previous stage's hit, and each newly reached stage is emitted
  * exactly once, as it happens (append mode).
  *
  * Greedy in-ts-order advancement computes the same earliest-chain the
  * batch funnel does, PROVIDED events arrive in event-time order across
  * micro-batches (within a batch they are sorted here). A cross-batch
  * straggler older than the already-advanced stage is ignored — the
  * standard streaming tradeoff; the batch operator over the stored events
  * is the reconciliation path, same as the reference's batch downsampler
  * reconciles its streaming ingest.
  *
  * State is one (stage, ts) pair per user — fixed-width, and evicted by
  * event-time timeout once the watermark passes last activity + TTL, so
  * state size tracks ACTIVE users, not all users ever seen (the 100 TB
  * contract). */
object FunnelStream {

  case class FEvent(user_id: Long, ts: Long, event_type: String,
                    et: java.sql.Timestamp)
  case class StageHit(user_id: Long, stage: Int, step: String, ts: Long)

  def track(events: DataFrame, steps: Seq[String], lateness: String = "10 minutes",
            idleTtlMs: Long = 24L * 3600 * 1000): Dataset[StageHit] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    val timed = events
      .select(col("user_id"), col("ts"), col("event_type"),
        timestamp_millis(col("ts")).as("et"))
      .withWatermark("et", lateness).as[FEvent]
    timed.groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long, Long), StageHit](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        // state = (stage reached, ts of that stage's hit, max event ts
        // EVER seen) — the third field keeps the eviction deadline
        // monotone: computing it from only the current batch would let a
        // straggler-only batch move the deadline BACKWARDS, evicting
        // active state early and re-emitting stages after re-entry
        (uid: Long, rows: Iterator[FEvent], state: GroupState[(Int, Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (stage, lastMs, seenMax) =
              state.getOption.getOrElse((0, Long.MinValue, Long.MinValue))
            val hits = Vector.newBuilder[StageHit]
            rows.toSeq.sortBy(e => (e.ts, e.event_type)).foreach { e =>
              seenMax = math.max(seenMax, e.ts)
              if (stage < steps.length && e.event_type == steps(stage) &&
                  (stage == 0 || e.ts > lastMs)) {
                stage += 1; lastMs = e.ts
                hits += StageHit(uid, stage, e.event_type, e.ts)
              }
            }
            state.update((stage, lastMs, seenMax))
            state.setTimeoutTimestamp(math.max(
              seenMax + idleTtlMs, state.getCurrentWatermarkMs() + 1))
            hits.result().iterator
          }
      }
  }
}
