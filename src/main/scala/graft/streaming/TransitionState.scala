package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One event entering streaming transition counting. */
case class TransEvent(user_id: Long, ts: Timestamp, event_id: Long,
    event_type: String)

/** Last-seen event per user — constant size per key. */
case class TransCarry(lastUs: Long, lastId: Long, lastType: String)

/** One observed (from → to) step on a user's timeline. */
case class TransStep(user_id: Long, from_type: String, to_type: String)

/** Streaming twin of the batch Markov-transition LEAD window
  * ([[graft.operators.Relational.eventTransitions]]): keyed state holds
  * each user's last event, every arriving event emits one step from the
  * carry — including across trigger boundaries, which is the part a
  * per-batch window cannot see. Downstream, a streaming aggregation of
  * the emitted steps IS the transition matrix; parity with the batch
  * LEAD form is spec-asserted on real data.
  *
  * Scale: state is two scalars + a string per user; output volume
  * equals input volume minus one row per user. Same late-data contract
  * as every twin here: in-watermark-order feeds reproduce the batch
  * result exactly. */
object TransitionState {

  private[streaming] def fold(userId: Long, start: Option[TransCarry],
      rows: Iterator[TransEvent]): (Option[TransCarry], Iterator[TransStep]) = {
    var carry = start
    val out = Seq.newBuilder[TransStep]
    rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).foreach { e =>
      carry.foreach { c =>
        out += TransStep(e.user_id, c.lastType, e.event_type)
      }
      carry = Some(TransCarry(usOf(e.ts), e.event_id, e.event_type))
    }
    (carry, out.result().iterator)
  }

  /** Attach transition-step extraction to a watermarked event stream. */
  def steps(events: Dataset[TransEvent],
      delay: String = "0 seconds"): Dataset[TransStep] = {
    import events.sparkSession.implicits._
    KeyedFold(events.withWatermark("ts", delay),
      (e: TransEvent) => e.user_id)(fold)
  }
}
