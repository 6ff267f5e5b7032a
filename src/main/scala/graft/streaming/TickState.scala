package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One normalized tick on the stream (the
  * [[graft.operators.StockPipeline.normalize]] columns the tick-rule
  * classifier reads). */
case class TickEventRow(ticker: String, ts: Timestamp, price: Double,
    volume: Long, event_id: Long)

/** Per-event classification — schema matches the batch
  * [[graft.operators.TimeSeries.tickSides]] intermediate. */
case class TickSideRow(ticker: String, ts: Timestamp, event_id: Long,
    volume: Long, side: Option[Int])

/** The tick-rule carry: the previous price and the last resolved
  * side (`None` while the leading run is unclassified). */
case class TickCarry(prevPrice: Double, side: Option[Int])

/** Streaming tick-rule trade classification: per ticker ONE
  * [[TickCarry]] — O(1) state per key, the leanest twin state yet —
  * and each arriving event is classified exactly as the batch
  * `last(tick, ignoreNulls)` carry does: uptick → +1, downtick → −1,
  * zero tick inherits, the leading run stays None. This is the
  * canonical ingest-side enrichment: the classification column lands
  * on the stream BEFORE bar aggregation, so the OFI bars are one
  * windowed aggregate downstream.
  *
  * Exact-parity argument (spec-asserted): classification is pure
  * integer decisions on exact double comparisons — no float
  * accumulation anywhere — so stream and batch agree identically;
  * within a trigger, rows sort by the same (ts, event_id) total
  * order the batch window states. */
object TickState {

  private[streaming] def fold(key: String, start: Option[TickCarry],
      rows: Iterator[TickEventRow]): (Option[TickCarry], Iterator[TickSideRow]) = {
    var c = start
    val out = rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id)).map { r =>
      val tick: Option[Int] = c.flatMap { p =>
        if (r.price > p.prevPrice) Some(1)
        else if (r.price < p.prevPrice) Some(-1)
        else None
      }
      val side = tick.orElse(c.flatMap(_.side))
      c = Some(TickCarry(r.price, side))
      TickSideRow(key, r.ts, r.event_id, r.volume, side)
    }
    (c, out.iterator)
  }

  /** Attach streaming tick classification (stream or batch input). */
  def attach(events: Dataset[TickEventRow]): Dataset[TickSideRow] = {
    import events.sparkSession.implicits._
    KeyedFold(events, (e: TickEventRow) => e.ticker)(fold)
  }
}
