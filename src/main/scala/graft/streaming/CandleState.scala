package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One OHLC bar entering streaming pattern detection. */
case class OhlcBar(ticker: String, window_timestamp: Timestamp,
    open: Double, high: Double, low: Double, close: Double)

/** Previous bar's body per ticker — constant size per key. */
case class PrevBar(lastUs: Long, open: Double, close: Double)

/** Pattern-flagged output row — the exact column set of the batch
  * [[graft.operators.TimeSeries.candlePatternsOn]] twin. */
case class PatternRow(ticker: String, window_timestamp: Timestamp,
    open: Double, high: Double, low: Double, close: Double,
    is_doji: Boolean, is_bullish_engulfing: Boolean,
    is_bearish_engulfing: Boolean)

/** Streaming twin of the batch candlestick-pattern lag window: keyed
  * state holds each ticker's previous bar body, every arriving bar is
  * flagged against it — across trigger boundaries, which the per-batch
  * window cannot see. Same append-only late-data contract as the other
  * twins; the flag predicates are the identical double comparisons the
  * batch operator states. */
object CandleState {

  private[streaming] def fold(ticker: String, start: Option[PrevBar],
      rows: Iterator[OhlcBar]): (Option[PrevBar], Iterator[PatternRow]) = {
    var carry = start
    val out = Seq.newBuilder[PatternRow]
    rows.toSeq.sortBy(b => usOf(b.window_timestamp)).foreach { b =>
      val t = usOf(b.window_timestamp)
      if (!carry.exists(_.lastUs >= t)) { // late/duplicate bars drop
        val doji =
          if (b.high == b.low) true
          else math.abs(b.close - b.open) <= 0.1 * (b.high - b.low)
        val bull = carry.exists(p => p.close < p.open &&
          b.close > b.open && b.open <= p.close && b.close >= p.open)
        val bear = carry.exists(p => p.close > p.open &&
          b.close < b.open && b.open >= p.close && b.close <= p.open)
        out += PatternRow(b.ticker, b.window_timestamp, b.open, b.high,
          b.low, b.close, doji, bull, bear)
        carry = Some(PrevBar(t, b.open, b.close))
      }
    }
    (carry, out.result().iterator)
  }

  /** Attach pattern flagging to a watermarked stream of OHLC bars. */
  def patterns(bars: Dataset[OhlcBar],
      delay: String = "0 seconds"): Dataset[PatternRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars.withWatermark("window_timestamp", delay),
      (b: OhlcBar) => b.ticker)(fold)
  }
}
