package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One 5-minute OHLC bar on the stream (the
  * [[graft.operators.StockPipeline.ohlc5m]] columns the ATR kernel
  * reads). */
case class OhlcRow(ticker: String, window_timestamp: Timestamp,
    high: Double, low: Double, close: Double)

/** Per-bar ATR emission — schema matches the batch
  * [[graft.operators.TimeSeries.atrOhlc]] output. */
case class AtrRow(ticker: String, window_timestamp: Timestamp,
    tr: Double, atr_14: Double)

/** The ATR carry: the last [[graft.operators.TimeSeries.AtrSpan]] true
  * ranges (NEWEST FIRST) and the previous close. */
case class AtrCarry(trs: List[Double], prevClose: Double)

/** Streaming ATR: per ticker an [[AtrCarry]] — CONSTANT state per key
  * regardless of stream length — and each arriving bar emits the same
  * trailing-mean ATR as the batch lag-chain kernel. Second proof
  * (after [[MacdState]]) that the generated-lag-chain indicator family
  * is mechanically twinnable: any kernel whose batch form is a bounded
  * lag-chain fold maps to a bounded keyed fold.
  *
  * Bit-parity argument (spec-asserted): the true range uses the same
  * double ops as the batch `greatest` (max of exact subtractions);
  * [[AtrState.trailingMean]] accumulates terms in the batch
  * `reduce(_ + _)` textual order with the same literal 0.0 for
  * missing lags, and the final division divides the double numerator
  * by the long count exactly as the codegen'd `num / den`. */
object AtrState {

  /** Trailing mean over `xs` (NEWEST FIRST): numerator and count
    * accumulated in the batch kernel's textual term order
    * (i = 0 .. span−1); missing lags contribute the same literal 0.0
    * and 0 count. */
  private[streaming] def trailingMean(xs: List[Double], span: Int): Double = {
    val arr = xs.toArray
    var num = 0.0
    var den = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length) {
        num += arr(i)
        den += 1L
      } else {
        num += 0.0
        den += 0L
      }
      i += 1
    }
    num / den
  }

  private[streaming] def fold(key: String, start: Option[AtrCarry],
      rows: Iterator[OhlcRow]): (Option[AtrCarry], Iterator[AtrRow]) = {
    import graft.operators.TimeSeries.AtrSpan
    var c = start
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val tr = c match {
        case None => r.high - r.low
        case Some(p) => math.max(math.max(r.high - r.low,
          math.abs(r.high - p.prevClose)), math.abs(r.low - p.prevClose))
      }
      val ts = (tr :: c.fold(List.empty[Double])(_.trs)).take(AtrSpan)
      c = Some(AtrCarry(ts, r.close))
      AtrRow(key, r.window_timestamp, round6(tr),
        round6(trailingMean(ts, AtrSpan)))
    }
    (c, out.iterator)
  }

  /** Attach streaming ATR (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[AtrRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
