package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One 5-minute close bar on the stream. */
case class BarRow(ticker: String, bucket: Timestamp, close: Double)

/** Per-bar MACD emission — schema matches the batch
  * [[graft.operators.TimeSeries.macdBars]] output. */
case class MacdRow(ticker: String, bucket: Timestamp, close: Double,
    macd: Double, macd_signal: Double, macd_hist: Double)

/** The MACD carry, both lists NEWEST FIRST: the last
  * [[graft.operators.TimeSeries.MacdSlow]] closes and the last
  * [[graft.operators.TimeSeries.MacdSignal]] raw MACD values. */
case class MacdCarry(closes: List[Double], macds: List[Double])

/** Streaming MACD: per ticker a [[MacdCarry]] — CONSTANT state per key
  * regardless of stream length — and each arriving bar emits the same
  * truncated-EWMA fast/slow/signal values as the batch lag-chain
  * kernels.
  *
  * Bit-parity argument (spec-asserted): [[MacdState.ewmaFold]]
  * accumulates `x·w` products and weights in the SAME left-to-right
  * term order as the batch `reduce(_ + _)` Column chain — identical
  * JVM double operations in identical order — and missing lags
  * contribute the same literal 0.0, so stream and batch agree to the
  * bit, rounding and signed-zero guard included. */
object MacdState {

  /** Truncated-EWMA over `xs` (NEWEST FIRST): num/den accumulated in
    * the batch kernel's textual term order (i = 0 .. span−1), so the
    * float sums are bit-identical to the codegen'd lag-chain. */
  private[streaming] def ewmaFold(xs: List[Double], span: Int): Double = {
    val decay = 1.0 - 2.0 / (span + 1)
    var num = 0.0
    var den = 0.0
    var i = 0
    val arr = xs.toArray
    while (i < span) {
      if (i < arr.length) {
        val w = math.pow(decay, i)
        num += arr(i) * w
        den += w
      } else {
        num += 0.0
        den += 0.0
      }
      i += 1
    }
    num / den
  }

  private[streaming] def fold(key: String, start: Option[MacdCarry],
      rows: Iterator[BarRow]): (Option[MacdCarry], Iterator[MacdRow]) = {
    import graft.operators.TimeSeries.{MacdFast, MacdSignal, MacdSlow}
    var cs = start.fold(List.empty[Double])(_.closes)
    var ms = start.fold(List.empty[Double])(_.macds)
    val out = rows.toSeq.sortBy(_.bucket.getTime).map { r =>
      cs = (r.close :: cs).take(MacdSlow)
      val raw = ewmaFold(cs, MacdFast) - ewmaFold(cs, MacdSlow)
      ms = (raw :: ms).take(MacdSignal)
      val sig = ewmaFold(ms, MacdSignal)
      MacdRow(key, r.bucket, r.close,
        z(round6(raw)), z(round6(sig)), z(round6(raw - sig)))
    }
    (Some(MacdCarry(cs, ms)), out.iterator)
  }

  /** Attach streaming MACD (stream or batch input). */
  def attach(bars: Dataset[BarRow]): Dataset[MacdRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: BarRow) => r.ticker)(fold)
  }
}
