package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Bollinger emission — schema matches the batch
  * [[graft.operators.TimeSeries.bollingerBars]] output. */
case class BollRow(ticker: String, bucket: Timestamp, close: Double,
    bb_mid: Double, bb_up: Option[Double], bb_dn: Option[Double])

/** Streaming Bollinger(20): per ticker the carry is the last
  * [[graft.operators.TimeSeries.BollSpan]] closes, NEWEST FIRST —
  * CONSTANT state per key regardless of stream length — and each
  * arriving bar emits the same trailing mean ± 2 sample standard
  * deviations as the batch lag-chain kernel. Fourth instance of the
  * mechanical twin recipe ([[MacdState]], [[AtrState]], [[RsiState]]):
  * a bounded batch lag-chain fold maps to a bounded keyed fold.
  *
  * Bit-parity argument (spec-asserted): [[BollingerState.momentFold]]
  * accumulates Σx, Σx², n in the batch `reduce(_ + _)` textual order
  * (i = 0 .. span−1, missing lags the same literal 0.0 / 0), the
  * variance is the batch's exact `(Σx² − Σx·Σx/n) / (n−1)` op
  * sequence with the same `max(·, 0)` FP-cancellation clamp, and the
  * band columns are NULL exactly when the batch `when(n > 1, …)`
  * guard fires (the first bar of a ticker). */
object BollingerState {

  /** (Σx, Σx², n) over `xs` (NEWEST FIRST), accumulated in the batch
    * kernel's textual term order (i = 0 .. span−1); missing lags
    * contribute the same literal 0.0 / 0 count. */
  private[streaming] def momentFold(xs: List[Double],
      span: Int): (Double, Double, Long) = {
    val arr = xs.toArray
    var sx = 0.0
    var sxx = 0.0
    var n = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length) {
        sx += arr(i)
        sxx += arr(i) * arr(i)
        n += 1L
      } else {
        sx += 0.0
        sxx += 0.0
        n += 0L
      }
      i += 1
    }
    (sx, sxx, n)
  }

  private[streaming] def fold(key: String, start: Option[List[Double]],
      rows: Iterator[BarRow]): (Option[List[Double]], Iterator[BollRow]) = {
    import graft.operators.TimeSeries.BollSpan
    var cs = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.bucket.getTime).map { r =>
      cs = (r.close :: cs).take(BollSpan)
      val (sx, sxx, n) = momentFold(cs, BollSpan)
      val mid = sx / n.toDouble
      val bands = if (n > 1) {
        val sd = math.sqrt(math.max(
          (sxx - sx * sx / n.toDouble) / (n - 1).toDouble, 0.0))
        Some((round6(mid + 2.0 * sd), round6(mid - 2.0 * sd)))
      } else None
      BollRow(key, r.bucket, r.close, round6(mid),
        bands.map(_._1), bands.map(_._2))
    }
    (Some(cs), out.iterator)
  }

  /** Attach streaming Bollinger (stream or batch input). */
  def attach(bars: Dataset[BarRow]): Dataset[BollRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: BarRow) => r.ticker)(fold)
  }
}
