package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar CCI emission — schema matches the batch
  * [[graft.operators.TimeSeries.cciOhlc]] output. */
case class CciRow(ticker: String, window_timestamp: Timestamp,
    tp: Double, tp_sma: Double, mean_dev: Double,
    cci_20: Option[Double])

/** Streaming CCI: per ticker the carry is the last
  * [[graft.operators.TimeSeries.CciSpan]] typical prices, NEWEST FIRST
  * — both batch chain tiers (the sma chain AND the mean-deviation
  * chain against the CURRENT sma) read the same lag(tp, i) values, so
  * one list feeds both folds.
  *
  * Bit-parity argument (spec-asserted): tp = (H+L+C)/3 is the same
  * double expression; both folds accumulate in the batch textual
  * order with literal 0.0 for missing lags; the deviation fold
  * subtracts the fold-computed sma exactly as the batch level-2
  * chain references the level-1 column; zero mean deviation → None
  * via the same ≠0 guard. */
object CciState {

  private[streaming] def fold(key: String, start: Option[List[Double]],
      rows: Iterator[OhlcRow]): (Option[List[Double]], Iterator[CciRow]) = {
    import graft.operators.TimeSeries.CciSpan
    var ts = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val tp = (r.high + r.low + r.close) / 3.0
      ts = (tp :: ts).take(CciSpan)
      val arr = ts.toArray
      // level 1: the sma chain (sum and count in batch term order)
      var s = 0.0; var n = 0L
      var i = 0
      while (i < CciSpan) {
        if (i < arr.length) { s += arr(i); n += 1L } else s += 0.0
        i += 1
      }
      val sma = s / n
      // level 2: mean absolute deviation from the CURRENT sma
      var d = 0.0
      i = 0
      while (i < CciSpan) {
        if (i < arr.length) d += math.abs(arr(i) - sma) else d += 0.0
        i += 1
      }
      val md = d / n
      CciRow(key, r.window_timestamp, round6(tp), round6(sma), round6(md),
        if (md == 0.0) None else Some(round6((tp - sma) / (0.015 * md))))
    }
    (Some(ts), out.iterator)
  }

  /** Attach streaming CCI (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[CciRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
