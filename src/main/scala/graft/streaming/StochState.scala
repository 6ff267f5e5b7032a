package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar stochastic-oscillator emission — schema matches the batch
  * [[graft.operators.TimeSeries.stochasticOhlc]] output (both
  * oscillator columns are nullable: %K on a flat extrema window, %D
  * when every %K in its smoothing window is NULL — e.g. a ticker flat
  * for [[graft.operators.TimeSeries.StochSmooth]]+ consecutive
  * bars). */
case class StochRow(ticker: String, window_timestamp: Timestamp,
    pct_k: Option[Double], pct_d: Option[Double])

/** The stochastic carry, all lists NEWEST FIRST: the last
  * [[graft.operators.TimeSeries.StochSpan]] highs and lows and the last
  * [[graft.operators.TimeSeries.StochSmooth]] raw %K values (NaN =
  * NULL %K). */
case class StochCarry(highs: List[Double], lows: List[Double],
    kraws: List[Double])

/** Streaming stochastic oscillator: per ticker a [[StochCarry]] —
  * CONSTANT state per key — and each arriving bar emits the same
  * trailing-extrema %K and lag-chain-smoothed %D as the batch kernel.
  * Third proof (after [[MacdState]] and [[AtrState]]) that the
  * generated-lag-chain indicator family is mechanically twinnable;
  * this one adds the NULLABLE-kernel case (a flat extrema window
  * yields NULL %K, which contributes zero weight to %D — encoded as
  * NaN in state, exactly the batch when-guard semantics).
  *
  * Bit-parity argument (spec-asserted): the window extrema are exact
  * comparisons (order-independent); %K is stated in the batch
  * expression order `100.0 * (close − ll) / (hh − ll)`;
  * [[StochState.smoothFold]] accumulates the %D numerator/count in
  * the batch `reduce(_ + _)` textual order with the same literal 0.0
  * / 0L for missing or NULL lags. */
object StochState {

  /** %D numerator/count over the raw %K list (NEWEST FIRST, NaN =
    * NULL): accumulated in the batch kernel's textual term order
    * (i = 0 .. span−1); missing and NULL lags contribute the same
    * literal 0.0 / 0L. */
  private[streaming] def smoothFold(xs: List[Double],
      span: Int): (Double, Long) = {
    val arr = xs.toArray
    var num = 0.0
    var den = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length && !arr(i).isNaN) {
        num += arr(i)
        den += 1L
      } else {
        num += 0.0
        den += 0L
      }
      i += 1
    }
    (num, den)
  }

  private[streaming] def fold(key: String, start: Option[StochCarry],
      rows: Iterator[OhlcRow]): (Option[StochCarry], Iterator[StochRow]) = {
    import graft.operators.TimeSeries.{StochSmooth, StochSpan}
    var c = start.getOrElse(StochCarry(Nil, Nil, Nil))
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val hs = (r.high :: c.highs).take(StochSpan)
      val ls = (r.low :: c.lows).take(StochSpan)
      val hh = hs.max
      val ll = ls.min
      val kRaw =
        if (hh != ll) 100.0 * (r.close - ll) / (hh - ll) else Double.NaN
      val ks = (kRaw :: c.kraws).take(StochSmooth)
      c = StochCarry(hs, ls, ks)
      val (num, den) = smoothFold(ks, StochSmooth)
      StochRow(key, r.window_timestamp,
        if (kRaw.isNaN) None else Some(round6(kRaw)),
        if (den > 0) Some(round6(num / den)) else None)
    }
    (Some(c), out.iterator)
  }

  /** Attach streaming stochastic (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[StochRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
