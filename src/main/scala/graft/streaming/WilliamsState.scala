package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Williams %R emission — schema matches the batch
  * [[graft.operators.TimeSeries.williamsROhlc]] output. */
case class WilliamsRow(ticker: String, window_timestamp: Timestamp,
    close: Double, hh: Double, ll: Double, williams_r: Option[Double])

/** Streaming Williams %R: per ticker the carry is the last
  * [[graft.operators.TimeSeries.WillSpan]] (high, low) pairs (the
  * [[DonchianState]] recipe — frame extremes are order-insensitive
  * max/min, no textual fold needed) and each arriving bar emits the
  * same −100·(HH−close)/(HH−LL) gauge as the batch frame-window kernel,
  * including the flat-window NULL tier (HH = LL). The ratio uses the
  * UNROUNDED extremes exactly as the batch expression does; only the
  * emitted hh/ll columns round. */
object WilliamsState {

  private[streaming] def fold(key: String, start: Option[List[HlPair]],
      rows: Iterator[OhlcRow]): (Option[List[HlPair]], Iterator[WilliamsRow]) = {
    import graft.operators.TimeSeries.WillSpan
    var hs = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      hs = (HlPair(r.high, r.low) :: hs).take(WillSpan)
      val hh = hs.iterator.map(_.high).max
      val ll = hs.iterator.map(_.low).min
      val wr =
        if (hh == ll) None
        else Some(round6(-100.0 * (hh - r.close) / (hh - ll)))
      WilliamsRow(key, r.window_timestamp, r.close, round6(hh), round6(ll), wr)
    }
    (Some(hs), out.iterator)
  }

  /** Attach streaming Williams %R (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[WilliamsRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
