package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Donchian emission — schema matches the batch
  * [[graft.operators.TimeSeries.donchianOhlc]] output. */
case class DonchianRow(ticker: String, window_timestamp: Timestamp,
    close: Double, dc_up: Double, dc_dn: Double, dc_mid: Double)

/** One (high, low) bar extreme pair kept in Donchian state. */
case class HlPair(high: Double, low: Double)

/** Streaming Donchian channel: per ticker the carry is the last
  * [[graft.operators.TimeSeries.DonchianSpan]] (high, low) pairs, most
  * recent first — CONSTANT state per key — and each arriving bar emits
  * the same trailing highest-high / lowest-low channel as the batch
  * `greatest`/`least` lag-chain kernel.
  *
  * Bit-parity argument (spec-asserted): max/min over a bounded set of
  * exact stored doubles is ORDER-INSENSITIVE (prices are never NaN —
  * the normalize gate drops them), so no textual-order fold is needed;
  * the midpoint divides the raw (unrounded) extremes by 2.0 exactly as
  * the batch `(dcu + dcd) / 2.0`; the leading edge needs no special
  * case — lag 0 is the current bar on both sides, so the extreme set
  * is never empty. */
object DonchianState {

  private[streaming] def fold(key: String, start: Option[List[HlPair]],
      rows: Iterator[OhlcRow]): (Option[List[HlPair]], Iterator[DonchianRow]) = {
    import graft.operators.TimeSeries.DonchianSpan
    var hs = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      hs = (HlPair(r.high, r.low) :: hs).take(DonchianSpan)
      val up = hs.iterator.map(_.high).max
      val dn = hs.iterator.map(_.low).min
      DonchianRow(key, r.window_timestamp, r.close,
        round6(up), round6(dn), round6((up + dn) / 2.0))
    }
    (Some(hs), out.iterator)
  }

  /** Attach streaming Donchian (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[DonchianRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
