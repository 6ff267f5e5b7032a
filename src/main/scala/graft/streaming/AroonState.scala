package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Aroon emission — schema matches the batch
  * [[graft.operators.TimeSeries.aroonOhlc]] output. */
case class AroonRow(ticker: String, window_timestamp: Timestamp,
    bars_since_hh: Int, bars_since_ll: Int,
    aroon_up: Double, aroon_dn: Double, aroon_osc: Double)

/** Streaming Aroon: per ticker the carry is the last
  * [[graft.operators.TimeSeries.AroonSpan]] (high, low) bar extremes,
  * most recent first (the [[DonchianState]] carry — CONSTANT per key),
  * and each arriving bar emits the same bar-age-of-extreme indicator as
  * the batch ascending-lag CASE chain.
  *
  * Bit-parity argument (spec-asserted): the batch age probe is "the
  * SMALLEST lag i whose stored high equals the frame max" (most
  * recent attainment wins ties) — here the carry is most-recent-first,
  * so `indexWhere` on the identical stored doubles picks the same bar;
  * max/min over a bounded exact-double set is order-insensitive; the
  * up/dn/osc algebra divides by the constant span−1 exactly as the
  * batch kernel (osc subtracts the UNROUNDED up−dn before its own
  * round, matching the batch expression). */
object AroonState {

  private[streaming] def fold(key: String, start: Option[List[HlPair]],
      rows: Iterator[OhlcRow]): (Option[List[HlPair]], Iterator[AroonRow]) = {
    import graft.operators.TimeSeries.AroonSpan
    var hs = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      hs = (HlPair(r.high, r.low) :: hs).take(AroonSpan)
      val hh = hs.iterator.map(_.high).max
      val ll = hs.iterator.map(_.low).min
      val ageHH = hs.indexWhere(_.high == hh)
      val ageLL = hs.indexWhere(_.low == ll)
      val den = (AroonSpan - 1).toDouble
      val up = 100.0 * (den - ageHH) / den
      val dn = 100.0 * (den - ageLL) / den
      AroonRow(key, r.window_timestamp, ageHH, ageLL,
        round6(up), round6(dn), round6(up - dn))
    }
    (Some(hs), out.iterator)
  }

  /** Attach streaming Aroon (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[AroonRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
