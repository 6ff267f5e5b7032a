package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Vortex emission — schema matches the batch
  * [[graft.operators.TimeSeries.vortexOhlc]] output. */
case class VortexRow(ticker: String, window_timestamp: Timestamp,
    vi_plus: Option[Double], vi_minus: Option[Double],
    vi_diff: Option[Double])

/** One per-bar (VM⁺, VM⁻, TR) term kept in Vortex state (`has =
  * false` = the first-bar NULL tier, still occupying a lag slot). */
case class VortexTerm(has: Boolean, vmp: Double, vmm: Double, tr: Double)

/** The Vortex carry: the last [[graft.operators.TimeSeries.VortexSpan]]
  * (VM±, TR) terms (NEWEST FIRST) and the previous bar. */
case class VortexCarry(terms: List[VortexTerm], prev: AdxPrevBar)

/** Streaming Vortex indicator: per ticker a [[VortexCarry]] — the
  * [[AdxState]] level-1 recipe with cross-bar extremum distances
  * instead of directional moves, and no second chain tier.
  *
  * Bit-parity argument (spec-asserted): VM⁺ = |H − prev L| and
  * VM⁻ = |L − prev H| are single exact double ops; chains accumulate
  * in the batch textual order with literal 0.0 for missing/NULL-tier
  * lags; zero ΣTR → None for all three ratios via the same guard. */
object VortexState {

  /** (ΣVM⁺, ΣVM⁻, ΣTR) over `xs` (NEWEST FIRST) in the batch chain's
    * textual term order. */
  private[streaming] def chainFold(xs: List[VortexTerm],
      span: Int): (Double, Double, Double) = {
    val arr = xs.toArray
    var sp = 0.0; var sm = 0.0; var st = 0.0
    var i = 0
    while (i < span) {
      if (i < arr.length && arr(i).has) {
        sp += arr(i).vmp; sm += arr(i).vmm; st += arr(i).tr
      } else {
        sp += 0.0; sm += 0.0; st += 0.0
      }
      i += 1
    }
    (sp, sm, st)
  }

  private[streaming] def fold(key: String, start: Option[VortexCarry],
      rows: Iterator[OhlcRow]): (Option[VortexCarry], Iterator[VortexRow]) = {
    import graft.operators.TimeSeries.VortexSpan
    var c = start
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val term = c match {
        case None => VortexTerm(has = false, 0.0, 0.0, 0.0)
        case Some(VortexCarry(_, p)) => VortexTerm(has = true,
          math.abs(r.high - p.low),
          math.abs(r.low - p.high),
          math.max(math.max(r.high - r.low, math.abs(r.high - p.close)),
            math.abs(r.low - p.close)))
      }
      val ts = (term :: c.fold(List.empty[VortexTerm])(_.terms)).take(VortexSpan)
      c = Some(VortexCarry(ts, AdxPrevBar(r.high, r.low, r.close)))
      val (sp, sm, st) = chainFold(ts, VortexSpan)
      if (st == 0.0) VortexRow(key, r.window_timestamp, None, None, None)
      else VortexRow(key, r.window_timestamp,
        Some(round6(sp / st)), Some(round6(sm / st)),
        Some(round6(sp / st - sm / st)))
    }
    (c, out.iterator)
  }

  /** Attach streaming Vortex (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[VortexRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
