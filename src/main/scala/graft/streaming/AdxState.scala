package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar ADX emission — schema matches the batch
  * [[graft.operators.TimeSeries.adxOhlc]] output. */
case class AdxRow(ticker: String, window_timestamp: Timestamp,
    plus_di: Option[Double], minus_di: Option[Double],
    dx: Option[Double], adx_14: Option[Double])

/** One per-bar (±DM, TR) term kept in ADX state. `has = false` marks
  * the batch kernel's first-bar NULL tier (no previous bar), which
  * still OCCUPIES a lag position in the chains. */
case class AdxTerm(has: Boolean, dmp: Double, dmm: Double, tr: Double)

/** One per-bar DX term kept in ADX state (`has = false` = NULL DX —
  * a zero ΣTR or zero DI-sum bar — which still occupies a lag slot). */
case class DxTerm(has: Boolean, dx: Double)

/** The previous bar's extremes for the DM/TR deltas. */
case class AdxPrevBar(high: Double, low: Double, close: Double)

/** The ADX carry: the last [[graft.operators.TimeSeries.AdxSpan]]
  * (±DM, TR) terms and DX values (both NEWEST FIRST), and the previous
  * bar. */
case class AdxCarry(terms: List[AdxTerm], dxs: List[DxTerm],
    prev: AdxPrevBar)

/** Streaming ADX: per ticker an [[AdxCarry]] — CONSTANT state per key
  * — and each arriving bar emits the same two-level Wilder system as
  * the batch kernel: the deepest twin yet (a chain OVER a chain's
  * output), proving the mechanical recipe composes.
  *
  * Bit-parity argument (spec-asserted): every sum accumulates in the
  * batch `reduce(_ + _)` textual order (i = 0 .. span−1) with literal
  * 0.0 for missing lags AND for in-range NULL-tier terms (the batch
  * `when(x.isNotNull, x).otherwise(0.0)` treats both identically);
  * the ratio tiers reproduce the batch association order
  * `(100.0 · s) / st` and its NULL guards (zero ΣTR → None DI, zero
  * DI sum → None DX, no DX yet → None ADX). */
object AdxState {

  /** (ΣDM⁺, ΣDM⁻, ΣTR) over `xs` (NEWEST FIRST) in the batch chain's
    * textual term order; missing lags and NULL-tier terms contribute
    * the same literal 0.0. */
  private[streaming] def chainFold(xs: List[AdxTerm],
      span: Int): (Double, Double, Double) = {
    val arr = xs.toArray
    var sp = 0.0; var sm = 0.0; var st = 0.0
    var i = 0
    while (i < span) {
      if (i < arr.length && arr(i).has) {
        sp += arr(i).dmp; sm += arr(i).dmm; st += arr(i).tr
      } else {
        sp += 0.0; sm += 0.0; st += 0.0
      }
      i += 1
    }
    (sp, sm, st)
  }

  /** (ΣDX, count of present DX) over `xs` (NEWEST FIRST), batch term
    * order. */
  private[streaming] def dxFold(xs: List[DxTerm],
      span: Int): (Double, Long) = {
    val arr = xs.toArray
    var s = 0.0; var n = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length && arr(i).has) { s += arr(i).dx; n += 1L }
      else s += 0.0
      i += 1
    }
    (s, n)
  }

  private[streaming] def fold(key: String, start: Option[AdxCarry],
      rows: Iterator[OhlcRow]): (Option[AdxCarry], Iterator[AdxRow]) = {
    import graft.operators.TimeSeries.AdxSpan
    var c = start
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val term = c match {
        case None => AdxTerm(has = false, 0.0, 0.0, 0.0)
        case Some(AdxCarry(_, _, p)) =>
          val up = r.high - p.high
          val dn = p.low - r.low
          AdxTerm(has = true,
            if (up > dn && up > 0.0) up else 0.0,
            if (dn > up && dn > 0.0) dn else 0.0,
            math.max(math.max(r.high - r.low, math.abs(r.high - p.close)),
              math.abs(r.low - p.close)))
      }
      val ts = (term :: c.fold(List.empty[AdxTerm])(_.terms)).take(AdxSpan)
      val (sp, sm, st) = chainFold(ts, AdxSpan)
      val di: Option[(Double, Double)] =
        if (st == 0.0) None else Some((100.0 * sp / st, 100.0 * sm / st))
      val dx: Option[Double] = di.flatMap { case (pdi, mdi) =>
        if (pdi + mdi == 0.0) None
        else Some(100.0 * math.abs(pdi - mdi) / (pdi + mdi))
      }
      val ds = (DxTerm(dx.isDefined, dx.getOrElse(0.0)) ::
        c.fold(List.empty[DxTerm])(_.dxs)).take(AdxSpan)
      c = Some(AdxCarry(ts, ds, AdxPrevBar(r.high, r.low, r.close)))
      val (sdx, ndx) = dxFold(ds, AdxSpan)
      AdxRow(key, r.window_timestamp,
        di.map(d => round6(d._1)), di.map(d => round6(d._2)),
        dx.map(round6),
        if (ndx > 0L) Some(round6(sdx / ndx)) else None)
    }
    (c, out.iterator)
  }

  /** Attach streaming ADX (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[AdxRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
