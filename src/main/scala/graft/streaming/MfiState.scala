package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One 5-minute OHLC+volume bar on the stream (the
  * [[graft.operators.StockPipeline.ohlc5m]] columns the MFI kernel
  * reads). */
case class MfiBarRow(ticker: String, window_timestamp: Timestamp,
    high: Double, low: Double, close: Double, volume: Long)

/** Per-bar MFI emission — schema matches the batch
  * [[graft.operators.TimeSeries.mfiOhlc]] output. */
case class MfiRow(ticker: String, window_timestamp: Timestamp,
    n_scored: Long, mfi_14: Option[Double])

/** One per-bar money-flow term kept in MFI state: the signed flows
  * are already classified (positive / negative / neither on the tp
  * direction), `scored` marks bars with a prior bar. */
case class MfiTerm(mfp: Double, mfm: Double, scored: Long)

/** The MFI carry: the last [[graft.operators.TimeSeries.MfiSpan]]
  * classified flow terms (NEWEST FIRST) and the previous typical
  * price. */
case class MfiCarry(terms: List[MfiTerm], prevTp: Double)

/** Streaming Money Flow Index: per ticker an [[MfiCarry]] — CONSTANT
  * state per key — and each arriving bar emits the same
  * volume-weighted flow ratio as the batch lag-chain kernel
  * ([[RsiState]]'s recipe with the gain/loss classification replaced
  * by tp-direction flow splitting and an integral scored counter).
  *
  * Bit-parity argument (spec-asserted): tp = (H+L+C)/3 is the same
  * double expression; flows accumulate in the batch `reduce(_ + _)`
  * textual order with literal 0.0 for missing lags (a first bar's
  * zero flows are IN-band zeros on both sides — batch `otherwise
  * (0.0)`); zero total flow → None via the same divisor guard. */
object MfiState {

  /** (ΣMF⁺, ΣMF⁻, Σscored) over `xs` (NEWEST FIRST) in the batch
    * chain's textual term order; missing lags contribute the same
    * literal zeros. */
  private[streaming] def flowFold(xs: List[MfiTerm],
      span: Int): (Double, Double, Long) = {
    val arr = xs.toArray
    var sp = 0.0; var sm = 0.0; var sn = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length) {
        sp += arr(i).mfp; sm += arr(i).mfm; sn += arr(i).scored
      } else {
        sp += 0.0; sm += 0.0
      }
      i += 1
    }
    (sp, sm, sn)
  }

  private[streaming] def fold(key: String, start: Option[MfiCarry],
      rows: Iterator[MfiBarRow]): (Option[MfiCarry], Iterator[MfiRow]) = {
    import graft.operators.TimeSeries.MfiSpan
    var c = start
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val tp = (r.high + r.low + r.close) / 3.0
      val term = c match {
        case None => MfiTerm(0.0, 0.0, 0L)
        case Some(p) => MfiTerm(
          if (tp > p.prevTp) tp * r.volume else 0.0,
          if (tp < p.prevTp) tp * r.volume else 0.0,
          1L)
      }
      val ts = (term :: c.fold(List.empty[MfiTerm])(_.terms)).take(MfiSpan)
      c = Some(MfiCarry(ts, tp))
      val (sp, sm, sn) = flowFold(ts, MfiSpan)
      MfiRow(key, r.window_timestamp, sn,
        if (sp + sm == 0.0) None else Some(round6(100.0 * sp / (sp + sm))))
    }
    (c, out.iterator)
  }

  /** Attach streaming MFI (stream or batch input). */
  def attach(bars: Dataset[MfiBarRow]): Dataset[MfiRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: MfiBarRow) => r.ticker)(fold)
  }
}
