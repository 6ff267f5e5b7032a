package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Keltner emission — schema matches the batch
  * [[graft.operators.TimeSeries.keltnerOhlc]] output. */
case class KeltnerRow(ticker: String, window_timestamp: Timestamp,
    close: Double, kc_mid: Double, kc_up: Option[Double],
    kc_dn: Option[Double])

/** One Keltner TR term (`has = false` = the first-bar NULL TR, which
  * still occupies a lag slot in the ATR chain). */
case class KeltTr(has: Boolean, tr: Double)

/** The Keltner carry: the last [[graft.operators.TimeSeries.KeltSpan]]
  * closes and the last [[graft.operators.TimeSeries.KeltAtrSpan]] true
  * ranges (both NEWEST FIRST), and the previous close. */
case class KeltCarry(closes: List[Double], trs: List[KeltTr],
    prevClose: Double)

/** Streaming Keltner channel: per ticker a [[KeltCarry]] — the first
  * WEIGHTED-chain twin: the fold multiplies each lag by the same
  * `(1−α)^i` literal the batch codegen bakes in, in the same textual
  * order.
  *
  * Bit-parity argument (spec-asserted): `math.pow(decay, i)` here and
  * in the batch kernel is the same JVM call at class-init time, so
  * the weights are the identical doubles; numerator/denominator and
  * ATR sum/count fold in batch term order; a zero ATR count (the
  * first bar) → None bands via the same guard. */
object KeltnerState {

  private val alpha =
    2.0 / (graft.operators.TimeSeries.KeltSpan + 1)
  private val decay = 1.0 - alpha
  /** The batch kernel's `(1−α)^i` literals, same JVM pow at init. */
  private val weights: Array[Double] =
    Array.tabulate(graft.operators.TimeSeries.KeltSpan)(
      i => math.pow(decay, i))

  /** (Σ wᵢ·closeᵢ, Σ wᵢ) over `xs` (NEWEST FIRST) in batch term
    * order; missing lags contribute literal 0.0 to both. */
  private[streaming] def emaFold(xs: List[Double],
      span: Int): (Double, Double) = {
    val arr = xs.toArray
    var num = 0.0; var den = 0.0
    var i = 0
    while (i < span) {
      if (i < arr.length) {
        num += arr(i) * weights(i); den += weights(i)
      } else {
        num += 0.0; den += 0.0
      }
      i += 1
    }
    (num, den)
  }

  /** (ΣTR, count) over `xs` (NEWEST FIRST), batch term order. */
  private[streaming] def atrFold(xs: List[KeltTr],
      span: Int): (Double, Long) = {
    val arr = xs.toArray
    var s = 0.0; var n = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length && arr(i).has) { s += arr(i).tr; n += 1L }
      else s += 0.0
      i += 1
    }
    (s, n)
  }

  private[streaming] def fold(key: String, start: Option[KeltCarry],
      rows: Iterator[OhlcRow]): (Option[KeltCarry], Iterator[KeltnerRow]) = {
    import graft.operators.TimeSeries.{KeltSpan, KeltAtrSpan}
    var c = start
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val tr = c match {
        case None => KeltTr(has = false, 0.0)
        case Some(p) => KeltTr(has = true,
          math.max(math.max(r.high - r.low, math.abs(r.high - p.prevClose)),
            math.abs(r.low - p.prevClose)))
      }
      val cs = (r.close :: c.fold(List.empty[Double])(_.closes)).take(KeltSpan)
      val ts = (tr :: c.fold(List.empty[KeltTr])(_.trs)).take(KeltAtrSpan)
      c = Some(KeltCarry(cs, ts, r.close))
      val (num, den) = emaFold(cs, KeltSpan)
      val mid = num / den
      val (asum, acnt) = atrFold(ts, KeltAtrSpan)
      val bands =
        if (acnt == 0L) None
        else {
          val atr = asum / acnt
          Some((round6(mid + 2.0 * atr), round6(mid - 2.0 * atr)))
        }
      KeltnerRow(key, r.window_timestamp, r.close, round6(mid),
        bands.map(_._1), bands.map(_._2))
    }
    (c, out.iterator)
  }

  /** Attach streaming Keltner (stream or batch input). */
  def attach(bars: Dataset[OhlcRow]): Dataset[KeltnerRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
