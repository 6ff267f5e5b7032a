package graft.streaming

import java.math.{BigDecimal => JBD}

import org.apache.spark.sql.Dataset

/** Per-trigger Corwin–Schultz report — schema matches the batch
  * `corwinSchultzOhlc` output row; the newest (highest `n_pairs`)
  * emission per ticker supersedes older ones (the [[CusumRow]]
  * convention). */
case class CsRow(ticker: String, n_pairs: Long, avg_spread_raw: Double,
    avg_spread: Double)

/** The Corwin–Schultz carry: the previous bar's high/low, the pair
  * count, and the two exact DECIMAL(38,18) spread sums as plain
  * strings. */
case class CsCarry(prevHigh: Double, prevLow: Double, nPairs: Long,
    sumRaw: String, sumFloored: String)

/** Streaming Corwin–Schultz spread estimator — the twin of the batch
  * `corwinSchultzOhlc` kernel (`operators/TimeSeries.scala`),
  * bit-identical across any trigger split (spec-asserted).
  *
  * Unlike [[CusumState]] (inherently two-pass, series-sized state),
  * the CS estimator is a clean ONE-PASS fold: each bar pairs only with
  * its predecessor, and the per-ticker report is two decimal sums plus
  * a count — so the [[CsCarry]] is CONSTANT (previous bar's high/low +
  * two exact DECIMAL(38,18) accumulators of 1e-12-grid spread terms +
  * the pair count) at any stream length. Every per-pair double op runs
  * in the batch kernel's textual order; the accumulators are the same
  * shortest-repr decimal grid as the batch `dsum18(round(s, 12))`, so
  * stream and batch reports agree bit-for-bit. */
object CorwinSchultzState {

  private val K = 3.0 - 2.0 * math.sqrt(2.0)

  /** One bar pair's spread estimate — term-for-term the batch kernel's
    * textual order (hl1² + hl2², two-bar gamma, closed-form alpha,
    * logistic spread). */
  private[streaming] def pairSpread(ph: Double, pl: Double,
      high: Double, low: Double): Double = {
    val hl1 = math.log(ph / pl)
    val hl2 = math.log(high / low)
    val gl = math.log(math.max(ph, high) / math.min(pl, low))
    val beta = hl1 * hl1 + hl2 * hl2
    val gamma = gl * gl
    val alpha = (math.sqrt(2.0 * beta) - math.sqrt(beta)) / K -
      math.sqrt(gamma / K)
    2.0 * (math.exp(alpha) - 1) / (1.0 + math.exp(alpha))
  }

  private[streaming] def round12(x: Double): Double =
    BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble

  private[streaming] def fold(key: String, start: Option[CsCarry],
      rows: Iterator[OhlcRow]): (Option[CsCarry], Iterator[CsRow]) = {
    val c0 = start.getOrElse(CsCarry(Double.NaN, Double.NaN, 0L, "0", "0"))
    var (ph, pl, n) = (c0.prevHigh, c0.prevLow, c0.nPairs)
    var raw = new JBD(c0.sumRaw)
    var fl = new JBD(c0.sumFloored)
    rows.toSeq.sortBy(_.window_timestamp.getTime).foreach { b =>
      if (!ph.isNaN && pl > 0.0 && b.low > 0.0) {
        val s = pairSpread(ph, pl, b.high, b.low)
        n += 1
        raw = raw.add(dec18(round12(s)))
        fl = fl.add(dec18(round12(math.max(s, 0.0))))
      }
      ph = b.high; pl = b.low
    }
    (Some(CsCarry(ph, pl, n, raw.toPlainString, fl.toPlainString)),
      if (n == 0) Iterator.empty
      else Iterator.single(CsRow(key, n, round6(raw.doubleValue / n),
        round6(fl.doubleValue / n))))
  }

  /** Attach the streaming CS estimator (stream or batch input; the
    * `close` field of [[OhlcRow]] is unused). */
  def attach(bars: Dataset[OhlcRow]): Dataset[CsRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: OhlcRow) => r.ticker)(fold)
  }
}
