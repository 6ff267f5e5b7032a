package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar RSI emission — schema matches the batch
  * [[graft.operators.TimeSeries.rsiBars]] output. */
case class RsiRow(ticker: String, bucket: Timestamp, close: Double,
    rsi_14: Option[Double])

/** The RSI carry: the last [[graft.operators.TimeSeries.RsiSpan]]
  * close diffs (NEWEST FIRST) and the previous close. */
case class RsiCarry(diffs: List[Double], prevClose: Double)

/** Streaming RSI(14): per ticker an [[RsiCarry]] — CONSTANT state per
  * key regardless of stream length — and each arriving bar emits the
  * same average-gain / average-loss ratio as the batch lag-chain
  * kernel. Third instance (after [[MacdState]], [[AtrState]]) of the
  * mechanical twin recipe: a bounded batch lag-chain fold maps to a
  * bounded keyed fold.
  *
  * Bit-parity argument (spec-asserted): [[RsiState.gainLossFold]]
  * accumulates `greatest(d, 0)` / `greatest(-d, 0)` terms in the batch
  * `reduce(_ + _)` textual order (i = 0 .. span−1) with the same
  * literal 0.0 for missing lags; a diff is `close − prev` (exact IEEE
  * subtraction, never −0.0 since x−x = +0.0), and the batch's leading
  * edge — the first bar's NULL diff — contributes exactly what an
  * out-of-range lag does, so omitting it from state is value-identical
  * term by term. Output tiering matches the batch `when` chain: no
  * diffs → NULL, zero loss → 100, else `round(100·ag/(ag+al), 6)`. */
object RsiState {

  /** (Σ gains, Σ losses, n) over `ds` (NEWEST FIRST), accumulated in
    * the batch kernel's textual term order (i = 0 .. span−1); missing
    * lags contribute the same literal 0.0 / 0 count. `math.max`
    * matches the batch `greatest` on the never-NaN, never-−0.0 diffs
    * (x − x is +0.0 under IEEE round-to-nearest). */
  private[streaming] def gainLossFold(ds: List[Double],
      span: Int): (Double, Double, Long) = {
    val arr = ds.toArray
    var gains = 0.0
    var losses = 0.0
    var cnt = 0L
    var i = 0
    while (i < span) {
      if (i < arr.length) {
        gains += math.max(arr(i), 0.0)
        losses += math.max(-arr(i), 0.0)
        cnt += 1L
      } else {
        gains += 0.0
        losses += 0.0
        cnt += 0L
      }
      i += 1
    }
    (gains, losses, cnt)
  }

  private[streaming] def fold(key: String, start: Option[RsiCarry],
      rows: Iterator[BarRow]): (Option[RsiCarry], Iterator[RsiRow]) = {
    import graft.operators.TimeSeries.RsiSpan
    var c = start
    val out = rows.toSeq.sortBy(_.bucket.getTime).map { r =>
      val ds = c.fold(List.empty[Double])(p =>
        ((r.close - p.prevClose) :: p.diffs).take(RsiSpan))
      c = Some(RsiCarry(ds, r.close))
      val (gains, losses, cnt) = gainLossFold(ds, RsiSpan)
      val rsi =
        if (cnt == 0L) None
        else if (losses == 0.0) Some(100.0)
        else Some(round6(100.0 * gains / (gains + losses)))
      RsiRow(key, r.bucket, r.close, rsi)
    }
    (c, out.iterator)
  }

  /** Attach streaming RSI (stream or batch input). */
  def attach(bars: Dataset[BarRow]): Dataset[RsiRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: BarRow) => r.ticker)(fold)
  }
}
