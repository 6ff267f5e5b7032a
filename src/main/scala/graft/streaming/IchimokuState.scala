package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** Per-bar Ichimoku emission — schema matches the batch
  * [[graft.operators.TimeSeries.ichimokuBars]] output for the rows
  * whose chikou exists (see [[IchimokuState]] on emission timing). */
case class IchiRow(ticker: String, bucket: Timestamp, tenkan: Double,
    kijun: Double, senkou_a: Option[Double], senkou_b: Option[Double],
    chikou: Double)

/** One bar's midline snapshot, pending its forward-looking chikou. */
case class IchiPending(bucket: Timestamp, close: Double,
    tenkan0: Double, kijun0: Double, senkouB0: Double)

/** Streaming Ichimoku: per ticker the carry is the last
  * 2·[[graft.operators.TimeSeries.IchiKijun]]+1 midline snapshots,
  * NEWEST FIRST (which embeds the close history the midlines need) —
  * CONSTANT state per key.
  *
  * Ichimoku is the one indicator in the roster with a FORWARD
  * reference: a bar's chikou is the close 26 bars AHEAD, so its row is
  * not knowable at arrival. The twin therefore emits bar t−26's
  * COMPLETE row when bar t arrives (the watermark-delayed-emission
  * pattern: every emitted row is final, append-mode clean); the last
  * ≤26 bars of a stream stay pending — exactly the batch rows whose
  * `lead(close, 26)` is NULL. The parity spec asserts the emitted set
  * is bit-identical to the batch rows with a non-null chikou and that
  * the pending count matches the batch NULL-chikou count.
  *
  * Bit-parity argument: midlines are (max+min)/2 over the identical
  * stored closes with the batch kernel's partial-window warm-up (min/
  * max over what exists); senkou A/B are the midlines computed 26 bars
  * back — read from the snapshot queue, not recomputed, so they carry
  * the exact doubles the batch `lag` reads; rounding is the shared
  * HALF_UP `round6` twin. */
object IchimokuState {

  private[streaming] def fold(key: String, start: Option[List[IchiPending]],
      rows: Iterator[BarRow]): (Option[List[IchiPending]], Iterator[IchiRow]) = {
    import graft.operators.TimeSeries.{IchiKijun, IchiSenkouB, IchiTenkan}
    var ps = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.bucket.getTime).flatMap { r =>
      val closes = (r.close :: ps.map(_.close)).take(IchiSenkouB)
      def mid(n: Int) = {
        val w = closes.take(n)
        (w.max + w.min) / 2.0
      }
      ps = (IchiPending(r.bucket, r.close, mid(IchiTenkan), mid(IchiKijun),
        mid(IchiSenkouB)) :: ps).take(2 * IchiKijun + 1)
      if (ps.length > IchiKijun) {
        val e = ps(IchiKijun) // bar t−26: its chikou is THIS bar's close
        val back = // bar t−52: the senkou source e's lag-26 reads
          if (ps.length > 2 * IchiKijun) Some(ps(2 * IchiKijun)) else None
        Some(IchiRow(key, e.bucket, round6(e.tenkan0), round6(e.kijun0),
          back.map(b => round6((b.tenkan0 + b.kijun0) / 2.0)),
          back.map(b => round6(b.senkouB0)),
          r.close))
      } else None
    }
    (Some(ps), out.iterator)
  }

  /** Attach streaming Ichimoku (stream or batch input). */
  def attach(bars: Dataset[BarRow]): Dataset[IchiRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: BarRow) => r.ticker)(fold)
  }
}
