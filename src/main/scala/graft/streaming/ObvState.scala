package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One 5-minute (close, volume) bar on the stream — the
  * [[graft.operators.TimeSeries.closeVolBars5m]] columns. */
case class ObvBarRow(ticker: String, bucket: Timestamp, close: Double,
    volume: Long)

/** Per-bar OBV emission — schema matches the batch
  * [[graft.operators.TimeSeries.obvBars]] output. */
case class ObvRow(ticker: String, bucket: Timestamp, close: Double,
    volume: Long, obv: Long)

/** The OBV carry: the previous close and the running OBV. */
case class ObvCarry(prevClose: Double, obv: Long)

/** Streaming on-balance volume: per ticker an [[ObvCarry]] — O(1)
  * state per key — and each arriving bar emits the same cumulative
  * signed-volume flow as the batch running-window kernel. Fifth twin
  * instance, and the first CUMULATIVE one: where the lag-chain twins
  * fold a bounded suffix, a running total is pure per-key state.
  *
  * Exact-parity argument (spec-asserted): OBV is ALL-INTEGER (long
  * volume added/subtracted/skipped on the sign of an exact double
  * comparison `close vs previous close`), so stream and batch agree
  * identically with no float-order considerations at all; the first
  * bar's NULL diff contributes flow 0 in both (batch: `when` chain
  * falls through; stream: no previous close). */
object ObvState {

  private[streaming] def fold(key: String, start: Option[ObvCarry],
      rows: Iterator[ObvBarRow]): (Option[ObvCarry], Iterator[ObvRow]) = {
    var c = start
    val out = rows.toSeq.sortBy(_.bucket.getTime).map { r =>
      val flow = c match {
        case Some(p) if r.close > p.prevClose => r.volume
        case Some(p) if r.close < p.prevClose => -r.volume
        case _ => 0L
      }
      val total = c.fold(0L)(_.obv) + flow
      c = Some(ObvCarry(r.close, total))
      ObvRow(key, r.bucket, r.close, r.volume, total)
    }
    (c, out.iterator)
  }

  /** Attach streaming OBV (stream or batch input). */
  def attach(bars: Dataset[ObvBarRow]): Dataset[ObvRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (r: ObvBarRow) => r.ticker)(fold)
  }
}
