package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One sparse close bar entering streaming gap-fill. */
case class BarEvent(ticker: String, bucket: Timestamp, close: Double)

/** Per-ticker carry state: the last emitted bucket and its close —
  * constant size per key, so operator memory is O(#symbols) regardless
  * of throughput or history length. */
case class GapCarry(lastUs: Long, lastClose: Double)

/** Dense gap-filled output row — the exact column set of the batch
  * [[graft.operators.TimeSeries.gapfillBars]] twin. */
case class GapfillRow(ticker: String, bucket: Timestamp,
    filled_close: Double, gap_filled: Boolean)

/** Streaming gap-fill as explicit keyed state — the keyed-fold twin of
  * the batch dense-spine + forward-fill query. Each arriving bar emits
  * the gap buckets between the carry and itself (flagged, carrying the
  * previous close forward) followed by the real bar; the carry then
  * advances. The emitted row set is EXACTLY the batch spine: the batch
  * version materializes per-ticker [min, max] and back-fills, the
  * streaming version grows the same spine incrementally as the max
  * advances — no timeout machinery needed, because the spine's right
  * edge IS the newest bar, so there is nothing left to flush at idle.
  *
  * Late discipline: a bar at or behind the carry is dropped — its
  * bucket has already been emitted (possibly as a gap). That is the
  * append-only contract; the batch twin would have used the late bar,
  * so parity holds exactly for in-watermark-order feeds (the same
  * contract as every other streaming twin here).
  *
  * Scale: state is hash-partitioned by symbol; per-key state is two
  * scalars; each trigger's output is bounded by elapsed wall-time
  * buckets per symbol, not by event volume. */
object GapfillState {

  /** 5-minute buckets, shared with the batch twin. */
  val stepUs: Long = 5L * 60L * 1000000L

  /** The carry fold: sorted bars → surviving carry + emitted rows. */
  private[streaming] def fold(ticker: String, start: Option[GapCarry],
      rows: Iterator[BarEvent]): (Option[GapCarry], Iterator[GapfillRow]) = {
    var carry = start
    val out = Seq.newBuilder[GapfillRow]
    rows.toSeq.sortBy(b => usOf(b.bucket)).foreach { b =>
      val t = usOf(b.bucket)
      carry match {
        case Some(c) if t <= c.lastUs => // late/duplicate: already emitted
        case Some(c) =>
          var g = c.lastUs + stepUs
          while (g < t) {
            out += GapfillRow(b.ticker, tsOf(g), c.lastClose,
              gap_filled = true)
            g += stepUs
          }
          out += GapfillRow(b.ticker, tsOf(t), b.close, gap_filled = false)
          carry = Some(GapCarry(t, b.close))
        case None =>
          out += GapfillRow(b.ticker, tsOf(t), b.close, gap_filled = false)
          carry = Some(GapCarry(t, b.close))
      }
    }
    (carry, out.result().iterator)
  }

  /** Attach gap-fill to a watermarked stream of sparse bars. */
  def gapfill(bars: Dataset[BarEvent],
      delay: String = "0 seconds"): Dataset[GapfillRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars.withWatermark("bucket", delay), (b: BarEvent) => b.ticker)(fold)
  }
}
