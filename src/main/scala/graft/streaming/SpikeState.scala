package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One aggregated (ticker, minute) row entering spike detection. */
case class VolumeRow(ticker: String, window_timestamp: Timestamp,
    total_volume_1m: Long)

/** Spike-detection output row (streaming twin of
  * [[graft.operators.StockPipeline.withSpike]]). */
case class SpikeRow(ticker: String, window_timestamp: Timestamp,
    total_volume_1m: Long, hist_avg_volume: Double, is_volume_spike: Boolean)

/** ST1, the true keyed-state form: the reference's `DetectVolumeSpike`
  * (`analysis-dataflow-pipeline/pipeline.py:19-41`) keeps the last ≤10
  * one-minute volumes per ticker in bag state; each element is compared
  * against 2× the mean of the history *excluding itself* (strict `>`,
  * empty history never spikes), then appended and the bag truncated to
  * the newest 10. State never expires (no timeout), matching the
  * reference's timer-less DoFn.
  *
  * The batch twin expresses the identical rule as a window frame
  * (`ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING`); `StreamingSpec`
  * asserts row-for-row parity between the two on real data.
  *
  * Scale note: the carry is one `List[Long]` (≤10 longs) per ticker,
  * hash-partitioned by key in the state store — constant-size per key,
  * so the operator's memory is O(#keys), independent of throughput.
  */
object SpikeState {

  /** The spike fold; the carry is the history, oldest..newest. Rows
    * sort into window order within each trigger. */
  private[streaming] def fold(ticker: String, start: Option[List[Long]],
      rows: Iterator[VolumeRow]): (Option[List[Long]], Iterator[SpikeRow]) = {
    var hist = start.getOrElse(Nil)
    val out = rows.toSeq.sortBy(_.window_timestamp.getTime).map { r =>
      val avg = if (hist.isEmpty) 0.0 else hist.sum.toDouble / hist.size
      val spike = r.total_volume_1m > 2.0 * avg && avg > 0.0
      hist = (hist :+ r.total_volume_1m).takeRight(10)
      SpikeRow(ticker, r.window_timestamp, r.total_volume_1m, avg, spike)
    }
    (Some(hist), out.iterator)
  }

  /** Attach spike detection to a stream (or batch Dataset) of aggregated
    * volume rows. */
  def detect(rows: Dataset[VolumeRow]): Dataset[SpikeRow] = {
    import rows.sparkSession.implicits._
    KeyedFold(rows, (r: VolumeRow) => r.ticker)(fold)
  }
}
