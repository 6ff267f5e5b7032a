package graft.streaming

import java.math.{BigDecimal => JBD}
import java.sql.Timestamp

import org.apache.spark.sql.Dataset

/** One 5-minute close bar on the stream (the
  * [[graft.operators.TimeSeries]] `closeBars5m` grain the CUSUM kernel
  * reads). */
case class CusumBar(ticker: String, bucket: Timestamp, close: Double)

/** Per-trigger CUSUM report emission — schema matches the batch
  * `cusumBars` output row. The newest (highest `n_rets`) emission per
  * ticker supersedes older ones — the [[ResRow]] supersede
  * convention, because a change-point REPORT over a growing series is
  * a summary, not a per-row indicator. */
case class CusumRow(ticker: String, n_rets: Long, break_bucket: Timestamp,
    cusum_max: Double, cusum_stat: Option[Double])

/** The CUSUM carry: the return series so far, NEWEST FIRST, as
  * (bucket ms, r) pairs, and the previous close. */
case class CusumCarry(series: List[(Long, Double)], prevClose: Double)

/** Streaming CUSUM change-point screen — the twin of the batch
  * `cusumBars` kernel (`operators/TimeSeries.scala`), bit-identical
  * across any trigger split (spec-asserted).
  *
  * Unlike the bounded-lag indicator twins ([[MacdState]],
  * [[AtrState]], [[StochState]]), CUSUM is inherently TWO-PASS: every
  * excursion term is (rᵢ − μ) under the FINAL mean μ, and the batch
  * kernel rounds each term double→DECIMAL(38,18) individually — so S_t
  * cannot be folded online as P_t − t·μ (the per-term rounding depends
  * on μ). The carry therefore holds the per-ticker RETURN SERIES itself
  * (one (bucket, r) pair per 5-minute bar — bar-grain, never
  * event-grain), and each trigger REPLAYS the batch kernel over it:
  *   - r = close/prev − 1 (double, prev ≠ 0 guard) at ingest — the
  *     `simpleRets` expression;
  *   - μ and σ from exact DECIMAL(38,18) power sums of the identical
  *     doubles (Σ dec18(r), Σ dec18(r·r)), divided as doubles in the
  *     batch textual order;
  *   - S_t = running exact-decimal sum of dec18(r_t − μ), max|S| by
  *     decimal compare, break bucket = FIRST attaining bucket (exact
  *     decimal equality — the batch tie rule);
  *   - the two output stats in the batch rounding order (cast→round6,
  *     NULL on σ = 0).
  * Production sizing: a per-ticker day holds 288 bars, so state is KB
  * per key; an unbounded-horizon deployment would window the screen
  * (per-session/day CUSUM) or age the list — the replay cost per
  * trigger is O(bars so far), which is exactly the batch kernel's own
  * cost over the same prefix. */
object CusumState {

  /** The batch `cusumBars` kernel replayed over one ticker's return
    * series (bucket-ascending), term-for-term in the batch textual
    * order. */
  private[streaming] def report(ticker: String,
      rets: Seq[(Long, Double)]): CusumRow = {
    val n = rets.length
    val nd = n.toDouble
    var s1 = JBD.ZERO
    var s2 = JBD.ZERO
    rets.foreach { case (_, r) =>
      s1 = s1.add(dec18(r)); s2 = s2.add(dec18(r * r))
    }
    // mean = s1 / nd (decimal→double crossing, then double division)
    val mu = s1.doubleValue / nd
    val sd = math.sqrt(math.max(s2.doubleValue / nd - mu * mu, 0.0))
    // S_t = exact-decimal running sum of dec18(r − μ); max|S| with the
    // FIRST-bucket tie rule (exact decimal equality, as the batch)
    var s = JBD.ZERO
    var sMax = JBD.ZERO.subtract(JBD.ONE) // any |S| ≥ 0 beats it
    var breakBucket = 0L
    rets.foreach { case (bucket, r) =>
      s = s.add(dec18(r - mu))
      val sAbs = s.abs
      if (sAbs.compareTo(sMax) > 0) { sMax = sAbs; breakBucket = bucket }
    }
    val sm = sMax.doubleValue
    val stat =
      if (sd > 0.0) Some(round6(sm / (sd * math.sqrt(nd)))) else None
    CusumRow(ticker, n.toLong, new Timestamp(breakBucket), round6(sm), stat)
  }

  private[streaming] def fold(key: String, start: Option[CusumCarry],
      rows: Iterator[CusumBar]): (Option[CusumCarry], Iterator[CusumRow]) = {
    var ser = start.fold(List.empty[(Long, Double)])(_.series)
    var pc = start.map(_.prevClose)
    rows.toSeq.sortBy(_.bucket.getTime).foreach { b =>
      pc match {
        // simpleRets: when(prev =!= 0.0, close/prev − 1), NULLs dropped
        case Some(p) if p != 0.0 =>
          ser = (b.bucket.getTime, b.close / p - 1.0) :: ser
        case _ => ()
      }
      pc = Some(b.close)
    }
    (pc.map(CusumCarry(ser, _)),
      if (ser.isEmpty) Iterator.empty
      else Iterator.single(report(key, ser.reverse)))
  }

  /** Attach the streaming CUSUM screen (stream or batch input). */
  def attach(bars: Dataset[CusumBar]): Dataset[CusumRow] = {
    import bars.sparkSession.implicits._
    KeyedFold(bars, (b: CusumBar) => b.ticker)(fold)
  }
}
