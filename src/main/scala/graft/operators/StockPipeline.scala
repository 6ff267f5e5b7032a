package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Materialize.PinOps

/** The reference's streaming stock-analysis DAG
  * (`/root/reference/analysis-dataflow-pipeline/pipeline.py`) re-expressed
  * as pure batch/streaming-shared DataFrame transforms. Each stage is a
  * `DataFrame => DataFrame` so the identical operator chain runs in batch
  * (DuckDB-verifiable) and under `readStream` (graft.streaming).
  *
  * Domain mapping (FIXTURES.md §3): the engine's generic `events` table
  * plays the role of the reference's per-ticker stock feed —
  * `event_type ⇔ ticker`, `ts ⇔ event time`, `value ⇔ price`, and a
  * volume parsed from the JSON `props` payload (the reference's P1 JSON
  * decode, `pipeline.py:78`).
  *
  * Scale notes (100 TB): every stage below is a single hash-aggregate or
  * hash-join shuffle keyed on (ticker, minute) — high cardinality, evenly
  * distributed, so it parallelizes to any executor count. No stage
  * collects to the driver; the only broadcast is one scalar row
  * (watermark "now"). Partial aggregation (map-side combine) applies to
  * every aggregate because all of them are DeclarativeAggregates.
  */
object StockPipeline {

  /** P1/P2/P5/P6 + U1: decode, event-time, NaN-filter, casts, enrichment.
    *
    * JSON decode of the volume payload mirrors `pipeline.py:78`; the NaN
    * filter mirrors `main.py:90-91`; the casts mirror `main.py:94-95`.
    *
    * U1 (LLM enrichment, `main.py:104-149`) is a deterministic stub: the
    * engine is zero-egress, so sentiment is a pure arithmetic function of
    * the event id into [-1, 1] and the summary is a templated string —
    * the seam where a real deployment would batch HTTP calls via
    * `mapPartitions`. Kept SQL-expressible so the oracle reproduces it.
    */
  /** U1 enrichment as pure functions of (event_id, ticker) — shared by
    * the per-event path and the post-aggregation argmax derivation. */
  def sentimentOf(eventId: Column): Column = (eventId % 21 - 10) / 10.0
  def summaryOf(ticker: Column, eventId: Column): Column =
    concat(ticker, lit(" momentum "), (eventId % 21 - 10).cast("string"))

  def normalize(events: DataFrame): DataFrame =
    events
      .select(
        col("event_id"),
        col("event_type").as("ticker"),
        col("ts"),
        col("value").cast("double").as("price"),
        // try_cast: a non-numeric props.k is dropped by the IS NOT NULL
        // filter below — same semantics as the oracle's TRY_CAST (plain
        // cast would THROW under Spark 4's ANSI default instead)
        expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("volume"),
        sentimentOf(col("event_id")).as("ai_sentiment"),
        summaryOf(col("event_type"), col("event_id")).as("ai_summary"))
      .filter(col("price").isNotNull && !isnan(col("price")) &&
        col("volume").isNotNull)

  /** A1 (W1): 1-minute tumbling windowed aggregation, `pipeline.py:87-97`.
    *
    * The reference buffers every event in the window and scans it 4× for
    * the argmaxes (`GroupByKey` + Python lambda); here each output is an
    * incremental DeclarativeAggregate (`max_by` = single-pass argmax), so
    * there is no whole-window materialization — partial aggregation
    * happens before the shuffle.
    *
    * All aggregation buffers are kept fixed-width (doubles/longs — the
    * AI passthroughs aggregate `max_by(event_id, ts)` and derive the
    * string post-agg) so Catalyst plans HashAggregateExec; a string in
    * the buffer would silently demote the whole operator to
    * SortAggregate, i.e. a full sort of the raw stream.
    */
  def agg1m(stock: DataFrame): DataFrame =
    stock
      .groupBy(window(col("ts"), "1 minute"), col("ticker"))
      .agg(
        max_by(col("price"), col("ts")).as("latest_price"),        // pipeline.py:90
        max(col("price")).as("high_price_1m"),                     // pipeline.py:91
        sum(col("volume")).as("total_volume_1m"),                  // pipeline.py:92
        round(sum(col("price") * col("volume")), 4).as("total_value_1m"), // pipeline.py:93
        max_by(col("event_id"), col("ts")).as("latest_event_id"))  // pipeline.py:95-96 argmax
      .select(col("ticker"), col("window.end").as("window_timestamp"),
        col("latest_price"), col("high_price_1m"), col("total_volume_1m"),
        col("total_value_1m"),
        sentimentOf(col("latest_event_id")).as("ai_sentiment"),
        summaryOf(col("ticker"), col("latest_event_id")).as("ai_summary"))

  /** OHLCV candlestick resample — the canonical market-data downsample
    * the reference's minute bars feed in any real charting stack: 1-min
    * events → 5-minute tumbling OHLCV bars. Open/close are the
    * event-time arg-extremes via the same single-pass `min_by`/`max_by`
    * DeclarativeAggregates as [[agg1m]]'s latest_price (fixed-width
    * buffers → HashAggregate, partial agg before the shuffle — no
    * whole-window buffering). Window end labels the bar, matching the
    * reference's window_timestamp convention. */
  def ohlc5m(stock: DataFrame): DataFrame =
    stock
      .groupBy(window(col("ts"), "5 minutes"), col("ticker"))
      .agg(
        min_by(col("price"), col("ts")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("ts")).as("close"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_events"))
      .select(col("ticker"), col("window.end").as("window_timestamp"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_events"))

  /** Maximum drawdown per ticker over the minute close series — the
    * risk metric every market dashboard carries: drawdown(t) =
    * (running-peak − close) / running-peak, reported as each ticker's
    * worst value, its first trough minute (min timestamp among the
    * rows attaining the max — a stated tie rule, not arg_max luck) and
    * the count of underwater minutes. The running peak is a ROWS
    * window over the minute aggregate (O(minutes) rows per ticker,
    * not raw events); the max-row join-back is the [[Relational
    * .topSupplier]] scalar-max pattern on rounded values, so the
    * equality probe is engine-stable. */
  def drawdown(stock: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker")).orderBy(col("window_timestamp"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val dd = agg1m(stock)
      .select(col("ticker"), col("window_timestamp"), col("latest_price"))
      .withColumn("run_peak", max(col("latest_price")).over(w))
      .withColumn("dd",
        round((col("run_peak") - col("latest_price")) / col("run_peak"), 6))
      .pin() // read twice: the per-ticker max and the probe
    val mdd = dd.groupBy(col("ticker"))
      .agg(max(col("dd")).as("max_drawdown"),
        sum((col("dd") > 0).cast("long")).as("n_underwater"))
    dd.join(broadcast(mdd), Seq("ticker"))
      .filter(col("dd") === col("max_drawdown"))
      .groupBy(col("ticker"), col("max_drawdown"), col("n_underwater"))
      .agg(min(col("window_timestamp")).as("trough_at"))
      .select(col("ticker"), col("max_drawdown"), col("n_underwater"),
        col("trough_at"))
      .orderBy(col("ticker"))
  }

  /** Robust (median/MAD) outlier report per ticker over the minute
    * closes — the anomaly detector that survives the very outliers a
    * mean/stddev rule gets dragged by. Two exact-percentile passes on
    * the O(minutes) aggregate: the median, then the median absolute
    * deviation from it; a minute is an outlier when its deviation
    * exceeds 3×MAD. Both medians are ROUNDED to the shared 6dp grid
    * before any comparison, so the threshold is engine-stable. */
  def madOutliers(stock: DataFrame): DataFrame = {
    // The `percentile` aggregate's per-group buffer is a value→count
    // map over the group's distinct values. Here that is provably
    // bounded REGARDLESS of event volume: the input is the 1-minute
    // aggregate, so a group holds at most one value per wall-clock
    // minute (~526k/year) — corpus growth adds events per minute, not
    // buffer entries. Raw-column percentiles (unbounded domains) go
    // through [[Quantiles.exactPercentilesBy]] instead.
    val m = agg1m(stock)
      .select(col("ticker"), col("window_timestamp"), col("latest_price"))
      .pin() // read twice: the median pass and the dev join
    val med = m.groupBy(col("ticker"))
      .agg(round(expr("percentile(latest_price, 0.5D)"), 6).as("med"))
    val dev = m.join(broadcast(med), Seq("ticker"))
      .withColumn("dev", abs(col("latest_price") - col("med")))
    val mad = dev.groupBy(col("ticker"))
      .agg(round(expr("percentile(dev, 0.5D)"), 6).as("mad"))
    dev.join(broadcast(mad), Seq("ticker"))
      .groupBy(col("ticker"), col("med"), col("mad"))
      .agg(count(lit(1)).as("n_minutes"),
        sum((col("dev") > col("mad") * 3).cast("long")).as("n_outliers"))
      .select(col("ticker"), col("med"), col("mad"), col("n_minutes"),
        col("n_outliers"))
      .orderBy(col("ticker"))
  }

  /** A2 (W2): 5-minute sliding mean of price, slide 1 minute,
    * `pipeline.py:103-107`. Spark's `window(ts, 5m, 1m)` assigns each
    * event to its 5 overlapping windows (the explicit re-window-to-fixed
    * step of `pipeline.py:107` is unnecessary — we join on window end).
    */
  def sma5m(stock: DataFrame): DataFrame =
    stock
      .groupBy(window(col("ts"), "5 minutes", "1 minute"), col("ticker"))
      // DECIMAL(38,18) mean: a double avg is accumulation-order-
      // dependent, and at sf0.1 the engines' different orders crossed
      // the 4dp rounding grid (found by the round-9 full-roster sf0.1
      // sweep); the decimal sum is order-independent and the oracle
      // states the identical crossing via VARCHAR
      .agg(round(sum(col("price").cast("decimal(38,18)")).cast("double") /
        count(lit(1)), 4).as("sma_5m"))
      .select(col("ticker"), col("window.end").as("window_timestamp"),
        col("sma_5m"))

  /** Minute-granularity partial aggregates: the agg1m outputs plus the
    * (sum, count) partials the sliding SMA needs. One scan, one shuffle,
    * ~|events|/|minutes| reduction before anything else happens. */
  def minuteAggs(stock: DataFrame): DataFrame =
    stock
      .groupBy(window(col("ts"), "1 minute"), col("ticker"))
      .agg(
        max_by(col("price"), col("ts")).as("latest_price"),
        max(col("price")).as("high_price_1m"),
        sum(col("volume")).as("total_volume_1m"),
        round(sum(col("price") * col("volume")), 4).as("total_value_1m"),
        max_by(col("event_id"), col("ts")).as("latest_event_id"),
        sum(col("price").cast("decimal(38,18)")).as("sum_price_1m"),
        count(lit(1)).as("n_events_1m"))
      .select(col("ticker"), col("window.end").as("window_timestamp"),
        col("latest_price"), col("high_price_1m"), col("total_volume_1m"),
        col("total_value_1m"), col("latest_event_id"),
        col("sum_price_1m"), col("n_events_1m"))

  /** J1/J2: the reference co-groups the 1-min agg branch with the 5-min
    * sliding SMA branch and keeps rows where both sides exist
    * (`pipeline.py:110-119`, inner semantics).
    *
    * Plan (scale-first): instead of aggregating the raw stream twice and
    * joining (2 full scans + 3 shuffles of event-grade data), compute
    * [[minuteAggs]] once, explode each minute row into the 5 sliding
    * windows it feeds (offsets 0..4 — a 5× fan-out of *minute* rows,
    * ~|events|/minutes smaller than the raw stream), and finish with one
    * conditional aggregation: the off=0 row carries the agg1m payload,
    * `sum(sum)/sum(count)` is the exact 5-minute mean (identical value
    * set to avg-over-raw-events), and requiring an off=0 member
    * reproduces the inner join. One scan, two minute-grade shuffles,
    * zero joins. The sliding mean over per-minute partials is the
    * two-level aggregation DuckDB/Beam combiner-lifting would also pick.
    */
  def joined(stock: DataFrame): DataFrame =
    joinedFromMinutes(minuteAggs(stock))

  /** The join/SMA stage over an already-materialized minute-aggregate
    * table: the batch path's form, and the reference statement that
    * [[analysisFromMinutes]] is tested against. */
  def joinedFromMinutes(minuteDf: DataFrame): DataFrame =
    minuteDf
      .select(col("*"), explode(sequence(lit(0), lit(4))).as("off"))
      .withColumn("w_end",
        timestamp_seconds(unix_timestamp(col("window_timestamp")) + col("off") * 60))
      .groupBy(col("ticker"), col("w_end"))
      .agg(
        max(when(col("off") === 0, col("latest_price"))).as("latest_price"),
        max(when(col("off") === 0, col("high_price_1m"))).as("high_price_1m"),
        max(when(col("off") === 0, col("total_volume_1m"))).as("total_volume_1m"),
        max(when(col("off") === 0, col("total_value_1m"))).as("total_value_1m"),
        max(when(col("off") === 0, col("latest_event_id"))).as("latest_event_id"),
        // decimal partials re-sum EXACTLY (associative), so the
        // two-level mean is bit-equal to the one-level sma5m mean
        round(sum(col("sum_price_1m")).cast("double") /
          sum(col("n_events_1m")), 4).as("sma_5m"),
        max(when(col("off") === 0, lit(1))).as("has_1m"))
      .filter(col("has_1m") === 1)
      .select(col("ticker"), col("w_end").as("window_timestamp"),
        col("latest_price"), col("high_price_1m"), col("total_volume_1m"),
        col("total_value_1m"),
        sentimentOf(col("latest_event_id")).as("ai_sentiment"),
        summaryOf(col("ticker"), col("latest_event_id")).as("ai_summary"),
        col("sma_5m"))

  /** The 11-column analysis table straight from a minute-aggregate
    * table with one row per (ticker, minute), in one shuffle by ticker
    * and one window pass: the streaming sink's per-trigger rebuild.
    * Equal row for row to `analysisFromJoined(joinedFromMinutes(m), now)`:
    *   - `sma_5m` re-sums the decimal partials over a RANGE frame of the
    *     4 preceding minutes, the same exact sums as the 5-row fan-out;
    *   - the spike is [[withSpike]], the ROWS 10..1 PRECEDING form that
    *     `SpikeParitySpec` proves equal to [[withSpikeBucketed]];
    *   - `now` is the injected clock as a timestamp-valued column (a
    *     literal), so no aggregate over the table is needed.
    * Both windows partition by ticker alone, so the pass runs #tickers
    * wide (the [[withSpike]] scale note); its input is minute-grade. */
  def analysisFromMinutes(minuteDf: DataFrame, now: Column): DataFrame = {
    def last5m(c: String): Column = expr(s"sum($c) OVER (PARTITION BY ticker " +
      "ORDER BY window_timestamp RANGE BETWEEN INTERVAL 4 MINUTES PRECEDING " +
      "AND CURRENT ROW)")
    withSpike(minuteDf.withColumn("sma_5m", round(
        last5m("sum_price_1m").cast("double") / last5m("n_events_1m"), 4)))
      .select(
        col("ticker"), col("window_timestamp"), col("latest_price"),
        col("high_price_1m"), col("total_volume_1m"), col("total_value_1m"),
        col("sma_5m"), col("is_volume_spike"),
        (unix_timestamp(now) - unix_timestamp(col("window_timestamp")))
          .cast("double").as("system_latency"),
        sentimentOf(col("latest_event_id")).as("ai_sentiment"),
        summaryOf(col("ticker"), col("latest_event_id")).as("ai_summary"))
  }

  /** ST1: stateful volume-spike detection, batch form
    * (`DetectVolumeSpike`, `pipeline.py:19-41`). The reference keeps the
    * last ≤10 one-minute volumes per ticker in keyed state and flags
    * `volume > 2 * avg(history) AND avg > 0`, with the current element
    * excluded from its own history. With one row per (ticker, minute)
    * that is exactly a window frame of ROWS BETWEEN 10 PRECEDING AND
    * 1 PRECEDING — expressed relationally so Catalyst plans it, and so
    * the DuckDB oracle states the identical frame. The streaming twin
    * (`graft.streaming.SpikeState`, a `graft.streaming.KeyedFold`)
    * carries the history as real keyed state, runs on any state-store
    * provider, and is parity-tested against this form.
    *
    * Scale ceiling (measured by a past scaling probe, BASELINE.md):
    * this window partitions by `ticker` — low cardinality (5 here)
    * caps the stage's parallelism at #tickers, each task sorting its
    * ticker's minute rows. Linear through 64× locally (minute-grade data is ~1000×
    * smaller than raw events), but on a real cluster with few keys the
    * streaming twin (incremental state; it sorts only each trigger's
    * new rows per key) or a time-bucketed
    * carry-in rewrite is the scale path for this one stage.
    */
  def withSpike(joinedDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("ticker")).orderBy(col("window_timestamp"))
      .rowsBetween(-10, -1)
    val histAvg = avg(col("total_volume_1m")).over(w)
    joinedDf
      .withColumn("hist_avg_volume", coalesce(histAvg, lit(0.0)))
      .withColumn("is_volume_spike",
        col("total_volume_1m") > lit(2.0) * col("hist_avg_volume") &&
          col("hist_avg_volume") > lit(0.0))
  }

  /** ST1 at scale: the same spike rule with the window partitioned by
    * (ticker, time-bucket) instead of ticker alone — parallelism becomes
    * #tickers × #buckets instead of #tickers (the ceiling [[withSpike]]
    * documents). Exactness across bucket boundaries comes from
    * carrying, into EVERY non-empty bucket, the ticker's globally-last
    * 10 rows that precede it, as frame-only rows (they feed the
    * ROWS 10 PRECEDING frame, then are dropped from the output).
    *
    * Why "globally-last 10", not "previous bucket's last 10": with
    * GAPPY data (empty buckets — a bursty feed, a market holiday) the
    * next non-empty bucket can be many buckets later, and the 10
    * preceding rows can even SPAN several sparse buckets. Round 10's
    * sf1 sweep caught exactly this on MakeScale's bursty copies: a
    * bucket+1-only carry starved the frame and flipped 37 spike
    * booleans. The carry therefore derives from a TAIL table — each
    * bucket's last ≤10 rows (any row deeper than 10-from-bucket-end
    * can never be within 10 global rows of a later bucket) — joined to
    * every later non-empty bucket and re-ranked to the last 10 per
    * target. Both stages are metadata-sized: ≤10 rows per (ticker,
    * bucket) on one side, distinct (ticker, bucket) on the other, so
    * the ticker-equi join's fan-out is bounded by 10 × #buckets² per
    * ticker — days-squared, independent of event volume.
    * `SpikeParitySpec` asserts equality with [[withSpike]] on the real
    * data AND on a deliberately gappy fixture. */
  def withSpikeBucketed(joinedDf: DataFrame, bucketMinutes: Int = 1440): DataFrame = {
    // pin the minute table ONCE: three branches read it (tails,
    // targets, the output union), and joinedDf is itself the whole
    // agg1m ⋈ sma5m pipeline — without the cut every consumer of the
    // analysis table recomputes that pipeline three times (the
    // round-10 q4–q10/stock_analysis ~2.4× drift cluster)
    val bucketed = joinedDf.withColumn("bucket",
      expr(s"unix_timestamp(window_timestamp) div ${bucketMinutes * 60}")).pin()
    val wDesc = Window.partitionBy(col("ticker"), col("bucket"))
      .orderBy(col("window_timestamp").desc)
    val tails = bucketed
      .withColumn("rd", row_number().over(wDesc)).filter(col("rd") <= 10).drop("rd")
      .pin()
    // every non-empty bucket has ≥1 tail row, so the target-bucket set
    // comes from the ≤10-rows-per-bucket tails frame, not another full
    // pass over the minute table
    val targets = tails.select(col("ticker"), col("bucket")).distinct()
      .withColumnRenamed("bucket", "tbucket")
    val carry = tails
      .join(targets, Seq("ticker"))
      .filter(col("bucket") < col("tbucket"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("ticker"), col("tbucket"))
          .orderBy(col("window_timestamp").desc)))
      .filter(col("rk") <= 10)
      .drop("rk", "bucket")
      .withColumnRenamed("tbucket", "bucket")
      .withColumn("is_carry", lit(true))
    val all = bucketed.withColumn("is_carry", lit(false)).unionByName(carry)
    val w = Window.partitionBy(col("ticker"), col("bucket"))
      .orderBy(col("window_timestamp")).rowsBetween(-10, -1)
    all
      .withColumn("hist_avg_volume",
        coalesce(avg(col("total_volume_1m")).over(w), lit(0.0)))
      .withColumn("is_volume_spike",
        col("total_volume_1m") > lit(2.0) * col("hist_avg_volume") &&
          col("hist_avg_volume") > lit(0.0))
      .filter(!col("is_carry"))
      .drop("bucket", "is_carry")
  }

  /** P8 + ST2: the full 11-column analysis row (`FormatOutput`,
    * `pipeline.py:44-67`; sink schema `pipeline.py:129`).
    *
    * `system_latency` is processing-time minus window end
    * (`pipeline.py:48-52`) — deliberately wall-clock in the reference.
    * For a deterministic, oracle-verifiable engine the clock is
    * *injected* as the maximum window end in the data (a watermark-style
    * "now"); the one-row max is broadcast, not windowed, so no global
    * sort/single-partition stage exists at scale.
    */
  def analysis(spark: SparkSession, dir: String): DataFrame = {
    val stock = normalize(Tables.events(spark, dir))
    analysisFromJoined(joined(stock), nowOf(stock))
  }

  /** The injected deterministic "now" = the max 1-minute window end of
    * the filtered stream = minute-truncated max event time + 1 minute.
    * Computed straight off the normalized scan (column-pruned to `ts`,
    * map-side partial max — one row per partition shuffled) instead of
    * running the minute pipeline a second time just to take its max:
    * at cluster scale that second pipeline doubles every shuffle. */
  def nowOf(stock: DataFrame): DataFrame =
    stock.agg((date_trunc("minute", max(col("ts"))) +
      expr("INTERVAL 1 MINUTE")).as("now_ts"))

  /** Spike + injected-clock latency + 11-column format over a joined
    * table: the batch path, and the reference statement for the
    * streaming sink's [[analysisFromMinutes]]. Uses the bucketed (scalable) spike form
    * (partitioned by ticker × day-bucket; exact under the ≥10-rows-per-
    * bucket density precondition the test data satisfies from sf0.01 up
    * — SpikeParitySpec). The global-window statement is what the oracle
    * states; parity is proved row-for-row. */
  def analysisFromJoined(joinedDf: DataFrame): DataFrame =
    // spike preserves rows, so the max window end is joinedDf's own max
    // (the batch path passes nowOf(stock) instead)
    analysisFromJoined(joinedDf,
      joinedDf.agg(max(col("window_timestamp")).as("now_ts")))

  /** As above with the injected clock supplied by the caller
    * ([[nowOf]] for the batch path — avoids re-deriving the minute
    * table just to take its max). */
  def analysisFromJoined(joinedDf: DataFrame, nowDf: DataFrame): DataFrame = {
    val sp = withSpikeBucketed(joinedDf)
    sp.crossJoin(broadcast(nowDf))
      .select(
        col("ticker"), col("window_timestamp"), col("latest_price"),
        col("high_price_1m"), col("total_volume_1m"), col("total_value_1m"),
        col("sma_5m"), col("is_volume_spike"),
        (unix_timestamp(col("now_ts")) - unix_timestamp(col("window_timestamp")))
          .cast("double").as("system_latency"),
        col("ai_sentiment"), col("ai_summary"))
  }

  /** W4 session windows (SURVEY.md §2.3 — capability extension): per
    * ticker, events closer than `gap` merge into one session. Spark's
    * `session_window` end = last event + gap, window half-open, so a gap
    * of exactly `gap` starts a new session (oracle uses `>=` islands). */
  def sessions(stock: DataFrame, gap: String = "30 minutes"): DataFrame =
    stock
      .groupBy(session_window(col("ts"), gap), col("ticker"))
      .agg(count(lit(1)).as("n_events"),
        // sessions can span hundreds of events: sum as exact decimal so
        // the mean is order-independent, and leave it UNROUNDED — the
        // exact sum divided by the count is one deterministic IEEE op,
        // while round() on an exact .xxx5 boundary differs between
        // engines (decimal-string half-up vs binary-double nearest)
        (sum(col("price").cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("avg_price"))
      // no presentation sort: session_window works on streams too (the
      // registered query adds its ORDER BY)
      .select(col("ticker"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("avg_price"))

  /** Long→wide pivot (SURVEY.md §1.1): the reference's pandas MultiIndex
    * matrix shape, (minute × ticker) → latest price. Pivot values are
    * pinned so the output schema is deterministic. */
  val tickerValues: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")
  def pivotPrices(agg1mDf: DataFrame): DataFrame =
    agg1mDf
      .groupBy(col("window_timestamp"))
      .pivot("ticker", tickerValues)
      .agg(max(col("latest_price")))
      .orderBy(col("window_timestamp"))

  /** P1 robustness: malformed-message DEAD-LETTER accounting — the
    * quarantine path every production decode stage needs (a Beam/
    * Dataflow pipeline would route these to a dead-letter topic rather
    * than crash the job). A deterministic subset of wire messages is
    * corrupted (truncated — hash-selected so both engines pick the same
    * rows), parsed with non-throwing `from_json`, and classified: a
    * failed parse surfaces as a NULL struct field, never an exception.
    * Map-side until the final small group-by; the same expressions run
    * unchanged under streaming. */
  def deadLetter(spark: SparkSession, dir: String): DataFrame =
    deadLetterOn(graft.sources.Tables.events(spark, dir))

  /** Transform form of [[deadLetter]] — runs unchanged on a stream
    * (complete/update mode for the final aggregate). */
  def deadLetterOn(events: DataFrame): DataFrame = {
    val wire = events
      .select(col("event_type"),
        concat(lit("{\"event_id\":"), col("event_id").cast("string"),
          lit(",\"type\":\""), col("event_type"), lit("\"}")).as("msg"),
        graft.functions.Portable.hash32(col("event_id").cast("string")).as("h"))
    val corrupted = wire.withColumn("msg",
      when(col("h") % 11 === 0,
        expr("substring(msg, 1, length(msg) - 2)")).otherwise(col("msg")))
    val parsed = corrupted.withColumn("rec", from_json(col("msg"),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, type STRING")))
    parsed.groupBy(col("event_type"))
      .agg(
        sum(when(col("rec.event_id").isNotNull, 1L).otherwise(0L)).as("n_ok"),
        sum(when(col("rec.event_id").isNull, 1L).otherwise(0L)).as("n_dead"))
      .orderBy(col("event_type"))
  }

  /** Wide→long melt — the inverse of [[pivotPrices]], via Spark's native
    * `unpivot` (no UDF, no explode-of-structs): dropping the NULL cells
    * the pivot manufactured for absent (minute, ticker) combinations
    * recovers exactly the long minute-aggregate rows, so the registered
    * oracle is simply the LONG table — proving pivot∘unpivot = identity
    * bit-for-bit. Stateless and map-side: each wide row melts to ≤
    * #tickers rows with no shuffle. */
  def unpivotPrices(agg1mDf: DataFrame): DataFrame =
    pivotPrices(agg1mDf)
      .unpivot(Array(col("window_timestamp")),
        tickerValues.map(col).toArray, "ticker", "latest_price")
      .filter(col("latest_price").isNotNull)
      .orderBy(col("window_timestamp"), col("ticker"))

  /** K2/P1 round-trip: serialize each event to the reference's JSON wire
    * format (`main.py:162-172`) and parse it back — the engine's
    * encode/decode path is lossless (Double.toString is round-trippable;
    * timestamps carry microseconds). Oracle = identity on the input. */
  def jsonRoundtrip(stock: DataFrame): DataFrame = {
    val wire = stock.select(to_json(struct(
      col("ticker"), col("price"), col("volume"),
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("timestamp"),
      col("ai_sentiment"), col("ai_summary"))).as("value"))
    wire
      .select(from_json(col("value"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "ticker string, price double, volume bigint, timestamp string, " +
            "ai_sentiment double, ai_summary string")).as("e"))
      .select(col("e.ticker").as("ticker"),
        to_timestamp(col("e.timestamp")).as("ts"),
        col("e.price").as("price"), col("e.volume").as("volume"),
        col("e.ai_sentiment").as("ai_sentiment"),
        col("e.ai_summary").as("ai_summary"))
      .orderBy(col("ts"), col("ticker"))
  }

  /** The shared "now" used by time-range analytics predicates (Q4/Q8):
    * max window end in the analysis table, as a broadcastable 1-row frame.
    */
  def withNow(analysisDf: DataFrame): DataFrame =
    // the analysis row already carries the clock: system_latency is
    // (now - window end) in whole seconds, so now_ts reconstructs
    // per-row — no second aggregation pass over the pipeline
    analysisDf.withColumn("now_ts",
      timestamp_seconds(unix_timestamp(col("window_timestamp")) +
        col("system_latency").cast("long")))
}
