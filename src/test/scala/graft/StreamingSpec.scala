package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.StockPipeline
import graft.sources.Tables
import graft.streaming.{SpikeState, StreamingPipeline, VolumeRow}

case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** One row of `StockPipeline.minuteAggs` (the sink's minute store). */
case class MinuteRow(ticker: String, window_timestamp: Timestamp,
    latest_price: Double, high_price_1m: Double, total_volume_1m: Long,
    total_value_1m: Double, latest_event_id: Long,
    sum_price_1m: java.math.BigDecimal, n_events_1m: Long)

/** Stream/batch parity tests (SURVEY.md §5.4): the same transforms run
  * under MemoryStream must produce exactly the batch results. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, typ: String, v: Double, k: Long) =
    RawEvent(id, Timestamp.valueOf(t), 1L, typ, v, s"""{"k": $k}""")

  test("ohlc5m: the batch candlestick resample runs unchanged on a " +
      "watermarked stream and equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val real = Seq(
      ev(1, "2024-01-01 00:01:10", "A", 12.0, 1),
      ev(2, "2024-01-01 00:02:30", "A", 30.0, 2),
      ev(3, "2024-01-01 00:03:40", "A", 5.0, 3),
      ev(4, "2024-01-01 00:04:50", "A", 18.0, 4),
      ev(5, "2024-01-01 00:02:00", "B", 7.0, 9))
    val stream = MemoryStream[RawEvent]
    val bars = StockPipeline.ohlc5m(
      StreamingPipeline.withEventTime(stream.toDF()))
    val q = bars.writeStream.format("memory").queryName("ohlc_sink")
      .outputMode("append").start()
    try {
      stream.addData(real: _*)
      q.processAllAvailable()
      // sentinel pushes the watermark past the real bars
      stream.addData(ev(99, "2024-01-01 02:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      stream.addData(ev(100, "2024-01-01 03:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      val streamed = spark.table("ohlc_sink")
        .filter(col("ticker") =!= "Z")
        .orderBy("ticker", "window_timestamp").collect()
      val batch = StockPipeline.ohlc5m(StockPipeline.normalize(real.toDF()))
        .orderBy("ticker", "window_timestamp").collect()
      assert(streamed.length === batch.length && batch.length === 2)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("agg1m: streaming append output equals batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val real = Seq(
      ev(1, "2024-01-01 00:00:10", "A", 10.0, 1),
      ev(2, "2024-01-01 00:00:50", "A", 20.0, 2),
      ev(3, "2024-01-01 00:01:30", "A", 15.0, 3),
      ev(4, "2024-01-01 00:00:40", "B", 5.0, 7))
    val stream = MemoryStream[RawEvent]
    val agg = StreamingPipeline.agg1mStream(
      StreamingPipeline.withEventTime(stream.toDF()))
    val q = agg.writeStream.format("memory").queryName("agg1m_sink")
      .outputMode("append").start()
    try {
      stream.addData(real: _*)
      q.processAllAvailable()
      // two sentinel batches push the watermark past all real windows
      stream.addData(ev(98, "2024-01-01 01:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      stream.addData(ev(99, "2024-01-01 02:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      val streamed = spark.table("agg1m_sink")
        .filter(col("ticker") =!= "Z")
        .orderBy("ticker", "window_timestamp").collect()
      val batch = StockPipeline.agg1m(StockPipeline.normalize(real.toDF()))
        .orderBy("ticker", "window_timestamp").collect()
      assert(streamed.toSeq === batch.toSeq)
    } finally q.stop()
  }

  test("spike: flatMapGroupsWithState across micro-batches equals batch window frame") {
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val agg = StockPipeline.agg1m(
        StockPipeline.normalize(Tables.events(spark, dir)))
      .select("ticker", "window_timestamp", "total_volume_1m")
    val rows = agg.as[VolumeRow].collect().sortBy(_.window_timestamp.getTime)
    // feed in 3 consecutive chunks so state genuinely carries across batches
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    val stream = MemoryStream[VolumeRow]
    val q = SpikeState.detect(stream.toDS()).writeStream
      .format("memory").queryName("spike_sink").outputMode("append").start()
    try {
      chunks.foreach { c => stream.addData(c.toSeq: _*); q.processAllAvailable() }
      val streamed = spark.table("spike_sink")
        .select("ticker", "window_timestamp", "hist_avg_volume", "is_volume_spike")
        .orderBy("ticker", "window_timestamp").collect()
      val batch = StockPipeline.withSpike(agg)
        .select("ticker", "window_timestamp", "hist_avg_volume", "is_volume_spike")
        .orderBy("ticker", "window_timestamp").collect()
      assert(streamed.length === batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("late data beyond the watermark is dropped from its window (W6)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val agg = StreamingPipeline.agg1mStream(
      StreamingPipeline.withEventTime(stream.toDF(), delay = "2 minutes"))
    val q = agg.writeStream.format("memory").queryName("late_sink")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, "2024-01-01 00:00:30", "A", 10.0, 1))
      q.processAllAvailable()
      // advance the watermark far past A's window...
      stream.addData(ev(2, "2024-01-01 01:00:00", "B", 1.0, 1))
      q.processAllAvailable()
      // ...then send a LATE event for the already-finalized window
      stream.addData(ev(3, "2024-01-01 00:00:40", "A", 99.0, 5))
      q.processAllAvailable()
      stream.addData(ev(4, "2024-01-01 02:00:00", "B", 1.0, 1))
      q.processAllAvailable()
      stream.addData(ev(5, "2024-01-01 03:00:00", "B", 1.0, 1))
      q.processAllAvailable()
      val a = spark.table("late_sink").filter(col("ticker") === "A").collect()
      // window emitted once, from the on-time event only: the late 99.0
      // price and its volume never appear (Beam default-trigger analog)
      assert(a.length === 1)
      assert(a.head.getAs[Double]("high_price_1m") === 10.0)
      assert(a.head.getAs[Long]("total_volume_1m") === 1L)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val real = Seq(
      ev(1, "2024-01-01 00:01:00", "click", 1.0, 1),    // user 1 (all user_id=1)
      ev(2, "2024-01-01 00:05:00", "purchase", 9.0, 1), // joins click 1 (4 min before)
      ev(3, "2024-01-01 00:20:00", "purchase", 9.0, 1), // click 1 too old (19 min)
      ev(4, "2024-01-01 00:18:00", "click", 1.0, 1))    // joins purchase 3
    val stream = MemoryStream[RawEvent]
    val q = StreamingPipeline.purchaseClickJoin(stream.toDF()).writeStream
      .format("memory").queryName("ssj_sink").outputMode("append").start()
    try {
      stream.addData(real: _*)
      q.processAllAvailable()
      stream.addData(ev(98, "2024-01-01 02:00:00", "noise", 1.0, 1))
      q.processAllAvailable()
      stream.addData(ev(99, "2024-01-01 03:00:00", "noise", 1.0, 1))
      q.processAllAvailable()
      val streamed = spark.table("ssj_sink")
        .select("p_event", "c_event").orderBy("p_event", "c_event").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val batch = StreamingPipeline.purchaseClickJoin(real.toDF())
        .select("p_event", "c_event").orderBy("p_event", "c_event").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(streamed.toSeq === Seq((2L, 1L), (3L, 4L)))
      assert(streamed.toSeq === batch.toSeq) // stream/batch parity
    } finally q.stop()
  }

  test("replay index: contiguous 0..n-1 in (ts, event_id) order, built band-parallel") {
    // force 8 ts bands: the index must stay globally contiguous even
    // though no single window partition ever sees the whole table
    val bars = StreamingPipeline.indexedBars(spark, "/root/testdata/sf0.001", 8)
    // the construction is declarative end-to-end: the banded window scan
    // replaced the old rdd.zipWithIndex hop, so the plan must stay in
    // Catalyst (no ExistingRDD scan = no RDD boundary, codegen survives)
    assert(!bars.queryExecution.executedPlan.toString.contains("ExistingRDD"),
      "indexedBars must not leave Catalyst via an RDD hop")
    // genuinely multi-band: more than one distinct band offset group
    // (equal-ts collisions aside, 8 bands over a day of events populate)
    val n = bars.count()
    val rows = bars.select("idx", "ts", "event_id").orderBy("idx").collect()
    assert(rows.map(_.getLong(0)).toSeq === (0L until n).toSeq)
    // index order == (ts, event_id) order
    val byTime = rows.map(r => (r.getTimestamp(1), r.getLong(2)))
    assert(byTime.toSeq === byTime.sortBy(x => (x._1.getTime, x._2)).toSeq)
  }

  test("replay broadcast guard: past the row threshold the idx join " +
      "degrades to a shuffled equi join with identical rows") {
    val dir = "/root/testdata/sf0.001"
    val viaBroadcast = StreamingPipeline.replayBatch(spark, dir)
    // every real recording exceeds one row; also silence the
    // optimizer's own small-table broadcast (correct at test scale,
    // absent at the 100× scale this guard exists for) so the plan shows
    // what the guard DECLARES: no forced bars broadcast
    withProp(StreamingPipeline.replayBroadcastMaxRowsProp -> "1") {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val viaShuffle = StreamingPipeline.replayBatch(spark, dir)
        val plan = viaShuffle.queryExecution.executedPlan.toString
        assert(!plan.contains("BroadcastHashJoin [idx"),
          s"above the threshold the idx join must not declare a broadcast:\n$plan")
        // the degraded plan is the same query: row-identical output
        assert(viaShuffle.collect().toSeq === viaBroadcast.collect().toSeq)
      }
    }
  }

  test("session windows: streaming append output equals batch sessions (W4)") {
    implicit val sqlCtx = spark.sqlContext
    val real = Seq(
      ev(1, "2024-01-01 00:00:10", "A", 10.0, 1),
      ev(2, "2024-01-01 00:10:00", "A", 11.0, 1),  // same session (gap < 30m)
      ev(3, "2024-01-01 01:00:00", "A", 12.0, 1),  // new session
      ev(4, "2024-01-01 00:05:00", "B", 20.0, 1))
    val stream = MemoryStream[RawEvent]
    val sessions = StockPipeline.sessions(
      StreamingPipeline.withEventTime(stream.toDF()))
    val q = sessions.writeStream.format("memory").queryName("session_sink")
      .outputMode("append").start()
    try {
      stream.addData(real.take(2): _*)
      q.processAllAvailable()
      stream.addData(real.drop(2): _*)
      q.processAllAvailable()
      // sentinel far in the future finalizes every real session
      stream.addData(ev(99, "2024-01-02 12:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      stream.addData(ev(100, "2024-01-03 12:00:00", "Z", 1.0, 1))
      q.processAllAvailable()
      val streamed = spark.table("session_sink")
        .filter(col("ticker") =!= "Z")
        .orderBy("ticker", "session_start").collect()
      val batch = StockPipeline.sessions(
          StockPipeline.normalize(real.toDF()))
        .orderBy("ticker", "session_start").collect()
      assert(streamed.length === batch.length && batch.length === 3)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("streaming dedup drops within-watermark duplicate event_ids") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[RawEvent]
    val q = StreamingPipeline.dedupStream(stream.toDF()).writeStream
      .format("memory").queryName("dedup_sink").outputMode("append").start()
    try {
      stream.addData(
        ev(1, "2024-01-01 00:00:10", "A", 1.0, 1),
        ev(1, "2024-01-01 00:00:20", "A", 1.0, 1)) // dup in same batch
      q.processAllAvailable()
      stream.addData(ev(1, "2024-01-01 00:00:30", "A", 1.0, 1)) // dup next batch
      stream.addData(ev(2, "2024-01-01 00:01:00", "A", 2.0, 1))
      q.processAllAvailable()
      val ids = spark.table("dedup_sink").select("event_id")
        .as[Long].collect().sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("dead-letter classification runs unchanged on a stream (complete mode)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 200L).map(i =>
      ev(i, "2024-01-01 00:00:10", if (i % 2 == 0) "click" else "purchase",
        1.0, i))
    val stream = MemoryStream[RawEvent]
    val q = graft.operators.StockPipeline.deadLetterOn(stream.toDF())
      .writeStream.format("memory").queryName("dl_sink")
      .outputMode("complete").start()
    try {
      stream.addData(rows.take(100): _*); q.processAllAvailable()
      stream.addData(rows.drop(100): _*); q.processAllAvailable()
      val got = spark.table("dl_sink").orderBy("event_type").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_ok"),
          r.getAs[Long]("n_dead"))).toSeq
      val want = graft.operators.StockPipeline
        .deadLetterOn(rows.toDF()).orderBy("event_type").collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_ok"),
          r.getAs[Long]("n_dead"))).toSeq
      assert(got === want)
      assert(got.map(_._3).sum > 0, "fixture must exercise the dead path")
    } finally q.stop()
  }

  test("token histogram runs unchanged as a continuous complete-mode " +
      "top-k (trending-tokens dashboard)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val streamDocs = stream.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    // the SAME batch operator (explode -> groupBy -> sort+limit) is
    // legal streaming in complete mode: each trigger re-emits the
    // full current top-k
    val q = graft.operators.TextAnalysis.tokenHistogram(streamDocs)
      .writeStream.format("memory").queryName("trend_sink")
      .outputMode("complete").start()
    try {
      stream.addData(1L -> "aa aa bb", 2L -> "aa cc")
      q.processAllAvailable()
      val t1 = spark.table("trend_sink").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(t1.head === (("aa", 3L)), s"got $t1")
      // next trigger shifts the ranking: the complete-mode sink shows
      // the NEW top-k, exactly what the batch op computes on all data
      stream.addData(3L -> "bb bb bb bb")
      q.processAllAvailable()
      val t2 = spark.table("trend_sink").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val batch = graft.operators.TextAnalysis.tokenHistogram(
        Seq((1L, "aa aa bb"), (2L, "aa cc"), (3L, "bb bb bb bb"))
          .map { case (i, t) => (i, t, "en", "src0", t.length.toLong) }
          .toDF("doc_id", "text", "lang", "source", "n_chars")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(t2 === batch)
      assert(t2.head === (("bb", 5L)))
    } finally q.stop()
  }

  test("date-partitioned sink prunes partitions for time predicates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ana = graft.operators.StockPipeline.analysis(spark, "/root/testdata/sf0.001")
    graft.sources.Sinks.writePartitionedByDate(ana, tmp)
    val back = graft.sources.Sinks.readPartitioned(spark, tmp)
      .filter(col("part_date") === "2024-01-02")
    val plan = back.queryExecution.executedPlan.toString
    // the filter must appear INSIDE the PartitionFilters list — a plan
    // string always contains 'PartitionFilters: [...]', even empty
    assert("PartitionFilters: \\[[^\\]]*part_date".r.findFirstIn(plan).isDefined,
      s"expected part_date pushed into PartitionFilters:\n$plan")
    assert(back.count() > 0)
    assert(back.count() === ana.filter(to_date(col("window_timestamp")) === "2024-01-02").count())
  }

  test("full streaming analysis sink equals batch pipeline on finalized windows") {
    val dir = "/root/testdata/sf0.001"
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val q = StreamingPipeline.analysisSink(spark, dir, s"$tmp/out", s"$tmp/ckpt")
    try {
      q.processAllAvailable()
      val cols = Seq("ticker", "window_timestamp", "latest_price",
        "high_price_1m", "total_volume_1m", "total_value_1m", "sma_5m",
        "is_volume_spike", "ai_sentiment", "ai_summary")
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.count() > 0)
      // exactly-once: no (ticker, minute) appears twice in the sink
      assert(out.groupBy("ticker", "window_timestamp").count()
        .filter(col("count") > 1).isEmpty)
      // cross-batch exactness: every emitted row equals the batch
      // pipeline's row (system_latency excluded: the injected "now"
      // legitimately differs between a finalized prefix and full data)
      val streamed = out.select(cols.map(col): _*)
        .orderBy("ticker", "window_timestamp").collect()
      val batchAll = StockPipeline.analysisFromJoined(StockPipeline.joined(
          StockPipeline.normalize(Tables.events(spark, dir))))
      val emitted = out.select("ticker", "window_timestamp")
      val batch = batchAll.join(emitted, Seq("ticker", "window_timestamp"))
        .select(cols.map(col): _*)
        .orderBy("ticker", "window_timestamp").collect()
      assert(streamed.length === batch.length)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
      // recovery: a mid-trigger kill replays the trigger with the SAME
      // batch id — re-running the last trigger's body over its own
      // landed minute rows must leave minute store and analysis output
      // byte-stable (overwrite-by-batch + whole-artifact overwrite)
      val minuteStore = s"$tmp/out_minutes"
      val lastId = spark.read.parquet(minuteStore)
        .agg(max(col("batch"))).head().getInt(0).toLong
      // materialized copy: a real replayed trigger's rows come from the
      // state store, not from the partition the trigger itself writes —
      // reading lazily here would race the overwrite of its own files
      val lastMinutes = spark.read.parquet(s"$minuteStore/batch=$lastId")
        .localCheckpoint(true)
      def allRows(path: String): Seq[String] =
        spark.read.parquet(path).collect().map(_.toString).sorted.toSeq
      val (minutesBefore, outBefore) = (allRows(minuteStore), allRows(s"$tmp/out"))
      StreamingPipeline.analysisBatch(lastMinutes, lastId, minuteStore, s"$tmp/out")
      assert(allRows(minuteStore) === minutesBefore,
        "replayed trigger must overwrite its own minute partition, not append")
      assert(allRows(s"$tmp/out") === outBefore,
        "replayed trigger must rebuild a byte-stable analysis sink")
    } finally q.stop()
  }

  test("analysis sink: after every closing trigger the table equals the " +
      "batch statement over the minute store on all 11 columns, across " +
      "gaps, late-starting tickers and single-ticker triggers") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft-sink-exact").toString
    val (store, out) = (s"$tmp/minutes", s"$tmp/out")
    val stream = MemoryStream[RawEvent]
    // per closing trigger: (batch id, tickers it closed, table, reference)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Set[String], Seq[Row], Seq[Row])]()
    def rows(df: DataFrame): Seq[Row] =
      df.orderBy("ticker", "window_timestamp").collect().toSeq
    val minutes = StockPipeline.minuteAggs(
      StreamingPipeline.withEventTime(stream.toDF()))
    val q = StreamingPipeline.batchSink(minutes, s"$tmp/ckpt") { (batch, id) =>
      StreamingPipeline.analysisBatch(batch, id, store, out)
      val s = batch.sparkSession
      val expect = StockPipeline.analysisFromJoined(
        StockPipeline.joinedFromMinutes(s.read.parquet(store).drop("batch")))
      seen.add((id, batch.select("ticker").distinct().collect()
        .map(_.getString(0)).toSet, rows(s.read.parquet(out)), rows(expect)))
    }
    // one tick per (ticker, minute) at second 20; price and volume vary
    // so that SMA sums are inexact in binary and spikes fire
    var id = 0L
    def ticks(ticker: String, minutes: Seq[Int]): Seq[RawEvent] =
      minutes.map { m =>
        id += 1
        ev(id, f"2024-01-01 ${m / 60}%02d:${m % 60}%02d:20", ticker,
          10.0 + (m * 7 % 13) * 0.1 + (ticker.head - 'A'),
          if (m % 9 == 4) 900 else 10 + m % 5)
      }
    try {
      // 1: A and B open; B then stays silent for 20 minutes
      stream.addData(ticks("A", 0 to 8) ++ ticks("B", 0 to 3): _*)
      q.processAllAvailable()
      // 2: C's first minute arrives
      stream.addData(ticks("A", 9 to 14) ++ ticks("C", 9 to 10): _*)
      q.processAllAvailable()
      // 3: only A has minutes behind the new watermark
      stream.addData(ticks("A", 15 to 22): _*)
      q.processAllAvailable()
      // 4: B returns after its gap, with history older than 10 minutes
      stream.addData(ticks("A", 23 to 30) ++ ticks("B", 24 to 27) ++
        ticks("C", 25 to 26): _*)
      q.processAllAvailable()
      // 5: a sentinel closes what is left
      stream.addData(ticks("A", Seq(40)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val closing = seen.asScala.toSeq.sortBy(_._1)
    assert(closing.size >= 4, closing.map(c => (c._1, c._2)))
    assert(closing.exists(_._2 == Set("A")), "no trigger closed only A: " +
      closing.map(c => (c._1, c._2)))
    assert(closing.last._3.map(_.getString(0)).toSet === Set("A", "B", "C"))
    closing.foreach { case (b, _, got, expect) =>
      assert(got.nonEmpty)
      assert(got === expect, s"trigger $b")
    }
    assert(closing.last._3.exists(_.getBoolean(7)), "no spike was raised")
    // an empty batch observes no clock: it falls back to the store's max
    StreamingPipeline.analysisBatch(spark.read.parquet(store).drop("batch")
      .filter(col("n_events_1m") < 0), 99, store, out)
    assert(rows(spark.read.parquet(out)) === closing.last._4)
  }

  test("analysis sink cost guard: a closing trigger runs at most 2 jobs " +
      "and pins nothing, after 3 and after 40 earlier triggers") {
    implicit val sqlCtx = spark.sqlContext
    val tickers = Seq("A", "B", "C")
    for (prior <- Seq(3, 40)) withClue(s"$prior earlier triggers: ") {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sink-cost").toString
      val (store, out) = (s"$tmp/minutes", s"$tmp/out")
      // the earlier triggers' partitions: trigger m closed minute m of
      // every ticker
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      (0 until prior).flatMap(m => tickers.map(t => (m.toLong, MinuteRow(t,
          new Timestamp(t0 + (m + 1) * 60000L), 10.0 + m, 11.0 + m, 5L + m,
          50.0 + m, m.toLong, new java.math.BigDecimal(10 + m), 1L))))
        .toDF("batch", "r").select(col("r.*"), col("batch"))
        .write.partitionBy("batch").parquet(store)
      // the streaming aggregation is stateful, so its micro-batches run
      // with AQE off, as the sink's do
      val stream = MemoryStream[RawEvent]
      val pins = new java.util.concurrent.atomic.AtomicInteger(-1)
      val minutes = StockPipeline.minuteAggs(
        StreamingPipeline.withEventTime(stream.toDF()))
      val q = StreamingPipeline.batchSink(minutes, s"$tmp/ckpt") { (batch, id) =>
        val sc = batch.sparkSession.sparkContext
        val before = sc.getPersistentRDDs.size
        inGroup("sink-cost") {
          StreamingPipeline.analysisBatch(batch, prior + id, store, out)
        }
        pins.set(sc.getPersistentRDDs.size - before)
      }
      try {
        val (jobs, execs) = counted("sink-cost") {
          // minute `prior` of every ticker, closed by a later tick of Z
          stream.addData(tickers.zipWithIndex.map { case (t, i) =>
            ev(i, f"2024-01-01 00:$prior%02d:20", t, 10.0 + i, 7) } :+
            ev(9, f"2024-01-01 00:${prior + 3}%02d:30", "Z", 1.0, 1): _*)
          q.processAllAvailable()
        }
        assert(pins.get === 0, "pins added by the closing trigger")
        assert(jobs <= 2, s"the closing trigger ran $jobs jobs: $execs")
      } finally q.stop()
      assert(spark.read.parquet(out).count() === 3L * (prior + 1))
    }
  }

  test("curated refresh: a crashed first trigger leaving only _temporary " +
      "droppings reads as 'no index yet' and recovers on retry") {
    // same committed-file discipline as the ingest sink: exists-but-no-
    // committed-data must not crash-loop schema inference, and the
    // retry must curate normally
    val base = java.nio.file.Files.createTempDirectory("graft-ccrash").toString
    val (curated, index, report) =
      (s"$base/curated", s"$base/index", s"$base/report")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$index/batch=0/_temporary/0"))
    import spark.implicits._
    val batch = Seq(
        (1L, "the cat and the hat is a cat of the house and it is warm now"))
      .toDF("_1", "_2")
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    StreamingPipeline.refreshCuratedBatch(batch, 0L, curated, index, report)
    assert(spark.read.parquet(curated).count() === 1)
    assert(spark.read.parquet(index).count() > 0)
    assert(spark.read.parquet(report).count() === 1)
  }

  test("ingest: a crashed first trigger leaving only _temporary droppings " +
      "reads as 'no index yet' and recovers on retry") {
    val base = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val (corpus, index) = (s"$base/corpus", s"$base/index")
    // simulate the crash: the index dir exists with an uncommitted
    // attempt only — no part files anywhere
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$index/batch=0/_temporary/0"))
    import spark.implicits._
    val batch = Seq((1L, "aaa bbb"), (2L, "ccc ddd")).toDF("_1", "_2")
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    // the retry of trigger 0 must not crash-loop on schema inference
    StreamingPipeline.ingestBatch(batch, 0L, corpus, index)
    assert(spark.read.parquet(corpus).count() === 2)
    assert(spark.read.parquet(index).count() === 2)
  }

  test("span-ingest sink: cross-batch SPAN dedup; fully-duplicate doc " +
      "drops; replay idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-span").toString
    val (corpus, index, ckpt) = (s"$base/corpus", s"$base/index", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 8-token blocks (Dedup.spanTokens = 8) so span boundaries are exact
    val A = "a1 a2 a3 a4 a5 a6 a7 a8"
    val B = "b1 b2 b3 b4 b5 b6 b7 b8"
    val C = "c1 c2 c3 c4 c5 c6 c7 c8"
    val D = "d1 d2 d3 d4 d5 d6 d7 d8"
    def asDocs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.ingestSpanDedupSink(
      asDocs(stream.toDF()), corpus, index, ckpt)
    try {
      // trigger 1: doc 2's A-span already appears in doc 1 -> only C kept
      stream.addData(1L -> s"$A $B", 2L -> s"$A $C")
      q.processAllAvailable()
      // trigger 2: doc 3's B is INDEXED -> keeps D; doc 4 is all-dup -> drops
      stream.addData(3L -> s"$B $D", 4L -> A)
      q.processAllAvailable()
      val got = spark.read.parquet(corpus)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> s"$A $B", 2L -> C, 3L -> D))
      assert(spark.read.parquet(index).count() === 4) // A B C D
      // replay of trigger 2 overwrites its own partitions: unchanged
      val lastBatch = spark.read.parquet(index)
        .agg(max(col("batch"))).collect()(0).getInt(0).toLong
      StreamingPipeline.ingestSpanBatch(
        asDocs(Seq(3L -> s"$B $D", 4L -> A).toDF("_1", "_2")),
        lastBatch, corpus, index)
      val replayed = spark.read.parquet(corpus)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replayed === got)
      assert(spark.read.parquet(index).count() === 4)
    } finally q.stop()
  }

  test("curated refresh sink: span dedup + quality gate + corpus report " +
      "across triggers; replay leaves corpus, report and checksum " +
      "byte-stable; rejected content cannot re-enter") {
    val base = java.nio.file.Files.createTempDirectory("graft-curated").toString
    val (curated, index, report, ckpt) =
      (s"$base/curated", s"$base/index", s"$base/report", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 8-token blocks (Dedup.spanTokens = 8) that each clear the quality
    // gate when combined (>= 10 tokens, >= 2 stopwords, low punct)
    val G1 = "the cat and the hat is a cat"
    val G2 = "of the house and it is warm now"
    val G3 = "the dog and the fox is a dog"
    val G4 = "in the barn and it is dry here"
    val S1 = "$$$ %%% ^^^ &&& *** $$$ %%% ^^^"
    val S2 = "&&& *** !!! ??? $$$ %%% ^^^ &&&"
    def asDocs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.curatedRefreshSink(
      asDocs(stream.toDF()), curated, index, report, ckpt)
    try {
      // trigger 1: doc 1 passes; doc 2 is pure symbols -> quality-
      // rejected but its spans still index
      stream.addData(1L -> s"$G1 $G2", 2L -> s"$S1 $S2")
      q.processAllAvailable()
      // trigger 2: doc 3 loses its G1 span to doc 1 but the residue
      // still passes; doc 4 is a full duplicate -> drops; doc 5 repeats
      // the REJECTED doc's block -> must not resurrect
      stream.addData(3L -> s"$G1 $G3 $G4", 4L -> s"$G1 $G2", 5L -> S1)
      q.processAllAvailable()
      def corpusRows = spark.read.parquet(curated)
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      def reportRows = spark.read.parquet(report).collect()
        .map(_.toString).sorted.toSeq
      def checksumRows = spark.read.parquet(s"${report}_checksum")
        .collect().map(_.toString).toSeq
      val got = corpusRows
      assert(got === Map(1L -> s"$G1 $G2", 3L -> s"$G3 $G4"))
      assert(spark.read.parquet(index).count() === 6) // G1 G2 S1 S2 + G3 G4
      val (rep, sum) = (reportRows, checksumRows)
      assert(rep.nonEmpty && sum.length === 1)
      // replay of trigger 2 (same batch id, same data) must leave every
      // artifact byte-stable
      val lastBatch = spark.read.parquet(index)
        .agg(max(col("batch"))).collect()(0).getInt(0).toLong
      StreamingPipeline.refreshCuratedBatch(
        asDocs(Seq(3L -> s"$G1 $G3 $G4", 4L -> s"$G1 $G2", 5L -> S1)
          .toDF("_1", "_2")),
        lastBatch, curated, index, report)
      assert(corpusRows === got)
      assert(reportRows === rep)
      assert(checksumRows === sum)
    } finally q.stop()
  }

  test("ingest sink: cross-batch exact dedup against the index; replay idempotent") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val (corpus, index, ckpt) =
      (s"$base/corpus", s"$base/index", s"$base/ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def asDocs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.ingestDedupSink(
      asDocs(stream.toDF()), corpus, index, ckpt)
    try {
      // trigger 1: within-batch dup (3 repeats 1) -> keep 1, 2
      stream.addData(1L -> "aaa bbb", 2L -> "ccc ddd", 3L -> "aaa bbb")
      q.processAllAvailable()
      // trigger 2: 4 duplicates an INDEXED doc, 5 is fresh -> keep 5
      stream.addData(4L -> "ccc ddd", 5L -> "eee fff")
      q.processAllAvailable()
      val kept = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept === Set(1L, 2L, 5L))
      assert(spark.read.parquet(index).count() === 3)
      // replay of trigger 2 (same batch id) overwrites its own
      // partitions: nothing double-ingests, doc 5 survives
      val b2 = asDocs(Seq(4L -> "ccc ddd", 5L -> "eee fff").toDF("_1", "_2"))
      val lastBatch = spark.read.parquet(index)
        .agg(max(col("batch"))).collect()(0).getInt(0).toLong
      StreamingPipeline.ingestBatch(b2, lastBatch, corpus, index)
      val replayed = spark.read.parquet(corpus)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(replayed === Set(1L, 2L, 5L))
      assert(spark.read.parquet(index).count() === 3)
    } finally q.stop()
  }

  test("ingest cost guard: over stores of 40 earlier triggers, an ingest " +
      "trigger and a curated-refresh trigger each run a fixed job count, " +
      "none of them a schema-inference or listing job") {
    val base = java.nio.file.Files.createTempDirectory("graft-ingest-cost").toString
    val (corpus, index, curated, spans, report) = (s"$base/corpus",
      s"$base/index", s"$base/curated", s"$base/spans", s"$base/report")
    val prior = 40
    // two 8-token spans per document, both unique to it
    def docs(ids: Seq[Long]) = ids.map(i =>
        (i, s"the cat $i and the hat is a cat of the house $i and it is"))
      .toDF("_1", "_2")
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    // the earlier triggers' partitions: trigger b ingested document b
    val earlier = docs(0L until prior).withColumn("batch", col("doc_id"))
    earlier.select(md5(graft.operators.TextAnalysis.normalizedText(
        col("text"))).as("fingerprint"), col("doc_id"), col("batch"))
      .write.partitionBy("batch").parquet(index)
    earlier.write.partitionBy("batch").parquet(curated)
    graft.operators.Dedup.spanRows(earlier)
      .select(col("hh"), col("doc_id").as("batch"))
      .write.partitionBy("batch").parquet(spans)
    // document 0 repeats an indexed one, document `prior` is fresh
    val batch = docs(Seq(0L, prior.toLong))
    // schema inference and partition listing run while a read is
    // planned, outside any SQL execution: every job of the two triggers
    // must belong to one. `counted`'s drain job also drains this
    // listener, which sits on the same bus queue
    val planning = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = j.properties
        if (Set("ingest-cost", "refresh-cost")(
              p.getProperty("spark.jobGroup.id")) &&
            p.getProperty("spark.sql.execution.id") == null)
          planning.add(j.stageInfos.map(_.name).mkString(", "))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val ((ingestJobs, ingestExecs), (refreshJobs, refreshExecs)) =
      try (counted("ingest-cost") {
        StreamingPipeline.ingestBatch(batch, prior, corpus, index)
      }, counted("refresh-cost") {
        StreamingPipeline.refreshCuratedBatch(batch, prior, curated, spans,
          report)
      }) finally spark.sparkContext.removeSparkListener(listener)
    assert(planning.isEmpty, planning)
    assert((ingestJobs, refreshJobs) === ((IngestJobs, RefreshJobs)),
      (ingestExecs, refreshExecs))
    assert(spark.read.parquet(corpus).select("doc_id").as[Long].collect()
      .toSeq === Seq(prior.toLong))
    assert(spark.read.parquet(s"$curated/batch=$prior").select("doc_id")
      .as[Long].collect().toSeq === Seq(prior.toLong))
    assert(spark.read.parquet(report).agg(sum("n_docs")).head().getLong(0) ===
      prior + 1L)
  }

  // measured on the suite's session (local[2], 2 shuffle partitions).
  // Reading each store with `spark.read` ran 8 and 23: a schema-inference
  // and a listing job per store read, one read in the ingest trigger and
  // two in the refresh
  private val IngestJobs = 6
  private val RefreshJobs = 19

  test("observed metrics: every trigger's progress carries the quality " +
      "gate's exact row/keep counts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def asDocs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    val good = "the cat and the hat is a cat of the house and it is warm"
    val stream = MemoryStream[(Long, String)]
    val q = StreamingPipeline.observedQualityGate(asDocs(stream.toDF()))
      .writeStream.format("memory").queryName("observed_sink")
      .outputMode("append").start()
    try {
      stream.addData(1L -> good, 2L -> "too short", 3L -> good)
      q.processAllAvailable()
      val m = q.lastProgress.observedMetrics.get("quality_gate")
      assert(m != null, "no observed metrics in progress")
      assert(m.getAs[Long]("n_rows") === 3L)
      assert(m.getAs[Long]("n_kept") === 2L)
      // second trigger reports ITS batch, not a running total
      stream.addData(4L -> good)
      q.processAllAvailable()
      val m2 = q.lastProgress.observedMetrics.get("quality_gate")
      assert(m2.getAs[Long]("n_rows") === 1L && m2.getAs[Long]("n_kept") === 1L)
    } finally q.stop()
  }

  test("streaming sessionization (flatMapGroupsWithState) equals the " +
      "batch session_window query on real data") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val events = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[graft.streaming.SessionEvent]
      .collect().sortBy(_.ts.getTime)
    val maxTs = events.map(_.ts.getTime).max
    val stream = MemoryStream[graft.streaming.SessionEvent]
    val q = graft.streaming.SessionState.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("session_sink")
      .outputMode("append").start()
    try {
      // two in-order triggers, then a far-future sentinel advances the
      // watermark past every last+gap so event-time timeouts flush the
      // still-open sessions
      val (a, b) = events.splitAt(events.length / 2)
      stream.addData(a.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(b.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(graft.streaming.SessionEvent(-1L,
        new java.sql.Timestamp(maxTs + 10L * graft.streaming.SessionState.gapMs),
        "view"))
      q.processAllAvailable()
      stream.addData(graft.streaming.SessionEvent(-1L,
        new java.sql.Timestamp(maxTs + 20L * graft.streaming.SessionState.gapMs),
        "view"))
      q.processAllAvailable()
      val streamed = spark.table("session_sink")
        .filter(col("user_id") >= 0)
        .orderBy("user_id", "session_start").collect()
      val batch = graft.operators.Relational.userSessions(spark, dir)
        .orderBy("user_id", "session_start").collect()
      assert(streamed.length === batch.length && batch.length > 0)
      streamed.zip(batch).foreach { case (s, bt) =>
        assert(s.toSeq === bt.toSeq, s"stream $s vs batch $bt")
      }
    } finally q.stop()
  }

  test("heavy hitters (space-saving, KeyedFold): exact when " +
      "capacity covers the keys; guarantees hold when it does not") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{HeavyHitters, HhEvent}
    withConf(rocksDbStore) {
      // skewed stream: user u appears (u+1)·5 times for u in 0..9 —
      // 10 distinct users over 4 shards; capacity 8 ≥ any shard's keys
      val events = (0L until 10L).flatMap(u =>
        Seq.fill(((u + 1) * 5).toInt)(HhEvent(u)))
      val truth = events.groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      val stream = MemoryStream[HhEvent]
      val q = HeavyHitters.track(stream.toDS()).writeStream
        .format("memory").queryName("hh_sink").outputMode("append").start()
      try {
        // two triggers: state must carry counts across them
        val (a, b) = events.splitAt(events.size / 2)
        stream.addData(a: _*); q.processAllAvailable()
        stream.addData(b: _*); q.processAllAvailable()
        // newest estimate per user = max est_count across emissions
        val est = spark.table("hh_sink").collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
          .groupBy(_._1).view.mapValues(_.maxBy(_._2)).toMap
        truth.foreach { case (u, n) =>
          val (_, e, err) = est(u)
          assert(e === n, s"capacity covers all keys → exact count for $u")
          assert(err === 0L)
        }
      } finally q.stop()
    }
    // over-capacity batch-mode check: same operator body, no store —
    // 20 distinct keys on 4 shards with capacity 2 forces evictions;
    // space-saving invariants: est ≥ true and est − err ≤ true
    import spark.implicits._
    val skew = ((0L until 20L).flatMap(u => Seq.fill(3)(HhEvent(u))) ++
      Seq.fill(50)(HhEvent(100L))).toDS()
    val out = HeavyHitters.track(skew, cap = 2).collect()
    val byUser = out.groupBy(_.user_id).view
      .mapValues(_.maxBy(_.est_count)).toMap
    // the one true heavy hitter must be tracked, with a sane estimate
    val hh = byUser(100L)
    assert(hh.est_count >= 50L, "est must upper-bound the true count")
    assert(hh.est_count - hh.max_err <= 50L,
      "est − err must lower-bound the true count")
  }

  test("heavy hitters property: on seeded zipf-ish random streams the " +
      "space-saving bounds hold for every tracked key and no key above " +
      "the N/m guarantee threshold is missed") {
    import graft.streaming.{HeavyHitters, HhEvent}
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      // zipf-ish: key k with probability ∝ 1/(k+1)
      val events = (1 to 800).map { _ =>
        val r = rnd.nextDouble()
        val k = math.min((1.0 / (1.0 - r) - 1.0).toInt, 30)
        HhEvent(k.toLong)
      }
      val truth = events.groupBy(_.user_id).view
        .mapValues(_.size.toLong).toMap
      val out = HeavyHitters.track(events.toDS(), cap = 4).collect()
        .groupBy(_.user_id).view.mapValues(_.maxBy(_.est_count)).toMap
      out.foreach { case (u, row) =>
        val t = truth(u)
        assert(row.est_count >= t,
          s"trial $trial key $u: est ${row.est_count} < true $t")
        assert(row.est_count - row.max_err <= t,
          s"trial $trial key $u: est−err exceeds true")
      }
      // guarantee: per shard, any key with true count > N_shard/cap
      // is tracked in the final summary
      val shards = events.groupBy(e =>
        math.floorMod(e.user_id, HeavyHitters.shards.toLong))
      shards.foreach { case (_, evs) =>
        val n = evs.size
        evs.groupBy(_.user_id).foreach { case (u, es) =>
          if (es.size > n / 4)
            assert(out.contains(u),
              s"trial $trial: key $u above N/m must be tracked")
        }
      }
    }
  }

  test("DSIR streaming scoring: the literal-model projection on a " +
      "stream is bit-identical to the batch scoreAgainst") {
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "alpha alpha beta", "en"), (2L, "omega omega", "es"),
        (3L, "alpha beta gamma", "en"))
      .map { case (i, t, l) => (i, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val weights = graft.operators.Curation.dsirWeights(ref)
    val model = weights.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val scoreMe = Seq(10L -> "alpha beta", 11L -> "omega gamma omega")
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.Curation
      .dsirScoreWithModel(stream.toDF.toDF("doc_id", "text"), model)
      .writeStream.format("memory").queryName("dsir_sink")
      .outputMode("append").start()
    try {
      stream.addData(scoreMe: _*)
      q.processAllAvailable()
      val got = spark.table("dsir_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val batch = graft.operators.Curation.dsirScoreAgainst(
          scoreMe.toDF("doc_id", "text"), weights).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got === batch)
      assert(got.size === 2)
      // directional sanity: the all-target-vocab doc scores higher
      val byId = got.map(x => x._1 -> x._3).toMap
      assert(byId(10L) > byId(11L))
    } finally q.stop()
  }
}
