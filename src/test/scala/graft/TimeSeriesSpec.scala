package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** Properties of the time-series resample/smooth operators on literal
  * bar frames (synthetic, so edge shapes — gaps, leading edge, perfect
  * correlation — are constructed, not hoped for in the sf data). */
class TimeSeriesSpec extends SparkSpec {
  import spark.implicits._

  private def t(min: Int) =
    new Timestamp(Timestamp.valueOf("2024-03-01 00:00:00").getTime +
      min * 60000L)

  /** bars(ticker, bucket, close) on a 5-minute grid. */
  private def bars(rows: (String, Int, Double)*) =
    rows.map { case (tk, m, c) => (tk, t(m), c) }
      .toDF("ticker", "bucket", "close")

  test("gapfillBars: spine is dense per ticker, gaps carry the previous " +
      "close forward and are flagged") {
    val out = TimeSeries.gapfillBars(
      bars(("A", 0, 1.0), ("A", 15, 2.0), ("B", 5, 9.0)))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getBoolean(3)))
    val a = out.filter(_._1 == "A").sortBy(_._2.getTime)
    // dense 5-min spine 0..15 for A
    assert(a.map(_._2) === Seq(t(0), t(5), t(10), t(15)))
    // forward fill: the two gap buckets carry 1.0; real bars keep theirs
    assert(a.map(x => (x._3, x._4)) ===
      Seq((1.0, false), (1.0, true), (1.0, true), (2.0, false)))
    // B has a single bucket → no gaps
    assert(out.filter(_._1 == "B").toSeq === Seq(("B", t(5), 9.0, false)))
  }

  test("ewmaBars: first row equals its close (renormalized partial " +
      "kernel), constant series is a fixed point, and values stay " +
      "inside the trailing-window hull") {
    val cs = Seq(10.0, 12.0, 8.0, 11.0, 11.5, 9.0, 10.5, 10.0)
    val out = TimeSeries.ewmaBars(
      bars(cs.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        (0 until 20).map(i => ("C", i * 5, 7.0)): _*))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2),
        r.getDouble(3)))
    val a = out.filter(_._1 == "A").sortBy(_._2.getTime)
    assert(a.head._4 === a.head._3) // single-term kernel = the close
    // every EWMA lies within [min, max] of the closes seen so far
    a.zipWithIndex.foreach { case ((_, _, _, e), i) =>
      val seen = cs.take(i + 1).takeRight(12)
      assert(e >= seen.min - 1e-9 && e <= seen.max + 1e-9)
    }
    // constant series: EWMA is exactly the constant at every row
    assert(out.filter(_._1 == "C").forall(_._4 === 7.0))
  }

  test("corrPairsBars: proportional returns correlate to 1, " +
      "anti-proportional to -1") {
    // two-valued anti-phase return sequences are exact affine transforms
    // of each other (slope −1), so the correlations are exactly ±1
    val ap = Seq(100.0, 200.0, 100.0, 200.0, 100.0)
    val dp = Seq(200.0, 100.0, 200.0, 100.0, 200.0)
    val a = ap.zipWithIndex.map { case (c, i) => ("A", i * 5, c) }
    val u = ap.zipWithIndex.map { case (c, i) => ("U", i * 5, 2 * c) }
    val d = dp.zipWithIndex.map { case (c, i) => ("D", i * 5, c) }
    val out = TimeSeries.corrPairsBars(bars(a ++ u ++ d: _*))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    assert(out(("A", "U")) === ((4L, 1.0)))
    assert(out(("A", "D")) === ((4L, -1.0)))
    assert(out.size === 3) // strict upper triangle of 3 tickers
  }

  test("streaming gap-fill (flatMapGroupsWithState) equals the batch " +
      "dense-spine + forward-fill query on real data") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val barsDf = TimeSeries.closeBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    val barRows = barsDf.as[graft.streaming.BarEvent]
      .collect().sortBy(_.bucket.getTime)
    val stream = MemoryStream[graft.streaming.BarEvent]
    val q = graft.streaming.GapfillState.gapfill(stream.toDS())
      .writeStream.format("memory").queryName("gapfill_sink")
      .outputMode("append").start()
    try {
      val (a, b) = barRows.splitAt(barRows.length / 2)
      stream.addData(a.toIndexedSeq)
      q.processAllAvailable()
      stream.addData(b.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("gapfill_sink")
        .orderBy("ticker", "bucket").collect()
      val batch = TimeSeries.gapfillBars(barsDf)
        .orderBy("ticker", "bucket").collect()
      assert(streamed.length === batch.length && batch.length > 0)
      streamed.zip(batch).foreach { case (s, bt) =>
        assert(s.toSeq === bt.toSeq, s"stream $s vs batch $bt")
      }
    } finally q.stop()
  }

  test("rsiBars: leading row is NULL, pure uptrend pins 100, pure " +
      "downtrend pins 0, balanced alternation gives 50") {
    val up = (0 until 6).map(i => ("UP", i * 5, 10.0 + i))
    val down = (0 until 6).map(i => ("DN", i * 5, 20.0 - i))
    // +1 / −1 alternating diffs, equal gain and loss mass
    val alt = (0 until 7).map(i => ("ALT", i * 5, 10.0 + (i % 2)))
    val out = TimeSeries.rsiBars(bars(up ++ down ++ alt: _*))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    out.groupBy(_._1).foreach { case (tk, rows) =>
      val sorted = rows.sortBy(_._2.getTime)
      assert(sorted.head._3.isEmpty, s"$tk: first row has no diff → NULL")
      val rest = sorted.tail.flatMap(_._3)
      tk match {
        case "UP" => assert(rest.forall(_ === 100.0))
        case "DN" => assert(rest.forall(_ === 0.0))
        case "ALT" =>
          // with an EVEN number of alternating ±1 diffs in the window
          // the gain and loss masses tie exactly → RSI 50
          sorted.zipWithIndex.foreach { case ((_, _, v), i) =>
            if (i >= 2 && i % 2 == 0)
              assert(v.contains(50.0), s"row $i: $v")
          }
      }
    }
  }

  test("bollingerBars: first row has no bands (n=1), constant series " +
      "collapses the bands onto the mid, and the mid tracks the " +
      "trailing mean") {
    val cs = Seq(10.0, 12.0, 8.0, 11.0)
    val out = TimeSeries.bollingerBars(
      bars(cs.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        (0 until 5).map(i => ("C", i * 5, 4.0)): _*))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5))))
    val a = out.filter(_._1 == "A").sortBy(_._2.getTime)
    assert(a.head._4.isEmpty && a.head._5.isEmpty, "n=1 → no bands")
    assert(a.head._3 === 10.0) // mid of one bar = the bar
    // mid at row i = mean of the first i+1 closes (span not yet full)
    a.zipWithIndex.foreach { case ((_, _, mid, _, _), i) =>
      val exp = cs.take(i + 1).sum / (i + 1)
      assert(math.abs(mid - exp) < 1e-6, s"row $i: $mid vs $exp")
    }
    // constant series: σ = 0 → both bands equal the mid
    out.filter(_._1 == "C").drop(1).foreach { r =>
      assert(r._4.contains(r._3) && r._5.contains(r._3))
    }
  }

  test("obvBars: volume adds on up-bars, subtracts on down-bars, flat " +
      "and first bars contribute nothing") {
    import spark.implicits._
    val in = Seq(
      ("A", t(0), 10.0, 100L), ("A", t(5), 11.0, 50L), // up: +50
      ("A", t(10), 11.0, 70L),                          // flat: +0
      ("A", t(15), 9.0, 30L),                           // down: −30
      ("A", t(20), 12.0, 5L))                           // up: +5
      .toDF("ticker", "bucket", "close", "volume")
    val out = graft.operators.TimeSeries.obvBars(in).collect()
      .map(r => (r.getTimestamp(1), r.getLong(4))).sortBy(_._1.getTime)
    assert(out.map(_._2).toSeq === Seq(0L, 50L, 50L, 20L, 25L))
  }

  test("vwap on sf0.001: every bar's VWAP lies within that bar's price " +
      "range and volumes are positive") {
    val dir = "/root/testdata/sf0.001"
    val stock = graft.operators.StockPipeline.normalize(
      graft.sources.Tables.events(spark, dir))
    val ranges = stock
      .groupBy(col("ticker"),
        timestamp_seconds(expr("unix_timestamp(ts) div 300") * 300)
          .as("bucket"))
      .agg(min("price").as("lo"), max("price").as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val out = TimeSeries.vwap(spark, dir).collect()
    assert(out.nonEmpty)
    var nPriced = 0
    out.foreach { r =>
      assert(r.getLong(2) >= 0)
      if (r.getLong(2) == 0) assert(r.isNullAt(3),
        "zero-volume bar must have no VWAP")
      else {
        val (lo, hi) = ranges((r.getString(0), r.getTimestamp(1)))
        val v = r.getDouble(3)
        assert(v >= lo - 1e-6 && v <= hi + 1e-6,
          s"vwap $v outside [$lo, $hi]")
        nPriced += 1
      }
    }
    assert(nPriced > 0)
  }

  test("streaming candle patterns (flatMapGroupsWithState) equal the " +
      "batch lag-window flags on real data, across trigger boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val ohlc = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
      .select("ticker", "window_timestamp", "open", "high", "low", "close")
    val barRows = ohlc.as[graft.streaming.OhlcBar]
      .collect().sortBy(_.window_timestamp.getTime)
    val stream = MemoryStream[graft.streaming.OhlcBar]
    val q = graft.streaming.CandleState.patterns(stream.toDS())
      .writeStream.format("memory").queryName("candle_sink")
      .outputMode("append").start()
    try {
      barRows.grouped(math.max(barRows.length / 3, 1)).foreach { chunk =>
        stream.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = spark.table("candle_sink")
        .orderBy("ticker", "window_timestamp").collect()
      val batch = graft.operators.TimeSeries.candlePatternsOn(ohlc)
        .collect()
      assert(streamed.length === batch.length && batch.length > 0)
      streamed.zip(batch).foreach { case (s, bt) =>
        assert(s.toSeq === bt.toSeq, s"stream $s vs batch $bt")
      }
    } finally q.stop()
  }

  test("candlePatternsOn: doji needs a small body, engulfing needs a " +
      "direction flip with the previous body contained; first bar " +
      "never engulfs") {
    import spark.implicits._
    def bar(m: Int, o: Double, h: Double, l: Double, c: Double) =
      ("A", t(m), o, h, l, c)
    val ohlc = Seq(
      bar(0, 10.0, 11.0, 9.0, 10.05),  // body 0.05 ≤ 0.1·2 → doji
      bar(5, 10.5, 11.0, 10.0, 10.2),  // down bar, body 0.3 > 0.1·1
      bar(10, 10.1, 11.5, 9.9, 11.0),  // up, engulfs [10.2, 10.5] → bull
      bar(15, 11.2, 11.6, 10.0, 10.05),// down, engulfs [10.1, 11.0] → bear
      bar(20, 7.0, 7.0, 7.0, 7.0))     // zero range → doji
      .toDF("ticker", "window_timestamp", "open", "high", "low", "close")
    val out = graft.operators.TimeSeries.candlePatternsOn(ohlc)
      .collect()
      .map(r => (r.getTimestamp(1), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8))).sortBy(_._1.getTime)
    assert(out.map(x => (x._2, x._3, x._4)).toSeq === Seq(
      (true, false, false),   // doji, no previous bar → no engulfing
      (false, false, false),
      (false, true, false),   // bullish engulfing
      (false, false, true),   // bearish engulfing
      (true, false, false)))  // flat bar counts as doji
  }

  test("macdBars: constant series pins macd/signal/hist to 0; a steady " +
      "uptrend turns macd positive once the fast kernel leads the slow") {
    val out = TimeSeries.macdBars(
      bars((0 until 40).map(i => ("C", i * 5, 5.0)) ++
        (0 until 40).map(i => ("U", i * 5, 10.0 + i)): _*))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    // constant close: fast = slow = const → macd 0, signal 0, hist 0
    out.filter(_._1 == "C").foreach { case (_, _, m, s, h) =>
      assert(m === 0.0 && s === 0.0 && h === 0.0)
    }
    val u = out.filter(_._1 == "U").sortBy(_._2.getTime)
    // steady uptrend: beyond the warm-up the fast EWMA tracks price
    // more closely than the slow one → macd strictly positive
    u.drop(26).foreach { case (_, _, m, _, _) => assert(m > 0.0) }
    // histogram is macd − signal within rounding at every row
    u.foreach { case (_, _, m, s, h) => assert(math.abs(h - (m - s)) < 2e-6) }
  }

  test("stochasticOhlc: close at the window high gives %K=100, at the " +
      "low gives 0, flat windows give NULL, %D averages trailing %K") {
    val ohlc = Seq(
      // ticker, minute, high, low, close
      ("A", 0, 12.0, 8.0, 12.0),  // close == hh → 100
      ("A", 5, 12.0, 6.0, 6.0),   // close == ll → 0
      ("A", 10, 12.0, 6.0, 9.0),  // midpoint of [6, 12] → 50
      ("F", 0, 5.0, 5.0, 5.0))    // flat window → NULL %K
      .map { case (tk, m, h, l, c) => (tk, t(m), h, l, c) }
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.stochasticOhlc(ohlc).collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val a = out.filter(_._1 == "A").sortBy(_._2.getTime)
    assert(a.map(_._3) === Seq(Some(100.0), Some(0.0), Some(50.0)))
    // %D: running mean of the non-null %K values seen in the last 3 bars
    assert(a.map(_._4) === Seq(Some(100.0), Some(50.0), Some(50.0)))
    // flat window: %K NULL, %D averages zero non-null terms → NULL
    assert(out.filter(_._1 == "F").map(x => (x._3, x._4)).toSeq ===
      Seq((None, None)))
  }

  test("atrOhlc: first bar's TR is its range, gaps widen TR to the " +
      "prev-close distance, ATR is the running mean of TRs") {
    val ohlc = Seq(
      // ticker, minute, high, low, close
      ("A", 0, 12.0, 8.0, 10.0),   // TR = 4 (range; no prev close)
      ("A", 5, 11.0, 10.5, 11.0),  // gap up: TR = max(.5, 1, .5) = 1
      ("A", 10, 20.0, 19.0, 19.5)) // big gap: TR = max(1, 9, 8) = 9
      .map { case (tk, m, h, l, c) => (tk, t(m), h, l, c) }
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.atrOhlc(ohlc).collect()
      .map(r => (r.getTimestamp(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1.getTime)
    assert(out.map(_._2).toSeq === Seq(4.0, 1.0, 9.0))
    // running means: 4, (4+1)/2, (4+1+9)/3
    assert(out.map(_._3).toSeq.zip(Seq(4.0, 2.5, 14.0 / 3)).forall {
      case (a, e) => math.abs(a - e) < 1e-6
    })
  }

  test("rollingCorrBars: perfectly correlated series pin +1, " +
      "anti-correlated pin -1, and the leading edge yields NULL") {
    // A and B move identically; C moves exactly opposite (its close is
    // 250 − base, so its returns flip sign against the A/B series)
    def closes(tk: String, up: Boolean) =
      (0 until 30).map { i =>
        val base = if (i % 2 == 0) 100.0 else 150.0
        (tk, i * 5, if (up) base else 250.0 - base)
      }
    val out = TimeSeries.rollingCorrBars(
      bars(closes("A", up = true) ++ closes("B", up = true) ++
        closes("C", up = false): _*))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    val ab = out.filter(_._1 == (("A", "B")))
    assert(ab.nonEmpty)
    // first joint observation: n=1 → NULL; steady state: corr +1
    assert(ab.head._3 === None)
    assert(ab.last._2 === 20L)
    assert(math.abs(ab.last._3.get - 1.0) < 2e-6)
    val bc = out.filter(_._1 == (("B", "C")))
    assert(math.abs(bc.last._3.get - (-1.0)) < 2e-6)
  }

  test("streaks: hand-built runs — flat bars break streaks, counts " +
      "and maxima match") {
    // closes: up up up flat down down up → runs: +3, -2, +1
    val cs = Seq(10.0, 11.0, 12.0, 13.0, 13.0, 12.0, 11.0, 12.0)
    val out = TimeSeries.streaks(spark, "/root/testdata/sf0.001")
    assert(out.columns.toSeq === Seq("ticker", "max_up_streak",
      "max_down_streak", "n_up_moves", "n_down_moves"))
    // literal-frame check through the same expression pieces
    val bars2 = cs.zipWithIndex.map { case (c, i) => ("A", i * 5, c) }
    val df = bars(bars2: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker")).orderBy(col("bucket"))
    val prev = lag(col("close"), 1).over(w)
    val signed = df.select(col("ticker"), col("bucket"),
      when(prev.isNull, 0).when(col("close") > prev, 1)
        .when(col("close") < prev, -1).otherwise(0).as("sgn"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ticker"), col("sgn")).orderBy(col("bucket"))
    val runs = signed
      .withColumn("grp", row_number().over(w) - row_number().over(ws))
      .filter(col("sgn") =!= 0)
      .groupBy(col("sgn"), col("grp")).count().collect()
      .map(r => (r.getInt(0), r.getLong(2)))
    assert(runs.filter(_._1 == 1).map(_._2).sorted.toSeq === Seq(1L, 3L))
    assert(runs.filter(_._1 == -1).map(_._2).toSeq === Seq(2L))
  }

  test("sharpe on sf0.001: sortino magnitude ≥ sharpe when the mean " +
      "is positive (downside deviation ≤ total), both finite") {
    val out = TimeSeries.sharpe(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.nonEmpty)
    out.foreach { case (_, mean, sh, so) =>
      (sh, so) match {
        case (Some(a), Some(b)) =>
          assert(!a.isNaN && !b.isNaN)
          // downside deviation ≤ total deviation → |sortino| ≥ |sharpe|
          // (same sign as the mean)
          if (mean > 0) assert(b >= a - 1e-9)
        case _ => ()
      }
    }
  }

  test("beta on sf0.001: betas are finite, the equal-weight portfolio " +
      "of betas weighted by observations stays near 1") {
    val out = TimeSeries.beta(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.nonEmpty)
    val defined = out.flatMap(x => x._3.map(b => (x._2, b)))
    assert(defined.nonEmpty)
    defined.foreach { case (_, b) => assert(!b.isNaN && math.abs(b) < 50) }
    // when every ticker trades every bucket, mean beta = 1 exactly;
    // with ragged coverage it stays near 1
    val meanBeta = defined.map(_._2).sum / defined.size
    assert(meanBeta > 0.2 && meanBeta < 2.0, s"mean beta $meanBeta")
  }

  test("intradayProfile on sf0.001: hours in 0..23, counts sum to the " +
      "normalized feed, vwap inside each hour's price hull") {
    val dir = "/root/testdata/sf0.001"
    val out = TimeSeries.intradayProfile(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.nonEmpty)
    out.foreach { case (_, h, _, _, _) => assert(h >= 0 && h <= 23) }
    val stock = graft.operators.StockPipeline.normalize(
      graft.sources.Tables.events(spark, dir))
    assert(out.map(_._3).sum === stock.count())
    // hull check for one bucket
    val (tk, h, _, _, Some(vw)) = out.find(_._5.isDefined).get
    val prices = stock.filter(col("ticker") === tk &&
        hour(col("ts")) === h)
      .select("price").collect().map(_.getDouble(0))
    assert(vw >= prices.min - 1e-6 && vw <= prices.max + 1e-6)
  }

  test("varEs on sf0.001: the 5% quantile brackets ~5% of returns, " +
      "ES is the tail mean and never exceeds VaR") {
    val out = TimeSeries.varEs(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.nonEmpty)
    out.filter(_._3.isDefined).foreach {
      case (_, n, Some(v5), Some(nt), Some(es)) =>
        assert(es <= v5 + 1e-9, "tail mean cannot exceed its cutoff")
        // the tail holds at least the 5% mass (ties can add more)
        assert(nt >= (0.05 * n - 1).toLong && nt <= n / 2)
      case _ => ()
    }
    assert(out.exists(_._3.isDefined), "sf data has ≥20-return tickers")
  }

  test("jumpBars: a constant-|return| diffusion has BV = (pi/2)*RV " +
      "shape with jump share clamped at 0; one spike bar raises the " +
      "share strictly above 0") {
    // returns alternate +1.0 / -0.5: rv = 4*1 + 4*0.25 = 5 while
    // bv = (pi/2) * 7 * 0.5 ~ 5.50 > rv -> share clamps to exactly 0
    val alt = (0 until 9).map(i =>
      ("A", i * 5, if (i % 2 == 0) 64.0 else 128.0))
    // B: tiny diffusion + one huge jump return
    val spike = Seq(("B", 0, 100.0), ("B", 5, 101.0), ("B", 10, 100.0),
      ("B", 15, 101.0), ("B", 20, 300.0), ("B", 25, 301.0),
      ("B", 30, 300.0))
    val out = TimeSeries.jumpBars(bars((alt ++ spike): _*)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    val (nA, rvA, bvA, jsA) = out("A")
    assert(nA === 8L)
    assert(jsA === 0.0, "clamped at zero when BV >= RV")
    assert(bvA > rvA)
    val (_, rvB, bvB, jsB) = out("B")
    assert(jsB > 0.5, s"jump must dominate: share $jsB")
    assert(bvB < rvB)
  }

  test("acfBars: an alternating series has ACF -1 at odd lags and " +
      "+1 at even lags; pair counts shrink by one per lag") {
    // closes 64,128,64,... -> returns alternate +1, -0.5? No: ratios
    // are exactly 2 and 0.5 -> returns +1.0 and -0.5 alternating;
    // perfectly anticorrelated at lag 1, perfectly correlated at lag 2
    val alt = (0 until 12).map(i =>
      ("A", i * 5, if (i % 2 == 0) 64.0 else 128.0))
    val out = TimeSeries.acfBars(bars(alt: _*)).collect()
      .map(r => r.getLong(1) -> (r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L))
    // 11 returns -> lag k leaves 11 - k pairs
    (1L to 5L).foreach(k => assert(out(k)._1 === 11L - k))
    assert(out(1L)._2 === Some(-1.0) && out(3L)._2 === Some(-1.0))
    assert(out(2L)._2 === Some(1.0) && out(4L)._2 === Some(1.0))
  }

  test("rollSpreadBars: bouncing closes give the exact implied " +
      "spread; a trending series has non-negative autocovariance " +
      "and yields NULL") {
    val bounce = (0 until 5).map(i =>
      ("A", i * 5, if (i % 2 == 0) 100.0 else 101.0))
    val trend = (0 until 5).map(i => ("B", i * 5, 100.0 + i))
    val out = TimeSeries.rollSpreadBars(bars((bounce ++ trend): _*))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // A: dx = +1,-1,+1,-1 -> 3 lagged pairs, cov = -1 - (-1/3)(1/3)
    val (nA, covA, rollA) = out("A")
    assert(nA === 3L)
    val cov = -3.0 / 3 - (-1.0 / 3) * (1.0 / 3)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(covA === r6(cov))
    assert(rollA === Some(r6(2.0 * math.sqrt(-cov))))
    val (nB, covB, rollB) = out("B")
    assert(nB === 3L && covB === 0.0 && rollB === None)
  }

  test("streaming OBV (KeyedFold) is exactly identical to " +
      "the batch running-window kernel across split triggers " +
      "(all-integer flow)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ObvBarRow, ObvState}
    val dir = "/root/testdata/sf0.001"
    val barsDf = graft.operators.TimeSeries.closeVolBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = barsDf.as[ObvBarRow].collect().sortBy(_.bucket.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ObvBarRow]
      val q = ObvState.attach(stream.toDS()).writeStream
        .format("memory").queryName("obv_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("obv_tws_sink")
          .orderBy("ticker", "bucket").collect()
        val batch = graft.operators.TimeSeries.obvBars(barsDf)
          .orderBy("ticker", "bucket").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("realizedKernelBars: a bouncing series' negative lag-1 " +
      "autocovariance pulls RK below RV (the bounce correction), " +
      "matching direct decimal-grid recomputation exactly") {
    // closes 100, 101, 100, 101, ... -> returns alternate +1/100,
    // -1/101: strong negative lag-1 autocorrelation (pure bounce)
    val a = (0 until 12).map(i =>
      ("A", i * 5, if (i % 2 == 0) 100.0 else 101.0))
    // single-return ticker: all lagged sums NULL -> coalesce-0 path
    val b = (0 until 2).map(i => ("B", i * 5, 100.0 + i))
    val out = TimeSeries.realizedKernelBars(bars((a ++ b): _*))
      .collect().map(r => r.getString(0) -> r).toMap
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def rN(x: Double, n: Int) =
      BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble
    // mirror of the engine math on ticker A
    val rets = (1 until 12).map { i =>
      val (p, c) = (if ((i - 1) % 2 == 0) 100.0 else 101.0,
        if (i % 2 == 0) 100.0 else 101.0)
      c / p - 1
    }
    val g0 = rets.map(r => g18(r * r)).sum.toDouble
    val gs = (1 to TimeSeries.RkLags).map { h =>
      rets.drop(h).zip(rets).map { case (r, rl) => g18(r * rl) }
        .sum.toDouble
    }
    val rk = (1 to TimeSeries.RkLags).foldLeft(g0) { (acc, h) =>
      acc + TimeSeries.rkWeight2(h) * gs(h - 1)
    }
    val rowA = out("A")
    assert(rowA.getLong(1) === 11L)
    assert(rowA.getDouble(2) === rN(g0, 6))
    assert(rowA.getDouble(3) === rN(rk, 6))
    assert(rowA.getDouble(4) === rN(rk / g0, 6))
    assert(rk < g0, "bounce must pull RK below RV")
    // B: one return, every gamma_h NULL -> rk falls back to g0 via
    // the coalesce-0 terms, ratio exactly 1
    val rowB = out("B")
    assert(rowB.getLong(1) === 1L)
    assert(rowB.getDouble(2) === rowB.getDouble(3))
    assert(rowB.getDouble(4) === 1.0)
  }

  test("donchianOhlc: monotone highs/lows make the channel the " +
      "running extremes and the midpoint exactly zero") {
    val ohlc = (0 until 25).map(i =>
      ("A", i, i.toDouble, -i.toDouble, 0.0))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.donchianOhlc(ohlc).collect()
    assert(out.length === 25)
    out.foreach { r =>
      val i = r.getInt(1)
      assert(r.getDouble(3) === i.toDouble, s"dc_up at $i")
      assert(r.getDouble(4) === -i.toDouble, s"dc_dn at $i")
      assert(r.getDouble(5) === 0.0, s"dc_mid at $i")
    }
    // past the span the channel must FORGET old extremes: descending
    // highs after bar 24 would shrink dc_up — checked via a second
    // ticker whose high spikes once then flattens
    val spike = (0 until 25).map(i =>
      ("B", i, if (i == 0) 100.0 else 1.0, 0.0, 0.5))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val o2 = TimeSeries.donchianOhlc(spike).collect()
    assert(o2.find(_.getInt(1) == 10).get.getDouble(3) === 100.0)
    assert(o2.find(_.getInt(1) == 24).get.getDouble(3) === 1.0,
      "bar-0 spike must age out of the 20-bar channel")
  }

  test("adxOhlc: a steady up-trend pins +DI = 100, -DI = 0, DX = 100 " +
      "and ADX = 100 once a DX exists; the first bar is NULL-tier") {
    val ohlc = (0 until 20).map(i =>
      ("A", i, 10.0 + i, 9.0 + i, 9.5 + i))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.adxOhlc(ohlc).collect().sortBy(_.getInt(1))
    // bar 0: no prior bar -> all chains empty -> every tier NULL
    assert(out.head.isNullAt(2) && out.head.isNullAt(4) &&
      out.head.isNullAt(5))
    // every later bar: +DM = 1 but TR = 1.5 per pair (the |high −
    // prev close| gap term beats the intrabar range) -> +DI is the
    // constant 100/1.5 at every chain length, −DI = 0, DX/ADX = 100
    val pdi = BigDecimal(100.0 * 1.0 / 1.5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.tail.foreach { r =>
      assert(r.getDouble(2) === pdi, s"plus_di at ${r.getInt(1)}")
      assert(r.getDouble(3) === 0.0, s"minus_di at ${r.getInt(1)}")
      assert(r.getDouble(4) === 100.0, s"dx at ${r.getInt(1)}")
      assert(r.getDouble(5) === 100.0, s"adx at ${r.getInt(1)}")
    }
  }

  test("keltnerOhlc: constant bars collapse the channel onto the " +
      "close ± 2×range; the first bar has NULL bands") {
    // constant H/L/C: EMA mid = close = 10; TR = H−L = 2 on every
    // bar past the first (the |gap| terms equal the range), so
    // up/dn = 10 ± 4
    val ohlc = (0 until 30).map(i => ("A", i, 11.0, 9.0, 10.0))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.keltnerOhlc(ohlc).collect().sortBy(_.getInt(1))
    assert(out.head.isNullAt(4) && out.head.isNullAt(5),
      "first bar: no TR yet -> NULL bands")
    out.foreach(r => assert(r.getDouble(3) === 10.0,
      s"kc_mid at ${r.getInt(1)}"))
    out.tail.foreach { r =>
      assert(r.getDouble(4) === 14.0, s"kc_up at ${r.getInt(1)}")
      assert(r.getDouble(5) === 6.0, s"kc_dn at ${r.getInt(1)}")
    }
  }

  test("cciOhlc: a constant-tp window yields NULL CCI (zero mean " +
      "deviation); an alternating tp series scores ±100·(2/3)/0.015") {
    val flat = (0 until 25).map(i => ("A", i, 12.0, 8.0, 10.0))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.cciOhlc(flat).collect()
    out.foreach { r =>
      assert(r.getDouble(2) === 10.0)
      assert(r.getDouble(3) === 10.0)
      assert(r.getDouble(4) === 0.0)
      assert(r.isNullAt(5), "flat tp -> zero mean dev -> NULL CCI")
    }
    // tp alternates 9/11 -> at even counts sma = 10, md = 1,
    // cci = ±1/0.015 = ±66.666667
    val alt = (0 until 40).map(i =>
      ("B", i, if (i % 2 == 0) 9.0 else 11.0))
      .toDF("ticker", "window_timestamp", "tp0")
      .selectExpr("ticker", "window_timestamp",
        "tp0 as high", "tp0 as low", "tp0 as close")
    val o2 = TimeSeries.cciOhlc(alt).collect().sortBy(_.getInt(1))
    val late = o2.drop(TimeSeries.CciSpan - 1) // full windows only
    late.foreach { r =>
      val expect = if (r.getInt(1) % 2 == 0) -66.666667 else 66.666667
      assert(r.getDouble(5) === expect, s"cci at ${r.getInt(1)}")
    }
  }

  test("williamsROhlc: close at the window high reads 0, at the low " +
      "reads -100; a flat window is NULL") {
    val ohlc = Seq(
      ("A", 0, 10.0, 5.0, 10.0),  // close = hh -> 0
      ("A", 1, 10.0, 5.0, 5.0),   // close = ll -> -100
      ("A", 2, 10.0, 5.0, 7.5),   // midpoint -> -50
      ("B", 0, 3.0, 3.0, 3.0))    // flat -> NULL
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.williamsROhlc(ohlc).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r).toMap
    assert(out(("A", 0)).getDouble(5) === 0.0)
    assert(out(("A", 1)).getDouble(5) === -100.0)
    assert(out(("A", 2)).getDouble(5) === -50.0)
    assert(out(("B", 0)).isNullAt(5))
  }

  test("aroonOhlc: a fresh high pins aroon_up = 100; an aging " +
      "extremum decays by 100/24 per bar; ties pick the most recent") {
    val n = 32 // bar 5's spike leaves the 25-bar window at bar 30
    // high spikes at bar 5 then decays; low constant (ties -> the
    // most RECENT bar attains the min, so aroon_dn stays 100)
    val ohlc = (0 until n).map(i =>
      ("A", i, if (i == 5) 50.0 else 10.0, 1.0, 5.0))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.aroonOhlc(ohlc).collect()
      .sortBy(_.getInt(1))
    assert(out(5).getInt(2) === 0, "spike bar: age 0")
    assert(out(5).getDouble(4) === 100.0)
    assert(out(10).getInt(2) === 5, "5 bars later: age 5")
    assert(out(10).getDouble(4) ===
      BigDecimal(100.0 * 19 / 24).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // past bar 5+24 the spike leaves the window; ties (all 10.0)
    // resolve to the most recent bar -> age 0 again
    assert(out(n - 1).getInt(2) === 0, "spike aged out, tie -> recent")
    out.foreach(r => assert(r.getInt(3) === 0 &&
      r.getDouble(5) === 100.0, "constant low: most-recent tie"))
  }

  test("vortexOhlc: a steady up-trend makes VI+ > 1 > VI-; the " +
      "ratios are exact on constant-increment bars") {
    val ohlc = (0 until 20).map(i =>
      ("A", i, 10.0 + i, 9.0 + i, 9.5 + i))
      .toDF("ticker", "window_timestamp", "high", "low", "close")
    val out = TimeSeries.vortexOhlc(ohlc).collect().sortBy(_.getInt(1))
    assert(out.head.isNullAt(2), "first bar: zero TR chain -> NULL")
    // per pair: VM+ = |10+i − (9+i−1)| = 2, VM− = |9+i − (10+i−1)| = 0,
    // TR = max(1, |10+i − (9.5+i−1)|, |9+i − 9.5−i+1|) = 1.5
    out.tail.foreach { r =>
      assert(r.getDouble(2) ===
        BigDecimal(2.0 / 1.5).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble,
        s"vi_plus at ${r.getInt(1)}")
      assert(r.getDouble(3) === 0.0, s"vi_minus at ${r.getInt(1)}")
    }
  }

  test("mfiOhlc: strictly rising tp pins MFI = 100, strictly falling " +
      "pins 0, constant tp yields NULL (zero flow both sides)") {
    def bars(t: String, f: Int => Double) = (0 until 20).map(i =>
      (t, i, f(i) + 1.0, f(i) - 1.0, f(i), 100L))
    val ohlc = (bars("UP", i => 10.0 + i) ++
      bars("DN", i => 50.0 - i) ++ bars("FLAT", _ => 10.0))
      .toDF("ticker", "window_timestamp", "high", "low", "close",
        "volume")
    val out = TimeSeries.mfiOhlc(ohlc).collect()
    out.filter(_.getString(0) == "UP").filter(_.getInt(1) > 0)
      .foreach(r => assert(r.getDouble(3) === 100.0))
    out.filter(_.getString(0) == "DN").filter(_.getInt(1) > 0)
      .foreach(r => assert(r.getDouble(3) === 0.0))
    out.filter(_.getString(0) == "FLAT")
      .foreach(r => assert(r.isNullAt(3)))
    // n_scored counts the bars with a prior bar, capped by the span
    assert(out.filter(_.getString(0) == "UP")
      .find(_.getInt(1) == 19).get.getLong(2) ===
      TimeSeries.MfiSpan.toLong)
  }

  test("streaming Donchian (KeyedFold) is bit-identical to " +
      "the batch greatest/least lag-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{DonchianState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = DonchianState.attach(stream.toDS()).writeStream
        .format("memory").queryName("donchian_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("donchian_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.donchianOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming ADX (transformWithState) is bit-identical to the " +
      "batch two-level Wilder chain across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{AdxState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = AdxState.attach(stream.toDS()).writeStream
        .format("memory").queryName("adx_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("adx_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.adxOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the NULL tiers must be exercised: every ticker's first bar is
        // NULL-DI on both sides
        assert(batch.exists(_.isNullAt(2)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming Williams %R (transformWithState) is bit-identical " +
      "to the batch frame-extreme kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{WilliamsState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = WilliamsState.attach(stream.toDS()).writeStream
        .format("memory").queryName("williams_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("williams_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.williamsROhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming MFI (transformWithState) is bit-identical to the " +
      "batch flow-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{MfiState, MfiBarRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close",
        "volume")
      .as[MfiBarRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MfiBarRow]
      val q = MfiState.attach(stream.toDS()).writeStream
        .format("memory").queryName("mfi_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("mfi_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.mfiOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the neither-side tier must be exercised on real bars: some
        // mid-stream MFI is NULL only if total flow is zero — instead
        // assert the warm-up tier: every ticker's first bar is NULL
        assert(batch.exists(_.isNullAt(3)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("tickRuleEvents: upticks buy, downticks sell, zero ticks carry " +
      "the last side, the leading run stays unclassified") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val ev = Seq(
      ("A", t(1), 10.0, 1L, 1L),   // first: unclassified
      ("A", t(2), 11.0, 2L, 2L),   // uptick -> buy
      ("A", t(3), 11.0, 4L, 3L),   // zero tick -> carries buy
      ("A", t(4), 10.0, 8L, 4L),   // downtick -> sell
      ("A", t(5), 10.0, 16L, 5L))  // zero tick -> carries sell
      .toDF("ticker", "ts", "price", "volume", "event_id")
    val out = TimeSeries.tickRuleEvents(ev).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(2) === 5L, "n_events")
    assert(r.getLong(3) === 6L, "buy_vol = 2+4")
    assert(r.getLong(4) === 24L, "sell_vol = 8+16")
    assert(r.getLong(5) === 1L, "unclassified_vol")
    assert(r.getDouble(6) === -0.6, "ofi = (6-24)/30")
  }

  test("streaming tick classification (KeyedFold) is identical to the " +
      "batch carry window across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{TickState, TickEventRow}
    import spark.implicits._
    // streams `chunks` one trigger each and checks every side against
    // the batch window over the same events
    def parity(events: org.apache.spark.sql.DataFrame,
        chunks: Seq[Seq[TickEventRow]]): Unit =
      withConf(rocksDbStore) {
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[TickEventRow]
        val q = TickState.attach(stream.toDS()).writeStream
          .format("memory").queryName("tick_tws_sink")
          .outputMode("append").start()
        try {
          chunks.foreach { c =>
            stream.addData(c: _*); q.processAllAvailable()
          }
          val streamed = spark.table("tick_tws_sink")
            .orderBy("ticker", "ts", "event_id").collect()
          val batch = graft.operators.TimeSeries.tickSides(events)
            .select("ticker", "ts", "event_id", "volume", "side")
            .orderBy("ticker", "ts", "event_id").collect()
          assert(streamed.length === batch.length && batch.nonEmpty)
          // both classification tiers must be live
          assert(batch.exists(_.isNullAt(4)), "no unclassified leading run")
          assert(batch.exists(r => !r.isNullAt(4)), "no classified events")
          streamed.zip(batch).foreach { case (s, b) =>
            assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
          }
        } finally q.stop()
      }
    val evDf = graft.operators.StockPipeline.normalize(
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
    val rows = evDf.select("ticker", "ts", "price", "volume", "event_id")
      .as[TickEventRow].collect()
      .sortBy(r => (r.ts.getTime, r.ts.getNanos, r.event_id))
    parity(evDf, rows.grouped(math.max(rows.length / 3, 1)).map(_.toSeq).toSeq)
    // two ticks in one millisecond, in event_id order but not in time
    // order: the fold must order them by microsecond, as the batch
    // window does. Tick 3 is an uptick from tick 1 (+1) but a downtick
    // from tick 2 (-1), so a millisecond order classifies it wrongly
    def tick(id: Long, ts: String, price: Double) = TickEventRow("A",
      Timestamp.valueOf(s"2024-01-01 $ts"), price, 1L, id)
    val sameMs = Seq(tick(1, "10:00:00.000000", 10.0),
      tick(2, "10:00:01.000900", 11.0), tick(3, "10:00:01.000100", 10.5))
    parity(sameMs.toDF(), Seq(sameMs))
  }

  test("volumeProfileEvents: buckets span min..max, shares sum to 1, " +
      "VPOC ties resolve to the lowest bucket, flat price -> bucket 0") {
    import java.sql.Timestamp
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    val ev = Seq(
      // A: prices 0..10 -> buckets 0..19; volume concentrated at the
      // bottom AND top equally -> VPOC tie resolves to bucket 0
      ("A", t(1), 0.0, 50L, 1L),    // bucket 0
      ("A", t(2), 10.0, 50L, 2L),   // bucket 19 (clamped)
      ("A", t(3), 5.0, 10L, 3L),    // bucket 10
      // B: constant price -> everything in bucket 0
      ("B", t(1), 7.0, 5L, 4L),
      ("B", t(2), 7.0, 5L, 5L))
      .toDF("ticker", "ts", "price", "volume", "event_id")
    val out = TimeSeries.volumeProfileEvents(ev).collect()
    val a = out.filter(_.getString(0) == "A")
      .map(r => r.getLong(1) -> r).toMap
    assert(a.keySet === Set(0L, 10L, 19L))
    assert(a(0L).getBoolean(7) === true, "tie -> lowest bucket is VPOC")
    assert(a(19L).getBoolean(7) === false)
    assert(a(0L).getDouble(6) ===
      BigDecimal(50.0 / 110.0).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    val b = out.filter(_.getString(0) == "B")
    assert(b.length === 1 && b.head.getLong(1) === 0L &&
      b.head.getBoolean(7) && b.head.getDouble(6) === 1.0)
  }

  test("streaming Vortex (transformWithState) is bit-identical to " +
      "the batch chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{VortexState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = VortexState.attach(stream.toDS()).writeStream
        .format("memory").queryName("vortex_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("vortex_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.vortexOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        assert(batch.exists(_.isNullAt(2)), "first-bar NULL tier missing")
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming CCI (transformWithState) is bit-identical to the " +
      "batch two-level mean-deviation chain across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CciState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = CciState.attach(stream.toDS()).writeStream
        .format("memory").queryName("cci_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("cci_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.cciOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming Keltner (transformWithState) is bit-identical to " +
      "the batch weighted-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{KeltnerState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = KeltnerState.attach(stream.toDS()).writeStream
        .format("memory").queryName("kelt_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("kelt_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.keltnerOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the zero-ATR-count edge: every ticker's first bar has NULL
        // bands on both sides
        assert(batch.exists(_.isNullAt(4)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("gkBars: hand-built OHLC bars match the closed-form estimators; " +
      "a flat bar contributes zero to both") {
    val ohlc = Seq(
      ("A", 100.0, 110.0, 95.0, 105.0),  // one real bar
      ("A", 105.0, 105.0, 105.0, 105.0), // flat bar: both terms 0
      ("B", 50.0, 55.0, 50.0, 50.0))     // close == open: GK first term only
      .toDF("ticker", "open", "high", "low", "close")
    val out = TimeSeries.gkBars(ohlc).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def g12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = 2 * math.log(2) - 1
    val p4 = 4 * math.log(2)
    def gkOf(o: Double, h: Double, l: Double, c: Double) =
      g12(0.5 * math.log(h / l) * math.log(h / l) -
        k * math.log(c / o) * math.log(c / o))
    def pkOf(h: Double, l: Double) =
      g12(math.log(h / l) * math.log(h / l) / p4)
    val (nA, gkA, pkA) = out("A")
    assert(nA === 2L)
    assert(gkA === r6((gkOf(100, 110, 95, 105) + gkOf(105, 105, 105, 105))
      .toDouble / 2))
    assert(pkA === r6((pkOf(110, 95) + pkOf(105, 105)).toDouble / 2))
    val (nB, gkB, pkB) = out("B")
    assert(nB === 1L)
    assert(gkB === r6(gkOf(50, 55, 50, 50).toDouble))
    assert(pkB === r6(pkOf(55, 50).toDouble))
  }

  test("rvSignatureTicks: per-frequency realized variance matches a " +
      "direct recomputation; a span shorter than the interval yields " +
      "no row for that frequency") {
    val ticks = (0 until 10).map(i => ("A", t(i), 100.0 + i, 1L))
      .toDF("ticker", "ts", "price", "volume")
    val out = TimeSeries.rvSignatureTicks(ticks).collect()
      .map(r => r.getLong(1) -> (r.getLong(2), r.getDouble(3))).toMap
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def rvOf(closes: Seq[Double]) = {
      val terms = closes.sliding(2).map { case Seq(a, b) =>
        val r = b / a - 1; g18(r * r) }.toSeq
      BigDecimal(terms.sum.toDouble)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // 1m closes 100..109; 5m closes 104 (last of 0-4), 109 (last of 5-9)
    assert(out(1L) === ((9L, rvOf((100 to 109).map(_.toDouble)))))
    assert(out(5L) === ((1L, rvOf(Seq(104.0, 109.0)))))
    assert(!out.contains(15L), "one 15m bucket -> no return -> no row")
  }

  test("amihudBars: hand-checkable two-bar series gives the exact " +
      "impact-per-dollar mean; zero-dollar-volume bars drop") {
    val stock = Seq(
      // bucket 0: close 100 (last event), dv = 50*10 + 100*5 = 1000
      ("A", t(0), 50.0, 10L), ("A", t(1), 100.0, 5L),
      // bucket 5m: close 110, dv = 110*20 = 2200 -> x = 0.1/2200
      ("A", t(5), 110.0, 20L),
      // bucket 10m: zero volume -> dv 0 -> ratio drops
      ("A", t(10), 120.0, 0L),
      // ticker B: single bar -> no return -> NULL
      ("B", t(0), 10.0, 1L))
      .toDF("ticker", "ts", "price", "volume")
    val out = TimeSeries.amihudBars(stock).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val expect = BigDecimal((0.1 / 2200.0 /
        1).toDouble * 1000000.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (nA, vA) = out("A")
    assert(nA === 1L)
    assert(math.abs(vA.get - expect) < 1e-6,
      s"got ${vA.get}, expected ~$expect")
    assert(out("B") === ((0L, None)))
  }

  test("varianceRatioBars: alternating ×2/÷2 closes give VR 0, a " +
      "constant series degenerates to NULL, and a mixed series " +
      "matches direct recomputation on the same decimal grid") {
    // 64, 128, 64, 128, ... — exact doubles; every 4-bar return is
    // ln(1) = 0 exactly while 1-bar returns alternate ±ln 2
    val alt = (0 until 13).map(i =>
      ("A", i * 5, if (i % 2 == 0) 64.0 else 128.0))
    val const = (0 until 8).map(i => ("B", i * 5, 42.0))
    val closes = Seq(100.0, 105.0, 98.0, 110.0, 120.0, 95.0, 130.0,
      140.0, 125.0, 150.0)
    val mixed = closes.zipWithIndex.map { case (c, i) => ("C", i * 5, c) }
    val out = TimeSeries.varianceRatioBars(
      bars((alt ++ const ++ mixed): _*)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("A") === ((12L, 9L, Some(0.0))))
    assert(out("B") === ((7L, 4L, None)))
    // direct recomputation, replicating the DECIMAL(38,18) grid and
    // the pinned double order
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    val r1s = closes.sliding(2).map { case Seq(a, b) =>
      math.log(b / a) }.toSeq
    val rqs = closes.sliding(TimeSeries.VrQ + 1).map { s =>
      math.log(s.last / s.head) }.toSeq
    def varOf(rs: Seq[Double]) = {
      val n = rs.length.toDouble
      val a = rs.map(g18).sum.toDouble
      val b = rs.map(r => g18(r * r)).sum.toDouble
      b / n - (a / n) * (a / n)
    }
    val vr = varOf(rqs) / (TimeSeries.VrQ.toDouble * varOf(r1s))
    val expect = BigDecimal(vr)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("C") === ((9L, 6L, Some(expect))))
  }

  test("momentsBars: hand-checkable series — symmetric returns give " +
      "zero skew, constant series degenerates to NULL moments") {
    // closes 100, 110, 100, 110, ... → returns alternate +0.1, −1/11:
    // NOT symmetric; use returns +r, −r alternating via closes
    // 100, 120, 96, 115.2, ... (×1.2, ×0.8): returns +0.2, −0.2
    val a = (0 until 21).scanLeft(100.0) { (c, i) =>
      if (i % 2 == 0) c * 1.2 else c * 0.8
    }.take(21)
    val out = TimeSeries.momentsBars(
      bars(a.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        (0 until 10).map(i => ("C", i * 5, 5.0)): _*))
      .collect()
      .map(r => r.getString(0) -> r).toMap
    val aRow = out("A")
    // returns alternate exactly +0.2/−0.2 → mean 0, skew 0,
    // variance 0.04, kurtosis of a two-point symmetric dist = −2
    assert(math.abs(aRow.getDouble(2)) < 1e-6)
    assert(math.abs(aRow.getDouble(3) - 0.04) < 1e-6)
    assert(math.abs(aRow.getDouble(4)) < 1e-4)
    assert(math.abs(aRow.getDouble(5) - (-2.0)) < 1e-3)
    // constant series: all returns 0 → variance 0 → NULL moments
    val c = out("C")
    assert(c.isNullAt(3) && c.isNullAt(4) && c.isNullAt(5))
  }

  test("streaming MACD (transformWithState) is bit-identical to the " +
      "batch lag-chain kernels across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, MacdState}
    val dir = "/root/testdata/sf0.001"
    val barsDf = graft.operators.TimeSeries.closeBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = barsDf.as[BarRow].collect().sortBy(_.bucket.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[BarRow]
      val q = MacdState.attach(stream.toDS()).writeStream
        .format("memory").queryName("macd_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("macd_tws_sink")
          .orderBy("ticker", "bucket").collect()
        val batch = graft.operators.TimeSeries.macdBars(barsDf)
          .orderBy("ticker", "bucket").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming RSI (transformWithState) is bit-identical to the " +
      "batch lag-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, RsiState}
    val dir = "/root/testdata/sf0.001"
    val barsDf = graft.operators.TimeSeries.closeBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = barsDf.as[BarRow].collect().sortBy(_.bucket.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[BarRow]
      val q = RsiState.attach(stream.toDS()).writeStream
        .format("memory").queryName("rsi_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("rsi_tws_sink")
          .orderBy("ticker", "bucket").collect()
        val batch = graft.operators.TimeSeries.rsiBars(barsDf)
          .orderBy("ticker", "bucket").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the leading edge must be exercised: every ticker's first bar
        // is a NULL rsi on both sides
        assert(batch.exists(_.isNullAt(3)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming Bollinger (transformWithState) is bit-identical to " +
      "the batch lag-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, BollingerState}
    val dir = "/root/testdata/sf0.001"
    val barsDf = graft.operators.TimeSeries.closeBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = barsDf.as[BarRow].collect().sortBy(_.bucket.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[BarRow]
      val q = BollingerState.attach(stream.toDS()).writeStream
        .format("memory").queryName("boll_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("boll_tws_sink")
          .orderBy("ticker", "bucket").collect()
        val batch = graft.operators.TimeSeries.bollingerBars(barsDf)
          .orderBy("ticker", "bucket").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the n = 1 edge must be exercised: every ticker's first bar has
        // NULL bands on both sides
        assert(batch.exists(_.isNullAt(4)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("hurstBars: a deterministic coin-flip walk pins H near 0.5 and " +
      "matches direct decimal-grid recomputation exactly; a constant-" +
      "return geometric series degenerates to zero variances and NULL") {
    // multiplicative ±1% walk, signs from a pinned LCG — 128 returns
    // so the k=8 level has 16 full blocks
    var seed = 0x9E3779B97F4A7C15L
    val signs = (0 until 128).map { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      if ((seed >>> 63) == 0L) 1.0 else -1.0
    }
    val walk = signs.scanLeft(100.0)((c, s) => c * (1 + 0.01 * s))
    // constant-return series: closes 100·2^i → every r = 1 exactly,
    // every Var_k = 0 exactly → hurst NULL
    val geo = (0 to 16).map(i => 100.0 * (1L << i))
    // 10 bars → 9 returns → only one full 8-block → n8 = 1 → NULL
    val short = (0 to 9).map(i => 100.0 + i)
    val out = TimeSeries.hurstBars(bars(
      walk.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        geo.zipWithIndex.map { case (c, i) => ("B", i * 5, c) } ++
        short.zipWithIndex.map { case (c, i) => ("C", i * 5, c) }: _*))
      .collect().map(r => r.getString(0) -> r).toMap

    // mirror of the engine's decimal-grid math
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rs = walk.sliding(2).map { case Seq(a, b) => b / a - 1 }.toSeq
    def varK(k: Int): Double = {
      val ys = rs.grouped(k).filter(_.length == k)
        .map(blk => blk.map(g18).sum.toDouble).toSeq
      val n = ys.length.toDouble
      val sy = ys.map(g18).sum.toDouble
      val syy = ys.map(y => g18(y * y)).sum.toDouble
      syy / n - (sy / n) * (sy / n)
    }
    val (v1, v2, v4, v8) = (varK(1), varK(2), varK(4), varK(8))
    val slope = (-1.5 * math.log(v1) - 0.5 * math.log(v2) +
      0.5 * math.log(v4) + 1.5 * math.log(v8)) / TimeSeries.HurstFiveLn2
    val a = out("A")
    assert(a.getLong(1) === 128L)
    assert(a.getDouble(2) === v1)
    assert(a.getDouble(3) === v2)
    assert(a.getDouble(4) === v4)
    assert(a.getDouble(5) === v8)
    assert(a.getDouble(6) === r6(slope / 2.0))
    // a coin-flip walk is memoryless: H should sit near 0.5 (wide
    // band — only 16 blocks at k=8)
    assert(a.getDouble(6) > 0.2 && a.getDouble(6) < 0.8,
      s"hurst ${a.getDouble(6)} not near 0.5")
    val b = out("B")
    assert(b.getLong(1) === 16L)
    (2 to 5).foreach(i => assert(b.getDouble(i) === 0.0))
    assert(b.isNullAt(6), "zero variance must yield NULL hurst")
    val c = out("C")
    assert(c.getLong(1) === 9L)
    assert(c.isNullAt(6), "a single 8-block must yield NULL hurst")
  }

  test("kyleLambdaBars: hand-checkable three-bar series gives the " +
      "exact OLS impact slope; constant sqrt-dollar-volume and " +
      "single-pair tickers degenerate to NULL") {
    val stock = Seq(
      // A: three bars, one event each → close = price, dv = price·vol
      ("A", t(0), 100.0, 100L),
      ("A", t(5), 101.0, 400L),
      ("A", t(10), 99.0, 900L),
      // B: equal dollar volume every bar → x constant → den = 0
      ("B", t(0), 10.0, 40L), ("B", t(5), 20.0, 20L),
      ("B", t(10), 40.0, 10L),
      // C: two bars → a single pair → n_bars = 1 → NULL
      ("C", t(0), 5.0, 10L), ("C", t(5), 6.0, 10L))
      .toDF("ticker", "ts", "price", "volume")
    val out = TimeSeries.kyleLambdaBars(stock).collect()
      .map(r => r.getString(0) -> r).toMap
    // mirror of the engine's decimal-grid moment recipe
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pairsA = Seq(
      (math.sqrt(101.0 * 400), math.abs(101.0 / 100.0 - 1)),
      (math.sqrt(99.0 * 900), math.abs(99.0 / 101.0 - 1)))
    val n = pairsA.length.toDouble
    val sx = pairsA.map(p => g18(p._1)).sum.toDouble
    val sxx = pairsA.map(p => g18(p._1 * p._1)).sum.toDouble
    val sy = pairsA.map(p => g18(p._2)).sum.toDouble
    val sxy = pairsA.map(p => g18(p._1 * p._2)).sum.toDouble
    val den = n * sxx - sx * sx
    val kSlope = (n * sxy - sx * sy) / den
    val a = out("A")
    assert(a.getLong(1) === 2L)
    assert(a.getDouble(2) === r6(kSlope * 1000000.0))
    assert(a.getDouble(3) === r6((sy - kSlope * sx) / n * 10000.0))
    val b = out("B")
    assert(b.getLong(1) === 2L)
    assert(b.isNullAt(2) && b.isNullAt(3),
      "degenerate x spread must yield NULL")
    val c = out("C")
    assert(c.getLong(1) === 1L)
    assert(c.isNullAt(2) && c.isNullAt(3),
      "a single pair must yield NULL")
  }

  test("ouHalfLifeBars: a perfect AR(1) decay recovers b = -0.5 and a " +
      "one-bar half-life; constant and trending series degenerate") {
    // x_{t+1} = 100 + 0.5 (x_t - 100): y = close - prev = -0.5 x + 50
    // exactly, so OLS recovers b = -0.5 and half-life = -ln2/ln(0.5) = 1
    val ar = Seq(120.0, 110.0, 105.0, 102.5, 101.25)
    // constant closes: zero x-spread -> den = 0 -> NULL b
    val const = Seq.fill(6)(42.0)
    // geometric growth: y = 0.1 x exactly -> b > 0 -> NULL half-life
    val trend = (0 until 6).map(i => 100.0 * math.pow(1.1, i))
    val out = TimeSeries.ouHalfLifeBars(bars(
      ar.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        const.zipWithIndex.map { case (c, i) => ("B", i * 5, c) } ++
        trend.zipWithIndex.map { case (c, i) => ("C", i * 5, c) }: _*))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getLong(1) === 4L)
    assert(math.abs(a.getDouble(2) - (-0.5)) < 1e-9)
    assert(a.getDouble(3) === 1.0)
    val b = out("B")
    assert(b.isNullAt(2) && b.isNullAt(3),
      "zero x-spread must yield NULL")
    val c = out("C")
    assert(c.getDouble(2) > 0.0 && c.isNullAt(3),
      "a positive AR slope has no mean-reversion half-life")
  }

  test("hillTailBars: matches direct recomputation on a hand series; " +
      "equal-magnitude tails and single-return tickers degenerate") {
    // A: returns with distinct magnitudes (multiplicative steps)
    val steps = Seq(1.5, 0.8, 1.3, 0.9, 1.25, 0.7, 1.1, 0.95)
    val aCloses = steps.scanLeft(100.0)(_ * _)
    // B: alternating x2 / x0.5 -> every |r| is 1.0 or 0.5; with k=20
    // the top set is all of them; sum ln(r/r_min) > 0 unless all equal
    val bCloses = Seq(64.0, 128.0, 64.0, 128.0, 64.0)
    // C: exactly one return
    val cCloses = Seq(10.0, 11.0)
    // D: every return the SAME magnitude -> denom = 0 -> NULL
    val dCloses = Seq(100.0, 200.0, 400.0, 800.0)
    val out = TimeSeries.hillTailBars(bars(
      aCloses.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        bCloses.zipWithIndex.map { case (c, i) => ("B", i * 5, c) } ++
        cCloses.zipWithIndex.map { case (c, i) => ("C", i * 5, c) } ++
        dCloses.zipWithIndex.map { case (c, i) => ("D", i * 5, c) }: _*))
      .collect().map(r => r.getString(0) -> r).toMap
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rs = aCloses.sliding(2).map { case Seq(p, c) =>
      math.abs(c / p - 1) }.toSeq
    val rk = rs.min // 8 returns < HillK -> the top set is all of them
    val sln = rs.map(r => g18(math.log(r))).sum.toDouble
    val denom = sln - rs.length.toDouble * math.log(rk)
    val a = out("A")
    assert(a.getLong(1) === rs.length.toLong)
    assert(a.getDouble(2) === r6(rk))
    assert(a.getDouble(3) === r6(rs.length.toDouble / denom))
    val b = out("B")
    assert(b.getLong(1) === 4L && !b.isNullAt(3),
      "mixed magnitudes must yield a finite alpha")
    val c = out("C")
    assert(c.getLong(1) === 1L && c.isNullAt(3),
      "a single tail point must yield NULL")
    val d = out("D")
    assert(d.getLong(1) === 3L && d.isNullAt(3),
      "an all-equal tail (denom 0) must yield NULL")
  }

  test("cusumBars: a mean-shifted series breaks at the regime " +
      "boundary and matches exact decimal-mirror recomputation; a " +
      "constant series degenerates to a NULL stat") {
    // A: ten +1% bars then ten -1% bars — S ramps to its max exactly
    // at the regime boundary
    val up = (0 until 10).scanLeft(100.0)((c, _) => c * 1.01)
    val a = up ++ (0 until 10).scanLeft(up.last)((c, _) => c * 0.99).tail
    // B: constant closes -> all returns 0 -> sd 0 -> NULL stat
    val b = Seq.fill(8)(50.0)
    val out = TimeSeries.cusumBars(bars(
      a.zipWithIndex.map { case (c, i) => ("A", i * 5, c) } ++
        b.zipWithIndex.map { case (c, i) => ("B", i * 5, c) }: _*))
      .collect().map(r => r.getString(0) -> r).toMap
    // exact mirror of the engine's decimal math
    def g18(x: Double) =
      BigDecimal(x).setScale(18, BigDecimal.RoundingMode.HALF_UP)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rs = a.sliding(2).map { case Seq(p, c) => c / p - 1 }.toSeq
    val n = rs.length
    val mu = rs.map(g18).sum.toDouble / n
    val s2 = rs.map(r => g18(r * r)).sum.toDouble
    val sd = math.sqrt(math.max(
      s2 / n - (rs.map(g18).sum.toDouble / n) * (rs.map(g18).sum.toDouble / n), 0.0))
    val sAbs = rs.map(r => g18(r - mu)).scanLeft(BigDecimal(0))(_ + _)
      .tail.map(_.abs)
    val maxS = sAbs.max
    val firstIdx = sAbs.indexOf(maxS) // 0-based over rets (bars 1..20)
    val row = out("A")
    assert(row.getLong(1) === n.toLong)
    assert(row.getTimestamp(2) === t(5 * (firstIdx + 1)))
    assert(firstIdx === 9, "the break must sit at the regime boundary")
    assert(row.getDouble(3) === r6(maxS.toDouble))
    assert(row.getDouble(4) ===
      r6(maxS.toDouble / (sd * math.sqrt(n.toDouble))))
    val rb = out("B")
    assert(rb.getDouble(3) === 0.0 && rb.isNullAt(4),
      "a flat series has zero excursion and no stat")
  }

  test("leadLagBars: a ticker whose closes are another's shifted one " +
      "bucket shows perfect lead correlation in that direction") {
    // B's close at bucket i+1 IS A's close at bucket i -> r_B(t+5m) is
    // the bit-identical division r_A(t) -> corr(A leads B) = 1
    val aCloses = Seq(100.0, 110.0, 99.0, 120.0, 90.0, 108.0)
    val a = aCloses.zipWithIndex.map { case (c, i) => ("A", i * 5, c) }
    val b = aCloses.dropRight(1).zipWithIndex
      .map { case (c, i) => ("B", (i + 1) * 5, c) }
    val out = TimeSeries.leadLagBars(bars(a ++ b: _*)).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .toMap
    // A's returns exist at buckets 1..5, B's at buckets 2..5 -> pairs
    // (r_A(b_i), r_B(b_{i+1})) for i = 1..4
    val (nAB, cAB) = out(("A", "B"))
    assert(nAB === 4L)
    assert(cAB === Some(1.0), s"perfect lead must give corr 1, got $cAB")
    // the reverse direction pairs r_B with A's NEXT return - r_B(t) =
    // r_A(t-1), so it correlates r_A(t-1) with r_A(t+1): lag-2
    // autocorrelation of an arbitrary series, present but not 1
    val (nBA, cBA) = out(("B", "A"))
    assert(nBA === 3L && cBA.isDefined && cBA.get < 1.0)
  }

  test("streaming ATR (transformWithState) is bit-identical to the " +
      "batch lag-chain kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{AtrState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = AtrState.attach(stream.toDS()).writeStream
        .format("memory").queryName("atr_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("atr_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.atrOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming stochastic (transformWithState) is bit-identical to " +
      "the batch extrema + lag-chain kernel across split triggers, " +
      "NULL %K rows included") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{OhlcRow, StochState}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 3, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = StochState.attach(stream.toDS()).writeStream
        .format("memory").queryName("stoch_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("stoch_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.stochasticOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming CUSUM (transformWithState) final report is " +
      "bit-identical to the batch two-pass kernel across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CusumBar, CusumState}
    val dir = "/root/testdata/sf0.001"
    val barsDf = graft.operators.TimeSeries.closeBars5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = barsDf.select("ticker", "bucket", "close")
      .as[CusumBar].collect().sortBy(_.bucket.getTime)
    val chunks = rows.grouped(math.max(rows.length / 4, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[CusumBar]
      val q = CusumState.attach(stream.toDS()).writeStream
        .format("memory").queryName("cusum_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val emitted = spark.table("cusum_tws_sink").collect()
        // supersede convention: per ticker the NEWEST report (max n_rets)
        // is the answer; older emissions are the same kernel over a prefix
        val streamed = emitted.groupBy(_.getString(0)).map { case (_, rs) =>
          rs.maxBy(_.getLong(1))
        }.toSeq.sortBy(_.getString(0))
        val batch = graft.operators.TimeSeries.cusumBars(barsDf).collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
        // reports only grow: each ticker's emissions have strictly
        // increasing n_rets across the 4 triggers (every chunk adds bars)
        emitted.groupBy(_.getString(0)).foreach { case (t, rs) =>
          val ns = rs.map(_.getLong(1)).sorted
          assert(ns.distinct.length === ns.length,
            s"$t: duplicate n_rets across triggers: ${ns.toSeq}")
        }
      } finally q.stop()
    }
  }

  test("streaming Corwin-Schultz (transformWithState) final report is " +
      "bit-identical to the batch pair kernel across split triggers, " +
      "with CONSTANT per-key state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{CorwinSchultzState, OhlcRow}
    val dir = "/root/testdata/sf0.001"
    val ohlcDf = graft.operators.StockPipeline.ohlc5m(
      graft.operators.StockPipeline.normalize(
        graft.sources.Tables.events(spark, dir)))
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime)
    val chunks = rows.grouped(math.max(rows.length / 4, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[OhlcRow]
      val q = CorwinSchultzState.attach(stream.toDS()).writeStream
        .format("memory").queryName("cs_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("cs_tws_sink").collect()
          .groupBy(_.getString(0)).map { case (_, rs) =>
            rs.maxBy(_.getLong(1))
          }.toSeq.sortBy(_.getString(0))
        val batch = graft.operators.TimeSeries.corwinSchultzOhlc(ohlcDf)
          .collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("vpin: volume conserved per ticker, imbalance <= classified <= " +
      "total, vpin in [0,1], bucket count near the target (sf0.001)") {
    val out = TimeSeries.vpin(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val totals = graft.operators.StockPipeline
      .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
      .groupBy("ticker")
      .agg(org.apache.spark.sql.functions.sum("volume").as("tv"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      val (tkr, nB, vT, imb, cls, tot) = (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(tot === totals(tkr), "bucketed volume must conserve the total")
      assert(imb <= cls && cls <= tot)
      // whole-trade bucket assignment: count stays within one of target
      assert(nB <= TimeSeries.VpinBuckets + 1, s"bucket blow-up: $r")
      assert(vT >= 1L)
      if (!r.isNullAt(6)) {
        val v = r.getDouble(6)
        assert(v >= 0.0 && v <= 1.0)
        assert(math.abs(v - imb.toDouble / tot) < 1e-5)
      }
    }
  }

  test("ljungBox: Q matches a local textbook recomputation per ticker, " +
      "rhos bounded, Q non-negative (sf0.001)") {
    val out = TimeSeries.ljungBox(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val bars = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2.getTime).map(_._3)
        t -> closes.zip(closes.drop(1))
          .filter(_._1 != 0.0).map { case (p, c) => c / p - 1 }
      }
    out.foreach { row =>
      val t = row.getString(0)
      val r = bars(t)
      val n = r.length
      assert(row.getLong(1) === n)
      val rbar = r.sum / n
      val c0 = r.map(x => (x - rbar) * (x - rbar)).sum
      var q = 0.0
      TimeSeries.AcfLags.zipWithIndex.foreach { case (k, i) =>
        val rho = (k until n)
          .map(j => (r(j) - rbar) * (r(j - k) - rbar)).sum / c0
        assert(math.abs(row.getDouble(2 + i) - rho) < 1e-5,
          s"$t lag $k: ${row.getDouble(2 + i)} vs $rho")
        assert(math.abs(rho) <= 1.0 + 1e-9)
        q += rho * rho / (n - k)
      }
      q *= n.toDouble * (n + 2)
      assert(row.getDouble(7) >= 0.0)
      assert(math.abs(row.getDouble(7) - q) < 1e-4 * math.max(1.0, q),
        s"$t Q: ${row.getDouble(7)} vs $q")
    }
  }

  test("cointegration: beta/gamma/df_t match a local two-step " +
      "Engle-Granger recomputation per pair (sf0.001)") {
    val out = TimeSeries.cointegration(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val closes = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        t -> rs.map(x => (x._2, x._3)).sortBy(_._1)
      }
    out.foreach { row =>
      val (ta, tb) = (row.getString(0), row.getString(1))
      val ba = closes(ta).toMap; val bb = closes(tb).toMap
      val common = ba.keySet.intersect(bb.keySet).toSeq.sorted
      assert(row.getLong(2) === common.length)
      val xs = common.map(ba); val ys = common.map(bb)
      val n = common.length.toDouble
      val (sx, sy) = (xs.sum, ys.sum)
      val beta = (xs.zip(ys).map(t => t._1 * t._2).sum - sx * sy / n) /
        (xs.map(v => v * v).sum - sx * sx / n)
      val alpha = (sy - beta * sx) / n
      assert(math.abs(row.getDouble(3) - beta) <
        1e-4 * math.max(1.0, math.abs(beta)))
      val e = xs.zip(ys).map { case (x, y) => y - (alpha + beta * x) }
      val el = e.dropRight(1); val de = e.drop(1).zip(el).map(t => t._1 - t._2)
      val see = el.map(v => v * v).sum
      val sed = el.zip(de).map(t => t._1 * t._2).sum
      val sdd = de.map(v => v * v).sum
      val gamma = sed / see
      assert(math.abs(row.getDouble(5) - gamma) <
        1e-4 * math.max(1.0, math.abs(gamma)))
      val s2 = (sdd - gamma * sed) / (el.length - 1)
      val t = gamma / math.sqrt(s2 / see)
      if (!row.isNullAt(6))
        assert(math.abs(row.getDouble(6) - t) <
          1e-3 * math.max(1.0, math.abs(t)),
          s"$ta/$tb df_t ${row.getDouble(6)} vs local $t")
    }
  }

  test("pacf: phi_kk matches a local Durbin-Levinson recursion on " +
      "global-mean autocorrelations per ticker (sf0.001)") {
    val out = TimeSeries.pacf(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2).map(_._3)
        t -> closes.zip(closes.drop(1)).collect {
          case (p, c) if p != 0.0 => c / p - 1
        }.toSeq
      }
    val maxLag = TimeSeries.AcfLags.max
    val local = rets.map { case (t, xs) =>
      val n = xs.length
      val mu = xs.sum / n
      val c = (0 to maxLag).map { k =>
        (k until n).map(i => (xs(i) - mu) * (xs(i - k) - mu)).sum
      }
      val rho = (1 to maxLag).map(k => c(k) / c(0))
      // Durbin-Levinson
      var phi = Array(rho.head)
      val pacf = Array.fill(maxLag)(0.0)
      pacf(0) = rho.head
      for (k <- 2 to maxLag) {
        val num = rho(k - 1) -
          (1 until k).map(j => phi(j - 1) * rho(k - j - 1)).sum
        val den = 1.0 - (1 until k).map(j => phi(j - 1) * rho(j - 1)).sum
        val kk = num / den
        pacf(k - 1) = kk
        phi = ((1 until k).map(j => phi(j - 1) - kk * phi(k - j - 1)) :+
          kk).toArray
      }
      t -> pacf
    }
    out.foreach { row =>
      val (t, k) = (row.getString(0), row.getLong(1))
      assert(row.getLong(2) ===
        math.max(0, rets(t).length - k).toLong, s"$t lag $k n_pairs")
      if (!row.isNullAt(3)) {
        val expect = local(t)(k.toInt - 1)
        assert(math.abs(row.getDouble(3) - expect) <
          1e-4 * math.max(1.0, math.abs(expect)),
          s"$t lag $k pacf ${row.getDouble(3)} vs local $expect")
      }
    }
  }

  test("permutationEntropy: H matches a local Bandt-Pompe " +
      "recomputation, pe_norm in [0,1] (sf0.001)") {
    val out = TimeSeries.permutationEntropy(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2).map(_._3)
        t -> closes.zip(closes.drop(1)).collect {
          case (p, c) if p != 0.0 => c / p - 1
        }.toSeq
      }
    def pattern(a: Double, b: Double, c: Double): Int =
      if (a <= b && b <= c) 0
      else if (a <= c && c < b) 1
      else if (b < a && a <= c) 2
      else if (b <= c && c < a) 3
      else if (c < a && a <= b) 4
      else 5
    out.foreach { row =>
      val t = row.getString(0)
      val xs = rets(t)
      val trips = xs.sliding(3).filter(_.length == 3).toSeq
      assert(row.getLong(1) === trips.length.toLong, s"$t n")
      val counts = trips.groupBy(w => pattern(w(0), w(1), w(2)))
        .view.mapValues(_.size).toMap
      assert(row.getLong(2) === counts.size.toLong, s"$t patterns")
      val n = trips.length.toDouble
      val h = counts.values.map { c =>
        val p = c / n; -(p * math.log(p))
      }.sum
      assert(math.abs(row.getDouble(3) - h) < 1e-6, s"$t H")
      assert(math.abs(row.getDouble(4) - h / math.log(6.0)) < 1e-6)
      assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0 + 1e-9)
    }
  }

  test("sortino: ratios match a local recomputation; omega > 1 iff " +
      "gains outweigh losses (sf0.001)") {
    val out = TimeSeries.sortino(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues { rs =>
        val closes = rs.sortBy(_._2).map(_._3)
        closes.zip(closes.drop(1)).collect {
          case (p, c) if p != 0.0 => c / p - 1 }.toSeq
      }.toMap
    out.foreach { r =>
      val xs = rets(r.getString(0))
      val n = xs.length.toDouble
      assert(r.getLong(1) === xs.length.toLong)
      val mean = xs.sum / n
      val dd = math.sqrt(xs.map(x => math.min(x, 0.0)).map(x => x * x)
        .sum / n)
      val omega = xs.map(x => math.max(x, 0.0)).sum /
        xs.map(x => -math.min(x, 0.0)).sum
      assert(math.abs(r.getDouble(2) - mean) <
        1e-5 * math.max(1.0, math.abs(mean)))
      assert(math.abs(r.getDouble(3) - dd) < 1e-5)
      assert(math.abs(r.getDouble(4) - mean / dd) <
        1e-4 * math.max(1.0, math.abs(mean / dd)))
      assert(math.abs(r.getDouble(5) - omega) <
        1e-4 * math.max(1.0, omega))
      assert((r.getDouble(5) > 1.0) === (mean > 0.0) ||
        math.abs(mean) < 1e-12,
        "omega > 1 iff mean return positive (zero target)")
    }
  }

  test("fracDiff: values match a local binomial-weight recomputation; " +
      "d=1 weights would be plain differencing (sf0.001)") {
    val out = TimeSeries.fracDiff(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // the weight recurrence at d=0.4
    val n = TimeSeries.FracWindow
    val w = Array.fill(n)(1.0)
    for (k <- 1 until n) w(k) = -w(k - 1) * (TimeSeries.FracD - k + 1) / k
    assert(w(1) === -TimeSeries.FracD)
    assert(w.drop(1).forall(_ < 0), "all lag weights negative for 0<d<1")
    val bars = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val byKey = out.map(r => (r.getString(0), r.getTimestamp(1).getTime) ->
      (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    bars.foreach { case (t, bs) =>
      bs.indices.foreach { i =>
        val got = byKey((t, bs(i)._2))
        if (i < n - 1) assert(got.isEmpty, s"$t bar $i warmup")
        else {
          val expect = (0 until n).map(k => bs(i - k)._3 * w(k)).sum
          assert(math.abs(got.get - expect) <
            1e-5 * math.max(1.0, math.abs(expect)), s"$t bar $i")
        }
      }
    }
  }

  test("varBacktest: POF and independence LRs match a local " +
      "recomputation against the empirical quantile (sf0.001)") {
    val out = TimeSeries.varBacktest(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val varsByTicker = TimeSeries.varEs(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues { rs =>
        val closes = rs.sortBy(_._2).map(_._3)
        closes.zip(closes.drop(1)).collect {
          case (p, c) if p != 0.0 => c / p - 1 }.toSeq
      }.toMap
    out.foreach { r =>
      val t = r.getString(0)
      val xs = rets(t)
      val v5 = varsByTicker(t)
      val hits = xs.map(x => if (x <= v5) 1 else 0)
      val (n, x) = (hits.length, hits.sum)
      assert(r.getLong(1) === n.toLong)
      assert(r.getLong(2) === x.toLong)
      val trans = hits.zip(hits.drop(1))
      def cnt(a: Int, b: Int) = trans.count(tp => tp._1 == a && tp._2 == b)
      val (n00, n01, n10, n11) = (cnt(0, 0), cnt(0, 1), cnt(1, 0), cnt(1, 1))
      assert(r.getLong(3) === n01.toLong)
      assert(r.getLong(4) === n11.toLong)
      if (!r.isNullAt(5)) {
        val p = TimeSeries.VarLevel; val xr = x.toDouble / n
        val lrPof = -2.0 * ((n - x) * math.log(1 - p) + x * math.log(p) -
          (n - x) * math.log(1 - xr) - x * math.log(xr))
        assert(math.abs(r.getDouble(5) - lrPof) <
          1e-4 * math.max(1.0, lrPof), s"$t pof")
        assert(lrPof >= -1e-9)
      }
      def t0(c: Int, p: Double) = if (c > 0) c * math.log(p) else 0.0
      val pi01 = if (n00 + n01 > 0) n01.toDouble / (n00 + n01) else 0.0
      val pi11 = if (n10 + n11 > 0) n11.toDouble / (n10 + n11) else 0.0
      val pi = (n01 + n11).toDouble / (n00 + n01 + n10 + n11)
      val ll0 = t0(n00 + n10, 1 - pi) + t0(n01 + n11, pi)
      val llA = t0(n00, 1 - pi01) + t0(n01, pi01) +
        t0(n10, 1 - pi11) + t0(n11, pi11)
      val lrInd = -2.0 * (ll0 - llA)
      assert(math.abs(r.getDouble(6) - lrInd) <
        1e-4 * math.max(1.0, math.abs(lrInd)), s"$t ind")
    }
  }

  test("ichimoku: midlines match local rolling (max+min)/2, spans " +
      "are the kijun-shifted values (sf0.001)") {
    val out = TimeSeries.ichimoku(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val bars = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    def mid(xs: Seq[Double], i: Int, n: Int): Double = {
      val wdw = xs.slice(math.max(0, i - n + 1), i + 1)
      (wdw.max + wdw.min) / 2.0
    }
    val k = TimeSeries.IchiKijun
    val byTicker = out.groupBy(_.getString(0))
    byTicker.foreach { case (t, rows) =>
      val xs = bars(t).toSeq
      assert(rows.length === xs.length)
      rows.sortBy(_.getTimestamp(1).getTime).zipWithIndex.foreach {
        case (r, i) =>
          assert(math.abs(r.getDouble(2) -
            mid(xs, i, TimeSeries.IchiTenkan)) < 1e-5, s"$t $i tenkan")
          assert(math.abs(r.getDouble(3) - mid(xs, i, k)) < 1e-5,
            s"$t $i kijun")
          if (i >= k) {
            val sa = (mid(xs, i - k, TimeSeries.IchiTenkan) +
              mid(xs, i - k, k)) / 2.0
            assert(math.abs(r.getDouble(4) - sa) < 1e-5, s"$t $i sa")
            assert(math.abs(r.getDouble(5) -
              mid(xs, i - k, TimeSeries.IchiSenkouB)) < 1e-5, s"$t $i sb")
          } else {
            assert(r.isNullAt(4) && r.isNullAt(5), s"$t $i warmup")
          }
          if (i + k < xs.length)
            assert(r.getDouble(6) === xs(i + k), s"$t $i chikou")
          else assert(r.isNullAt(6), s"$t $i chikou end")
      }
    }
  }

  test("minVarPairs: weight/variance match a local recomputation; " +
      "portfolio variance never beats neither asset (sf0.001)") {
    val out = TimeSeries.minVarPairs(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val s = rs.sortBy(_._2)
        t -> s.map(_._2).drop(1).zip(
          s.map(_._3).zip(s.map(_._3).drop(1)).collect {
            case (p, c) if p != 0.0 => c / p - 1 }).toMap
      }
    out.foreach { r =>
      val (ta, tb) = (r.getString(0), r.getString(1))
      val common = rets(ta).keySet.intersect(rets(tb).keySet).toSeq.sorted
      assert(r.getLong(2) === common.length.toLong)
      val xs = common.map(rets(ta)); val ys = common.map(rets(tb))
      val n = common.length.toDouble
      def v(a: Seq[Double]) = a.map(x => x * x).sum / n -
        math.pow(a.sum / n, 2)
      val cab = xs.zip(ys).map(t => t._1 * t._2).sum / n -
        (xs.sum / n) * (ys.sum / n)
      val (va, vb) = (v(xs), v(ys))
      val w = (vb - cab) / (va + vb - 2 * cab)
      val vmin = va * w * w + vb * (1 - w) * (1 - w) +
        2 * cab * w * (1 - w)
      assert(math.abs(r.getDouble(3) - w) <
        1e-4 * math.max(1.0, math.abs(w)), s"$ta/$tb w")
      assert(math.abs(r.getDouble(4) - vmin) <
        1e-4 * math.max(1.0, math.abs(vmin)), s"$ta/$tb vmin")
      // the min-variance point never exceeds the better single asset
      assert(vmin <= math.min(va, vb) + 1e-9, s"$ta/$tb dominance")
    }
  }

  test("tripleBarrier: labels match a local first-touch scan with " +
      "the up-wins tie rule (sf0.001)") {
    val out = TimeSeries.tripleBarrier(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val bars = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val h = TimeSeries.TbHorizon
    var sawUp = false; var sawDn = false; var sawTime = false
    val byKey = out.map(r =>
      (r.getString(0), r.getTimestamp(1).getTime) ->
        ((r.getInt(2), r.getInt(3), r.getDouble(4)))).toMap
    bars.foreach { case (t, bs) =>
      bs.indices.dropRight(h).foreach { i =>
        val close = bs(i)._3
        val rr = (1 to h).map(k => bs(i + k)._3 / close - 1.0)
        val firstHit = rr.zipWithIndex.find { case (r0, _) =>
          r0 >= TimeSeries.TbUp || r0 <= TimeSeries.TbDn }
        val (lbl, tHit, ret) = firstHit match {
          case Some((r0, idx)) =>
            (if (r0 >= TimeSeries.TbUp) 1 else -1, idx + 1, r0)
          case None => (0, h, rr.last)
        }
        if (lbl == 1) sawUp = true
        if (lbl == -1) sawDn = true
        if (lbl == 0) sawTime = true
        val got = byKey((t, bs(i)._2))
        assert(got._1 === lbl, s"$t bar $i label")
        assert(got._2 === tHit, s"$t bar $i t_hit")
        assert(math.abs(got._3 - ret) < 1e-5, s"$t bar $i ret")
      }
      // rows without a full horizon are dropped
      bs.indices.drop(bs.length - h max 0).foreach { i =>
        assert(!byKey.contains((t, bs(i)._2)), s"$t bar $i should drop")
      }
    }
    assert(out.length === bars.values.map(b => (b.length - h) max 0).sum)
    // the fixture exercises all three outcomes
    assert(sawUp && sawDn && sawTime, s"up=$sawUp dn=$sawDn time=$sawTime")
  }

  test("spectralEntropy: H matches a local Goertzel recomputation, " +
      "se_norm in [0,1], peak is the argmax period (sf0.001)") {
    val out = TimeSeries.spectralEntropy(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2).map(_._3)
        t -> closes.zip(closes.drop(1)).collect {
          case (p, c) if p != 0.0 => c / p - 1
        }.toSeq
      }
    out.foreach { row =>
      val t = row.getString(0)
      val xs = rets(t)
      assert(row.getLong(1) === xs.length.toLong)
      val mu = xs.sum / xs.length
      val xc = xs.map(_ - mu)
      val powers = TimeSeries.SpecPeriods.map { p =>
        val a = xc.zipWithIndex.map { case (x, i) =>
          x * math.cos(2 * math.Pi * (i % p) / p) }.sum
        val b = xc.zipWithIndex.map { case (x, i) =>
          x * math.sin(2 * math.Pi * (i % p) / p) }.sum
        p -> (a * a + b * b)
      }
      val ptot = powers.map(_._2).sum
      val shares = powers.map { case (p, pw) => p -> pw / ptot }
      val h = shares.map { case (_, s) =>
        if (s > 0) -(s * math.log(s)) else 0.0 }.sum
      assert(math.abs(row.getDouble(2) - h) < 1e-5, s"$t H")
      assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0 + 1e-9)
      val peak = shares.maxBy(t2 => (t2._2, -t2._1))._1
      assert(row.getLong(4) === peak.toLong, s"$t peak")
      assert(math.abs(row.getDouble(5) -
        shares.toMap.apply(peak)) < 1e-5, s"$t peak share")
    }
  }

  test("granger: beta_cross/F match a local bivariate-OLS " +
      "recomputation per ordered pair (sf0.001)") {
    val out = TimeSeries.granger(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime, r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val sorted = rs.sortBy(_._2)
        val closes = sorted.map(_._3)
        t -> sorted.map(_._2).drop(1).zip(
          closes.zip(closes.drop(1)).collect {
            case (p, c) if p != 0.0 => c / p - 1
          }).map(x => (x._1, x._2))
      }
    out.foreach { row =>
      val (cs, ef) = (row.getString(0), row.getString(1))
      val mc = rets(cs).toMap; val me = rets(ef).toMap
      val common = mc.keySet.intersect(me.keySet).toSeq.sorted
      val trip = common.drop(1).zip(common.dropRight(1)).map {
        case (t, tl) => (me(t), me(tl), mc(tl))
      }
      assert(row.getLong(2) === trip.length.toLong, s"$cs->$ef n")
      // n <= 2 is rank-deficient: the engine NULLs the solve (det is
      // float noise there), so there is nothing to compare
      if (trip.length > 2) {
      val n = trip.length.toDouble
      val (sy, s1, s2) = (trip.map(_._1).sum, trip.map(_._2).sum,
        trip.map(_._3).sum)
      val s11 = trip.map(t => t._2 * t._2).sum - s1 * s1 / n
      val s12 = trip.map(t => t._2 * t._3).sum - s1 * s2 / n
      val s22 = trip.map(t => t._3 * t._3).sum - s2 * s2 / n
      val s1y = trip.map(t => t._2 * t._1).sum - s1 * sy / n
      val s2y = trip.map(t => t._3 * t._1).sum - s2 * sy / n
      val syyC = trip.map(t => t._1 * t._1).sum - sy * sy / n
      val det = s11 * s22 - s12 * s12
      val b1 = (s1y * s22 - s2y * s12) / det
      val b2 = (s2y * s11 - s1y * s12) / det
      if (!row.isNullAt(3))
        assert(math.abs(row.getDouble(3) - b2) <
          1e-4 * math.max(1.0, math.abs(b2)), s"$cs->$ef b2")
      val rssU = syyC - b1 * s1y - b2 * s2y
      val rssR = syyC - s1y * s1y / s11
      val f = (rssR - rssU) / (rssU / (n - 3))
      if (!row.isNullAt(4))
        assert(math.abs(row.getDouble(4) - f) <
          1e-3 * math.max(1.0, math.abs(f)), s"$cs->$ef F")
      }
    }
  }

  test("archLm: slope/R2/LM match a local lag-1 OLS on squared " +
      "returns, r2 in [0,1], lm = n*r2 (sf0.001)") {
    val out = TimeSeries.archLm(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byTicker = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2.getTime).map(_._3)
        t -> closes.zip(closes.drop(1))
          .filter(_._1 != 0.0).map { case (p, c) => c / p - 1 }
          .map(x => x * x)
      }
    out.foreach { row =>
      val sq = byTicker(row.getString(0))
      val xs = sq.dropRight(1); val ys = sq.drop(1)
      val m = xs.length.toDouble
      assert(row.getLong(1) === xs.length)
      val (sx, sy) = (xs.sum, ys.sum)
      val num = xs.zip(ys).map(t => t._1 * t._2).sum - sx * sy / m
      val vx = xs.map(v => v * v).sum - sx * sx / m
      val vy = ys.map(v => v * v).sum - sy * sy / m
      val r2 = num * num / (vx * vy)
      assert(math.abs(row.getDouble(2) - num / vx) <
        1e-4 * math.max(1.0, math.abs(num / vx)))
      assert(math.abs(row.getDouble(3) - r2) < 1e-5)
      assert(row.getDouble(3) >= 0.0 && row.getDouble(3) <= 1.0)
      assert(math.abs(row.getDouble(4) - m * r2) <
        1e-4 * math.max(1.0, m * r2))
    }
  }

  test("ksPairs: D matches a local two-sample ECDF sup per pair, " +
      "bounded in [0,1], pair set is the strict upper triangle " +
      "(sf0.001)") {
    val out = TimeSeries.ksPairs(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val rets = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2.getTime).map(_._3)
        t -> closes.zip(closes.drop(1))
          .filter(_._1 != 0.0).map { case (p, c) => c / p - 1 }
      }
    val tickers = rets.keys.toSeq.sorted
    val expectedPairs =
      (for (a <- tickers; b <- tickers if a < b) yield (a, b)).toSet
    assert(out.map(r => (r.getString(0), r.getString(1))).toSet ===
      expectedPairs)
    out.foreach { r =>
      val (a, b) = (rets(r.getString(0)), rets(r.getString(1)))
      assert(r.getLong(2) === a.length && r.getLong(3) === b.length)
      val values = (a ++ b).distinct
      val dNum = values.map { v =>
        math.abs(a.count(_ <= v).toLong * b.length -
          b.count(_ <= v).toLong * a.length)
      }.max
      assert(r.getLong(4) === dNum, s"pair ${r.getString(0)}/" +
        s"${r.getString(1)}: d_num ${r.getLong(4)} vs local $dNum")
      val d = dNum.toDouble / (a.length.toLong * b.length)
      assert(math.abs(r.getDouble(5) - d) < 1e-6)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) >= 0.0)
    }
  }

  test("runsTest: runs counted exactly vs a local scan, counts " +
      "partition, z matches the closed form (sf0.001)") {
    val out = TimeSeries.runsTest(spark, "/root/testdata/sf0.001").collect()
    assert(out.nonEmpty)
    val byTicker = TimeSeries.closeBars5m(graft.operators.StockPipeline
        .normalize(graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getDouble(2)))
      .groupBy(_._1).map { case (t, rs) =>
        val closes = rs.sortBy(_._2.getTime).map(_._3)
        t -> closes.zip(closes.drop(1))
          .filter(_._1 != 0.0).map { case (p, c) => c / p - 1 }
          .map(math.signum).filter(_ != 0.0)
      }
    out.foreach { row =>
      val sgns = byTicker(row.getString(0))
      val n = sgns.length
      val nPlus = sgns.count(_ == 1.0)
      val runs = if (sgns.isEmpty) 0
        else 1 + sgns.zip(sgns.drop(1)).count(t => t._1 != t._2)
      assert(row.getLong(1) === n)
      assert(row.getLong(2) === nPlus)
      assert(row.getLong(2) + row.getLong(3) === n)
      assert(row.getLong(4) === runs)
      val a = 2.0 * nPlus * (n - nPlus)
      val mu = a / n + 1.0
      val v = a * (a - n) / (n.toDouble * n * (n - 1))
      assert(math.abs(row.getDouble(5) - mu) < 1e-5)
      if (!row.isNullAt(6))
        assert(math.abs(row.getDouble(6) - (runs - mu) / math.sqrt(v)) < 1e-4)
    }
  }

  test("corrPairs on sf0.001: every correlation is in [-1, 1] and the " +
      "pair set is the strict upper triangle") {
    val out = TimeSeries.corrPairs(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getString(0) < r.getString(1))
      if (!r.isNullAt(3))
        assert(math.abs(r.getDouble(3)) <= 1.0 + 1e-9)
    }
  }
}
