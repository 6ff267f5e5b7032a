package graft

/** Round-11 streaming twins for the last two batch-only indicator
  * kernels (round-10 verdict task 6): Aroon and Ichimoku. Same house
  * standard as the RSI/Donchian/ADX twins — bit-identical to the
  * batch kernel across split triggers on real data, RocksDB state
  * store. Ichimoku is the roster's one FORWARD-looking kernel
  * (chikou = close 26 bars ahead), so its twin emits a bar's complete
  * row when the bar 26 ahead arrives; parity is asserted against
  * exactly the batch rows whose chikou exists, plus a count check
  * that the pending tail is the batch's NULL-chikou set. */
class IndicatorTwinSpec extends SparkSpec {

  test("streaming Aroon (transformWithState) is bit-identical to the " +
      "batch ascending-lag age chain across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{AroonState, OhlcRow}
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
      val q = AroonState.attach(stream.toDS()).writeStream
        .format("memory").queryName("aroon_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("aroon_tws_sink")
          .orderBy("ticker", "window_timestamp").collect()
        val batch = graft.operators.TimeSeries.aroonOhlc(ohlcDf)
          .orderBy("ticker", "window_timestamp").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // tie semantics must be exercised: some bar must sit AT its
        // frame extreme with age 0 and some must not
        assert(batch.exists(_.getInt(2) === 0))
        assert(batch.exists(_.getInt(2) > 0))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("streaming Ichimoku (transformWithState) emits, 26 bars " +
      "delayed, rows bit-identical to the batch kernel's " +
      "chikou-complete set across split triggers") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{BarRow, IchimokuState}
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
      val q = IchimokuState.attach(stream.toDS()).writeStream
        .format("memory").queryName("ichi_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = spark.table("ichi_tws_sink")
          .orderBy("ticker", "bucket").collect()
        val batchAll = graft.operators.TimeSeries.ichimokuBars(barsDf)
        val batch = batchAll.filter(org.apache.spark.sql.functions
          .col("chikou").isNotNull).orderBy("ticker", "bucket").collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        // the senkou warm-up edge must be exercised on both sides:
        // early emitted bars have no bar 52 back
        assert(batch.exists(_.isNullAt(4)) && batch.exists(!_.isNullAt(4)))
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
        // the pending (never-emitted) tail is exactly the batch rows
        // whose forward close does not exist: ≤26 per ticker, and the
        // totals reconcile
        val nAll = batchAll.count()
        assert(nAll - streamed.length ===
          batchAll.filter("chikou IS NULL").count())
      } finally q.stop()
    }
  }
}
