package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{AroonState, OhlcRow}

/** [[graft.streaming.KeyedFold]], the one keyed-state operator of the
  * streaming twins: it must run on the default state-store provider,
  * each fold must own its within-trigger order, and no second stateful
  * API may creep back into the engine. */
class KeyedFoldSpec extends SparkSpec {

  private val defaultStore =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  private lazy val ohlcDf = graft.operators.StockPipeline.ohlc5m(
    graft.operators.StockPipeline.normalize(
      graft.sources.Tables.events(spark, "/root/testdata/sf0.001")))

  /** Streams the Aroon twin over three triggers, each trigger's rows
    * given in `order`, and returns the sink sorted like the batch. */
  private def streamedAroon(sink: String)(
      order: Seq[OhlcRow] => Seq[OhlcRow]): Seq[Seq[Any]] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = ohlcDf
      .select("ticker", "window_timestamp", "high", "low", "close")
      .as[OhlcRow].collect().sortBy(_.window_timestamp.getTime).toSeq
    val stream = MemoryStream[OhlcRow]
    val q = AroonState.attach(stream.toDS()).writeStream
      .format("memory").queryName(sink).outputMode("append").start()
    try {
      rows.grouped(math.max(rows.length / 3, 1)).foreach { c =>
        stream.addData(order(c): _*); q.processAllAvailable()
      }
      spark.table(sink).orderBy("ticker", "window_timestamp")
        .collect().map(_.toSeq).toSeq
    } finally q.stop()
  }

  private def batchAroon: Seq[Seq[Any]] =
    graft.operators.TimeSeries.aroonOhlc(ohlcDf)
      .orderBy("ticker", "window_timestamp").collect().map(_.toSeq).toSeq

  test("a twin runs on the default state-store provider and is " +
      "bit-identical to its batch kernel across split triggers") {
    val streamed = withConf(defaultStore)(streamedAroon("kf_default_sink")(identity))
    val batch = batchAroon
    assert(streamed.length === batch.length && batch.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s === b, s"stream $s vs batch $b")
    }
  }

  test("each trigger's rows fed in reverse give the same output: the " +
      "fold sorts its own rows") {
    val streamed = streamedAroon("kf_reversed_sink")(_.reverse)
    val batch = batchAroon
    assert(streamed.length === batch.length && batch.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s === b, s"stream $s vs batch $b")
    }
  }

  test("src/main has no StatefulProcessor or transformWithState, and " +
      "flatMapGroupsWithState only in KeyedFold and SessionState") {
    // one keyed-state API: the transformWithState twins failed on the
    // default state-store provider, and a second copy of a fold drifts
    val root = Paths.get("src/main/scala/graft")
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString -> Files.readString(p)).toSeq
    def filesUsing(api: String): Set[String] =
      sources.collect { case (rel, src) if src.contains(api) => rel }.toSet
    for (api <- Seq("StatefulProcessor", "transformWithState"))
      assert(filesUsing(api).isEmpty,
        s"$api in ${filesUsing(api).mkString(", ")}")
    val allowed = Set("streaming/KeyedFold.scala", "streaming/SessionState.scala")
    val groupState = filesUsing("MapGroupsWithState")
    assert(groupState.nonEmpty && groupState.subsetOf(allowed),
      s"flatMapGroupsWithState outside KeyedFold/SessionState: " +
        (groupState -- allowed).mkString(", "))
  }
}
