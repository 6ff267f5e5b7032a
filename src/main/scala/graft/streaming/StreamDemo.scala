package graft.streaming

/** Runnable end-to-end streaming demo: file-stream the events table
  * through the full analysis DAG (normalize → watermark → windowed aggs
  * → join → spike → parquet append sink), then print sink stats.
  * Run: `sbt "runMain graft.streaming.StreamDemo <sfDir> <outDir>"`. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.drop(1).headOption
      .getOrElse(java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = graft.GraftSession(graft.GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    val q = StreamingPipeline.analysisSink(spark, sfDir, s"$out/analysis",
      s"$out/checkpoint")
    q.processAllAvailable()
    q.stop()
    val result = spark.read.parquet(s"$out/analysis")
    println(s"[stream-demo] sink rows: ${result.count()}")
    println(s"[stream-demo] spikes: ${result.filter("is_volume_spike").count()}")
    result.orderBy("ticker", "window_timestamp").show(5, truncate = false)

    // stream-stream interval join + streaming dedup over the same source
    val src = StreamingPipeline.eventsStream(spark, sfDir)
    val qj = StreamingPipeline.purchaseClickJoin(src).writeStream
      .format("memory").queryName("demo_join").outputMode("append").start()
    qj.processAllAvailable(); qj.stop()
    println(s"[stream-demo] purchase-click pairs: " +
      spark.table("demo_join").count())
    val qd = StreamingPipeline.dedupStream(src).writeStream
      .format("memory").queryName("demo_dedup").outputMode("append").start()
    qd.processAllAvailable(); qd.stop()
    println(s"[stream-demo] deduped events: ${spark.table("demo_dedup").count()}")

    // date-partitioned batch sink + pruned read-back
    graft.sources.Sinks.writePartitionedByDate(result, s"$out/by_date")
    // list partitions through the DataFrame so non-local paths work too
    val dirs = graft.sources.Sinks.readPartitioned(spark, s"$out/by_date")
      .select("part_date").distinct().orderBy("part_date")
      .collect().map(_.get(0).toString)
    println(s"[stream-demo] date partitions: ${dirs.length} " +
      s"(${dirs.take(3).mkString(", ")} ...)")
    spark.stop()
  }
}
