package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.operators.StockPipeline
import graft.sources.{KafkaSource, MemBrokerProvider, MemoryBroker}
import graft.streaming.StreamingPipeline

/** The reference DAG over the broker wire, as `analysisSink` runs it but
  * with the in-JVM broker as source: JSON ticks → KafkaSource.decode →
  * withEventTime → minuteAggs → foreachBatch(analysisBatch).
  *
  * The events come pre-generated from the seed (one `ticker<TAB>json`
  * line each). A fixed backlog is published before the consumer starts
  * (catch-up throughput); then one generator thread publishes the rest on
  * an open-loop schedule at a fixed rate (per-event latency). The
  * generator lives in this JVM because the broker is JVM-static. */
final class StreamWorkload(spec: Spec) {
  import Harness._

  private val fmt = classOf[MemBrokerProvider].getName
  private val topic = "ticks"
  private val cores = spec.int("cores")
  private val workdir = spec("workdir")
  private val events: Array[(Array[Byte], Array[Byte])] =
    Files.readAllLines(Paths.get(spec("events"))).asScala.toArray.map { l =>
      val i = l.indexOf('\t')
      (l.take(i).getBytes(UTF_8), l.drop(i + 1).getBytes(UTF_8))
    }
  private val backlog = spec.int("backlog")
  private val rate = spec.int("rate")
  private val finalWatermarkMs = spec.long("final_watermark_ms")
  private val backlogWatermarkMs = spec.long("backlog_watermark_ms")
  private val rampEvents = spec.int("ramp_events")

  /** One consumer: a streaming query over one broker/topic, with the
    * sink call times and the progress of every trigger. */
  private final class Consumer(spark: SparkSession, name: String) {
    val base = s"$workdir/stream/$name"
    val minuteStore = s"$base/minutes"
    val sinkCalls = new ConcurrentHashMap[Long, (Long, Long, Boolean)]()
    val pinsMade = new ConcurrentHashMap[Long, Int]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    var failedTriggers = 0
    var error = ""
    MemoryBroker.createTopic(name, topic, cores)

    private val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach { m => failedTriggers += 1; error = m.take(300) }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (query != null && e.progress.id == query.id) progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    var query: StreamingQuery = _
    def start(): Unit = {
      val kafka = spark.readStream.format(fmt).option("broker", name)
        .option("topic", topic).option("partitions", cores.toString).load()
      val minutes = StockPipeline.minuteAggs(
        StreamingPipeline.withEventTime(KafkaSource.decode(kafka)))
      query = minutes.writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$base/checkpoint")
        .trigger(Trigger.ProcessingTime(0L))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val pins0 = spark.sparkContext.getPersistentRDDs.size
          val t = now()
          val nonEmpty = !batch.isEmpty
          if (nonEmpty)
            StreamingPipeline.analysisBatch(batch, batchId, minuteStore, s"$base/analysis")
          sinkCalls.put(batchId, (t, now(), nonEmpty))
          pinsMade.put(batchId, spark.sparkContext.getPersistentRDDs.size - pins0)
          ()
        }
        .start()
    }

    def publish(from: Int, until: Int): Unit = (from until until).foreach { i =>
      MemoryBroker.append(name, topic, events(i)._1, events(i)._2,
        System.currentTimeMillis() * 1000)
    }

    def ends(p: StreamingQueryProgress): Array[Long] =
      p.sources.head.endOffset.trim.stripPrefix("[").stripSuffix("]")
        .split(",").filter(_.trim.nonEmpty).map(_.trim.toLong)

    def sorted: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(_.batchId)

    def watermarkMs(p: StreamingQueryProgress): Option[Long] =
      Option(p.eventTime.get("watermark")).map(java.time.Instant.parse(_).toEpochMilli)

    /** Polls until `done` holds for some trigger's progress (or the query
      * died, or `timeoutS` passed); returns that progress. */
    def await(timeoutS: Double)(done: StreamingQueryProgress => Boolean)
        : Option[StreamingQueryProgress] = {
      val t = now()
      var hit: Option[StreamingQueryProgress] = None
      while (hit.isEmpty && query.isActive && secs(t) < timeoutS) {
        hit = sorted.find(done)
        if (hit.isEmpty) Thread.sleep(5)
      }
      hit.orElse(sorted.find(done))
    }

    def stop(): Unit = {
      if (query != null) {
        query.stop()
        query.exception.foreach { e => failedTriggers += 1; error = errorText(e) }
      }
      spark.streams.removeListener(listener)
    }
  }

  private def consumedAll(c: Consumer, upto: Long)(p: StreamingQueryProgress) =
    c.ends(p).sum >= upto

  /** Publishes the backlog, starts the consumer and waits until the sink
    * has absorbed it: until the `analysisBatch` call returns for the
    * trigger that has read the backlog and runs at its watermark. That is
    * the trigger after the one that read it (append mode: a trigger closes
    * windows by the watermark the triggers before it reached), so the
    * sink's work on the closed windows is timed too. Returns the time and
    * the events that did not reach the sink. */
  private def catchUp(c: Consumer): (Double, Int) = {
    c.publish(0, backlog)
    val t = now()
    c.start()
    val hit = c.await(150) { p =>
      consumedAll(c, backlog)(p) && c.watermarkMs(p).contains(backlogWatermarkMs)
    }
    hit.flatMap(p => Option(c.sinkCalls.get(p.batchId))) match {
      case Some((_, end, true)) => (secs(t, end), 0)
      case _ => (secs(t), backlog)
    }
  }

  /** Untimed: a fresh consumer catches up on the backlog once (planning,
    * codegen, state-store and sink set-up, and JIT profiles of the very
    * catch-up that is timed), then stops. */
  def warmUp(spark: SparkSession): Unit = {
    val c = new Consumer(spark, "warm")
    val (_, missing) = catchUp(c)
    c.stop()
    require(missing == 0 && c.error.isEmpty,
      s"stream warm-up did not reach the sink: ${c.error}")
  }

  def catchUpOnly(spark: SparkSession): Map[String, Any] = {
    val c = new Consumer(spark, "single")
    val (s, missing) = catchUp(c)
    c.stop()
    Map("pass_s" -> s, "events_per_s" -> backlog / s,
      "failed" -> (missing + c.failedTriggers))
  }

  def measure(spark: SparkSession, tracer: Option[Tracer],
      counters: Option[Counters]): Map[String, Any] = {
    val gc0 = gcSeconds()
    // catch-up, several times over the same backlog, each on a fresh
    // consumer; the last consumer goes on into the live phase
    val rounds = (1 to spec.int("catch_up_rounds")).map { k =>
      val c = new Consumer(spark, s"bench$k")
      val r = catchUp(c)
      (c, r)
    }
    rounds.init.foreach(_._1.stop())
    val c = rounds.last._1
    val catchUpS = rounds.map(_._2._1)
    val catchUpMissing = rounds.map(_._2._2).sum
    val broker = s"bench${rounds.size}"

    // live phase: open loop, event i due at t0 + i / rate; its creation
    // stamp is the due time, so a late generator shows in the latency.
    // The first `rampEvents` are not measured: the first triggers after
    // catch-up read few events and close no window, so they are shorter
    // than the steady ones that follow.
    val live = events.length - backlog
    val t0 = now() + 20000000L
    val measuredFromMs = System.currentTimeMillis() + 20 + rampEvents * 1000L / rate
    def measured(p: StreamingQueryProgress): Boolean =
      java.time.Instant.parse(p.timestamp).toEpochMilli >= measuredFromMs
    val due = new Array[Long](live)
    val part = new Array[Int](live)
    val off = new Array[Long](live)
    var lateMaxNs = 0L
    var backlogMax = 0L
    val liveStart = now()
    val gen = new Thread(() => {
      def dueOf(i: Int): Long = t0 + (i * 1e9 / rate).toLong
      var i = 0
      // publish time, recorded as one span per 100 ms of schedule
      var spanStart = 0L
      var busy = 0L
      while (i < live) {
        val n = now()
        if (dueOf(i) > n) LockSupport.parkNanos(math.min(dueOf(i) - n, 2000000L))
        else {
          while (i < live && dueOf(i) <= n) {
            val e = events(backlog + i)
            val (p, o) = MemoryBroker.append(broker, topic, e._1, e._2,
              System.currentTimeMillis() * 1000)
            due(i) = dueOf(i); part(i) = p; off(i) = o
            lateMaxNs = math.max(lateMaxNs, now() - due(i))
            i += 1
          }
          if (spanStart == 0L) spanStart = n
          busy += now() - n
          if (now() - spanStart >= 100000000L || i == live) {
            tracer.foreach(_.record("sources.publish", 0, "generator", spanStart, spanStart + busy))
            spanStart = 0L
            busy = 0L
          }
        }
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // broker backlog: end offset minus the latest trigger's end offset
    while (gen.isAlive) {
      Thread.sleep(50)
      c.sorted.lastOption.foreach { p =>
        backlogMax = math.max(backlogMax,
          MemoryBroker.endOffsets(broker, topic).sum - c.ends(p).sum)
      }
    }
    gen.join()
    val genEnd = now()
    val total = events.length.toLong
    // drain, then wait for the trigger that runs at the final watermark
    val drained = c.await(60)(consumedAll(c, total))
    val atFinal = c.await(60)(c.watermarkMs(_).contains(finalWatermarkMs))
    val liveWallS = secs(liveStart)
    val drainS = secs(genEnd)
    val gcS = gcSeconds() - gc0
    c.stop()
    val pinnedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val progress = c.sorted
    // per-event latency: creation stamp → return of the sink call of the
    // first trigger whose end offset covers the event's offset
    val latencies = ArrayBuffer.empty[Double]
    var missing = catchUpMissing
    val endsOf = progress.map(p => p.batchId -> c.ends(p))
    (0 until live).foreach { i =>
      endsOf.find { case (_, e) => part(i) < e.length && e(part(i)) > off(i) } match {
        case Some((b, _)) if c.sinkCalls.containsKey(b) =>
          if (i >= rampEvents) latencies += (c.sinkCalls.get(b)._2 - due(i)) / 1e6
        case _ => missing += 1
      }
    }
    val liveTriggers = progress.filter(p => measured(p) && p.numInputRows > 0)
    val parity = if (drained.isEmpty || atFinal.isEmpty)
      Map[String, Any]("checked" -> false,
        "error" -> s"final watermark not reached ${c.error}")
    else check(spark, c.minuteStore, s"${c.base}/analysis")
    val parityS = secs(genEnd) - drainS

    tracer.foreach { t =>
      // a trigger starts at its progress timestamp (wall clock) and lasts
      // triggerExecution; the sink call is its child
      val wallToNano = System.currentTimeMillis() * 1000000L - now()
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - wallToNano
        val dur = p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L
        val trig = t.record("streaming.trigger", 0, s"batch${p.batchId}", start, start + dur)
        Option(c.sinkCalls.get(p.batchId)).filter(_._3).foreach { case (s, e, _) =>
          t.record("streaming.sink", trig, s"batch${p.batchId}", s, e)
        }
      }
    }
    counters.foreach(_.quiesce())

    Map("backlog" -> backlog, "catch_up_s" -> catchUpS,
      "live_events" -> live, "live_wall_s" -> liveWallS,
      "latencies_ms" -> latencies.toSeq,
      "trigger_s" -> liveTriggers.map(_.durationMs.getOrDefault("triggerExecution", 0L) / 1e3),
      "missing" -> missing, "failed_triggers" -> c.failedTriggers,
      "error" -> c.error, "parity" -> parity,
      "gen_late_ms_max" -> lateMaxNs / 1e6, "broker_backlog_max" -> backlogMax,
      "gc_s" -> gcS, "drain_s" -> drainS, "parity_s" -> parityS,
      "pinned_mb" -> pinnedMb,
      "triggers" -> progress.map { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val st = p.stateOperators.headOption
        Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "measured" -> measured(p), "duration_ms" -> d,
          "sink_ms" -> Option(c.sinkCalls.get(p.batchId))
            .filter(_._3).map(x => (x._2 - x._1) / 1e6).getOrElse(0.0),
          "pins" -> Option(c.pinsMade.get(p.batchId)).getOrElse(0),
          "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
          "state_mb" -> st.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
          "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
          "late_rows_dropped" -> st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
      },
      "counters" -> counters.map(_.of(c.query.runId.toString)).getOrElse(Map.empty))
  }

  /** Stream/batch parity: the windows closed by the final watermark equal
    * the batch StockPipeline statement over the same events, and so does
    * the analysis table the sink last wrote. */
  private def check(spark: SparkSession, minuteStore: String,
      analysisPath: String): Map[String, Any] = {
    val wm = new java.sql.Timestamp(finalWatermarkMs)
    val wire = spark.read.text(spec("events"))
      .select(substring_index(col("value"), "\t", -1).cast("binary").as("value"))
    val batchMinutes = StockPipeline.minuteAggs(StockPipeline.normalize(
      KafkaSource.decode(wire))).filter(col("window_timestamp") <= lit(wm))
      .localCheckpoint()
    val streamMinutes = spark.read.parquet(minuteStore).drop("batch")
    val batchAnalysis = StockPipeline.analysisFromJoined(
      StockPipeline.joinedFromMinutes(batchMinutes))
    val streamAnalysis = spark.read.parquet(analysisPath)
    // both sides are small (one row per ticker-minute): compare them
    // exactly, as multisets of canonical rows
    def rows(df: DataFrame): Seq[String] = {
      val cols = df.columns.sorted.toIndexedSeq
      df.select(cols.map(c => col(s"`$c`")): _*).collect().toSeq.map(Fingerprint.canon)
    }
    def diff(a: DataFrame, b: DataFrame): Int = {
      val (ra, rb) = (rows(a), rows(b))
      ra.diff(rb).size + rb.diff(ra).size
    }
    val minuteRows = streamMinutes.count()
    Map("checked" -> true, "minute_rows" -> minuteRows,
      "minute_diff" -> diff(streamMinutes, batchMinutes),
      "analysis_diff" -> diff(streamAnalysis, batchAnalysis))
  }
}
