package graft.streaming

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{StockPipeline, TextAnalysis}
import graft.Materialize.PinOps

/** The reference's streaming DAG (`analysis-dataflow-pipeline/
  * pipeline.py:69-133`) under Structured Streaming. The transform logic
  * is the *same* code as the batch path ([[StockPipeline]]) — a
  * streaming DataFrame flows through `normalize`/`agg1m`/`sma5m`
  * unchanged; only the source (readStream), the watermark, and the sink
  * differ. That shared-logic property is the engine's stream/batch
  * parity guarantee, and the MemoryStream tests assert it row-for-row.
  *
  * Beam-default-trigger equivalence (SURVEY.md §2.3 W6): the reference
  * uses fire-once-at-watermark with zero allowed lateness; the
  * Structured Streaming analog is `withWatermark(delay)` + append output
  * mode — each window emits exactly once, late rows beyond the delay are
  * dropped.
  *
  * The stream–stream join of two windowed aggregates (J1) is not
  * expressible as a single continuous plan (agg-after-agg restriction);
  * [[analysisSink]] therefore streams the watermarked minute aggregation
  * (append mode = exactly-once finalized windows) into a minute store
  * and rebuilds the SMA/spike analysis table from that store inside
  * `foreachBatch` in one window pass (SURVEY.md §7.4) — see its doc
  * for the exactly-once argument.
  *
  * Scale notes: state for the windowed aggs lives in the HDFS-backed
  * state store partitioned by (ticker, window) — the same hash layout as
  * the batch shuffle; watermarking bounds state size (old windows are
  * evicted), which is what makes the pipeline run indefinitely on a
  * cluster.
  */
object StreamingPipeline {

  /** Unbounded file-stream source over an events parquet directory (the
    * test stand-in for Pub/Sub / Kafka — S1 in SURVEY.md §2.1). File
    * stream sources need an explicit schema; rather than hard-code one
    * physical timestamp layout (the drift trap that broke round 5), the
    * schema is resolved from the directory's parquet footer and `ts` is
    * normalized through the same branch table as the batch reader
    * ([[graft.sources.Tables.normalizeEventTs]]). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = graft.sources.Tables.eventsRawSchema(spark, dir)
    graft.sources.Tables.normalizeEventTs(
      spark.readStream
        .schema(raw)
        .option("pathGlobFilter", "events.parquet") // stream sources monitor a directory
        .parquet(dir))
  }

  /** Normalize + event-time watermark (P1/P2/P5/P6 + W6). */
  def withEventTime(events: DataFrame, delay: String = "2 minutes"): DataFrame =
    StockPipeline.normalize(events).withWatermark("ts", delay)

  /** Streaming 1-minute tumbling aggregation — batch transform reused. */
  def agg1mStream(eventsWithWatermark: DataFrame): DataFrame =
    StockPipeline.agg1m(eventsWithWatermark)

  /** Streaming 5-minute sliding SMA — batch transform reused. */
  def sma5mStream(eventsWithWatermark: DataFrame): DataFrame =
    StockPipeline.sma5m(eventsWithWatermark)

  /** Bars with a contiguous replay index 0..n-1 in (ts, event_id)
    * order — fully declarative two-level band scan (the
    * [[graft.operators.Packing.packAssign]] pattern): equal-width ts
    * bands from a broadcast min/max aggregate, per-band `row_number`
    * ordered by (ts, event_id), plus broadcast exclusive band offsets.
    * The band expression is monotone in ts and a pure function of it,
    * so band order IS ts order and equal timestamps can never straddle
    * a band — no window spans more than one band, and (unlike the
    * earlier range-partition + rdd.zipWithIndex form this replaces)
    * the plan never leaves Catalyst/whole-stage codegen, so every
    * downstream consumer keeps the columnar path. */
  def indexedBars(spark: SparkSession, dir: String,
      bands: Int = 256): DataFrame = {
    val events = graft.sources.Tables.events(spark, dir)
    val e = events.withColumn("ts_us", unix_micros(col("ts")))
    val bounds = e.agg(min(col("ts_us")).as("lo"), max(col("ts_us")).as("hi"))
    val banded = e.crossJoin(broadcast(bounds))
      .withColumn("band",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(expr(s"((ts_us - lo) * $bands) div (hi - lo + 1)")))
      .drop("lo", "hi")
    // O(bands) partials: the unpartitioned offsets window is the
    // deliberate bounded exception (metadata-sized, one row per band)
    val wo = org.apache.spark.sql.expressions.Window.orderBy(col("band"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("band")).agg(count(lit(1)).as("part"))
      .withColumn("offset", coalesce(sum(col("part")).over(wo), lit(0L)))
      .select(col("band"), col("offset"))
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band")).orderBy(col("ts"), col("event_id"))
    banded.join(broadcast(offsets), Seq("band"))
      .withColumn("idx", col("offset") + row_number().over(wb) - 1)
      .select(events.columns.map(col) :+ col("idx"): _*)
  }

  /** Bars-row ceiling for broadcasting the replay fixture. The
    * reference's recording is a bounded one-day capture (~13.6 k rows —
    * `main.py:50-75`), so the broadcast is the right default plan; but
    * the broadcast was sized by the events table, not by a constant,
    * and a 100× recording would OOM it. Same self-enforcing-contract
    * pattern as [[graft.operators.Dedup.ccLocalMaxEdges]]: past the
    * threshold the join degrades gracefully to a shuffled equi join on
    * the uniformly-distributed idx key instead of failing. 1M slim bar
    * rows ≈ tens of MB — comfortably inside Spark's broadcast budget.
    * Override per-run: `-Dgraft.replay.broadcastMaxRows=N`. */
  val replayBroadcastMaxRowsProp = "graft.replay.broadcastMaxRows"
  def replayBroadcastMaxRows: Long =
    sys.props.get(replayBroadcastMaxRowsProp).map(_.toLong)
      .getOrElse(1L * 1024 * 1024)

  /** The replay idx join with the broadcast guard applied: broadcast
    * below the threshold, plain shuffled equi join above it (stream-
    * static joins plan the shuffle per micro-batch). */
  private def joinBars(ticks: DataFrame, bars: DataFrame, n: Long): DataFrame =
    if (n <= replayBroadcastMaxRows) ticks.join(broadcast(bars), Seq("idx"))
    else ticks.join(bars, Seq("idx"))

  /** S3 replay source: a `rate` stream deterministically indexing into
    * the historical events table — one micro-batch of bars per trigger,
    * replaying history as live data (`main.py:70-75`). Small recordings
    * broadcast; past [[replayBroadcastMaxRows]] the idx join degrades
    * to an ordinary shuffled equi join (see [[joinBars]]). */
  def replayStream(spark: SparkSession, dir: String,
      rowsPerSecond: Int = 100): DataFrame = {
    val bars = indexedBars(spark, dir)
    val n = bars.count()
    joinBars(
      spark.readStream.format("rate")
        .option("rowsPerSecond", rowsPerSecond.toLong).load()
        .withColumn("idx", pmod(col("value"), lit(n))),
      bars, n)
      .drop("idx", "timestamp", "value")
  }

  /** Batch statement of [[replayStream]]'s schedule — the oracle row
    * for the replay generator: rate tick t plays bar idx = t mod n in
    * (ts, event_id) order, so the contiguous [[indexedBars]] index
    * (distributed zipWithIndex, spec-locked to row_number order) is
    * what the oracle independently recomputes. 1.5·n ticks exercise
    * the modulo wraparound. The idx join carries the same
    * [[joinBars]] broadcast guard as the stream side. */
  def replayBatch(spark: SparkSession, dir: String): DataFrame = {
    val bars = indexedBars(spark, dir)
      .select(col("idx"), col("event_id"), col("event_type"), col("user_id"))
    val n = bars.count()
    joinBars(
      spark.range(n * 3 / 2).toDF("tick")
        .withColumn("idx", pmod(col("tick"), lit(n))),
      bars, n)
      .select(col("tick"), col("idx"), col("event_id"), col("event_type"),
        col("user_id"))
      .orderBy(col("tick"))
  }

  /** True stream–stream interval join (StreamingSymmetricHashJoinExec —
    * the one join shape Structured Streaming runs continuously, unlike
    * the agg-after-agg J1 which needs foreachBatch): for each purchase,
    * the same user's click events from the preceding `window`. Both
    * sides carry watermarks; the time-bound condition lets Spark evict
    * join state once the watermark passes, so state stays bounded —
    * the property that makes this run forever on a cluster. */
  def purchaseClickJoin(events: DataFrame, windowMinutes: Int = 10,
      watermarkDelay: String = "1 minute"): DataFrame = {
    require(windowMinutes > 0, s"windowMinutes must be positive: $windowMinutes")
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_event"))
      .withWatermark("p_ts", watermarkDelay)
    val clicks = events
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
      .withWatermark("c_ts", watermarkDelay)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") -
          make_interval(lit(0), lit(0), lit(0), lit(0), lit(0), lit(windowMinutes)) &&
        col("c_ts") <= col("p_ts"))
  }

  /** Streaming exact dedup: drop event_id duplicates arriving within the
    * watermark delay (`dropDuplicatesWithinWatermark` keys state by id
    * and evicts it at the watermark — bounded state, unlike plain
    * `dropDuplicates` whose state grows forever on a stream). */
  def dedupStream(events: DataFrame, delay: String = "2 minutes"): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark("event_id")

  /** True iff the index directory exists AND holds at least one
    * COMMITTED data file. A plain `fs.exists` is not enough: a
    * first-trigger crash mid-write can leave only `_temporary`
    * droppings under `batch=0`, and treating that as a readable index
    * turns every retry into the same "unable to infer schema" failure —
    * a permanent crash loop. Exists-but-no-committed-data must read as
    * "no index yet" (the retry then overwrites its own partition);
    * every other failure mode still propagates and fails the trigger. */
  private def indexHasCommittedData(s: SparkSession, path: String): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(dir) && Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(path, "*/part-*")))
      .exists(_.nonEmpty)
  }

  /** One trigger of [[ingestDedupSink]]: dedup `batch` within itself
    * (min doc_id per fingerprint wins) and against the persisted
    * fingerprint index, then append the survivors to the corpus store
    * and their fingerprints to the index — both into a `batch=<id>`
    * partition written with overwrite, so a REPLAYED trigger after a
    * failure overwrites its own partitions instead of double-ingesting
    * (the index read excludes the current batch's partition for the
    * same reason: a replay must not anti-join against its own earlier
    * attempt). Factored out of the sink so the exactly-once argument is
    * directly testable, replay included.
    *
    * Scale: the index is (fingerprint, doc_id) only — two narrow
    * columns, never the text — and the anti-join is an equi-join on the
    * fingerprint. At cluster scale the index would be bucketed by
    * fingerprint (co-located anti-join, no index shuffle per trigger)
    * and fronted by a bloom filter; the join structure here is already
    * that shape. */
  def ingestBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String): Unit = {
    val s = batch.sparkSession
    val fp = batch.withColumn("fingerprint",
      md5(TextAnalysis.normalizedText(col("text"))))
    val firstInBatch = fp.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"))
    val batchUnique = fp.join(firstInBatch, Seq("fingerprint"))
      .filter(col("doc_id") === col("keep_id")).drop("keep_id")
    // Readability is checked explicitly: only a genuinely absent index
    // (first batch) skips the dedup join. Any OTHER read failure —
    // schema drift, corrupt metadata, permissions — propagates and
    // fails the trigger for retry; swallowing it as "no index yet"
    // would silently double-ingest and break the exactly-once contract.
    val fresh =
      if (indexHasCommittedData(s, indexPath)) {
        val index = s.read.parquet(indexPath)
          .filter(col("batch") =!= batchId) // replay: ignore own attempt
        batchUnique.join(index, Seq("fingerprint"), "left_anti")
      } else batchUnique
    // EAGER pin: `fresh` reads the index path this trigger also
    // writes — the cut must complete before the first sink write, not
    // ride the first action, or correctness would silently depend on
    // the corpus write always preceding the index write
    val kept = fresh.pin(eager = true)
    kept.drop("fingerprint")
      .write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
    kept.select(col("fingerprint"), col("doc_id"))
      .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
  }

  /** Streaming corpus ingest with exactly-once exact dedup against a
    * persisted fingerprint index — the idempotent-ingest front door of
    * a growing training corpus (the streaming twin of
    * [[graft.operators.Dedup.incremental]]'s exact tier; its LSH
    * near-dup tier runs as the batch compaction pass over the stored
    * corpus). Each trigger runs [[ingestBatch]]. */
  def ingestDedupSink(documents: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    documents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestBatch(batch, batchId, corpusPath, indexPath)
        ()
      }
      .start()

  /** Span-dedup front shared by [[ingestSpanBatch]] and
    * [[refreshCuratedBatch]]: in-batch first-occurrence + anti-join vs
    * the persisted span index (own batch excluded for replay), then
    * cleaned-document reassembly. Returns (kept span rows — already
    * materialized, safe against the index read/write overlap —
    * reassembled cleaned documents). */
  private def spanDedupFront(batch: DataFrame, batchId: Long,
      indexPath: String): (DataFrame, DataFrame) = {
    val s = batch.sparkSession
    // first-occurrence rule and reassembly are the batch operator's own
    // helpers — the twins share one definition by construction
    val inBatchKept = graft.operators.Dedup.withSpanFirstFlag(
        graft.operators.Dedup.spanRows(batch))
      .filter(col("is_first")).drop("is_first")
    val fresh =
      if (indexHasCommittedData(s, indexPath)) {
        val index = s.read.parquet(indexPath)
          .filter(col("batch") =!= batchId) // replay: ignore own attempt
        inBatchKept.join(index.select(col("hh")), Seq("hh"), "left_anti")
      } else inBatchKept
    // EAGER pin: `fresh` reads the index path this trigger also
    // writes — materialization must complete before EITHER write
    // starts, so the two writes' order can never matter
    val kept = fresh.pin(eager = true)
    val cleaned = kept.groupBy(col("doc_id"))
      .agg(graft.operators.Dedup.orderedSpanConcat(
        "struct(span_idx, span_text)").as("text"))
      .join(batch.drop("text", "n_chars"), Seq("doc_id"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    (kept, cleaned)
  }

  /** One trigger of [[ingestSpanDedupSink]] — SPAN-level streaming
    * dedup, the streaming twin of [[graft.operators.Dedup.spanDedup]]:
    * incoming documents are cut into fixed-width token spans; a span
    * survives iff it is the first occurrence WITHIN the batch
    * ((doc_id, span_idx) lexicographic — same rule as the batch
    * operator) and its fingerprint is absent from the persisted span
    * index; surviving spans reassemble into cleaned documents (a doc
    * whose every span was already ingested drops entirely), and the
    * surviving fingerprints append to the index. Both writes land in
    * `batch=<id>` partitions with overwrite, and the index read
    * excludes the current batch's partition — a replayed trigger
    * overwrites its own attempt instead of double-ingesting (the
    * [[ingestBatch]] exactly-once pattern at span granularity).
    *
    * Scale: the index is ONE narrow md5 column; the anti-join is an
    * equi-join on it (bucket the index by hash + a Bloom front at
    * cluster scale — [[graft.operators.Curation.decontaminateBloom]]
    * shows that plan shape); span explode and reassembly are the batch
    * operator's map-side/hash-agg stages unchanged. */
  def ingestSpanBatch(batch: DataFrame, batchId: Long, corpusPath: String,
      indexPath: String): Unit = {
    val (kept, cleaned) = spanDedupFront(batch, batchId, indexPath)
    cleaned.write.mode("overwrite").parquet(s"$corpusPath/batch=$batchId")
    kept.select(col("hh"))
      .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
  }

  /** Streaming span-dedup corpus ingest (exactly-once): each trigger
    * runs [[ingestSpanBatch]]. */
  def ingestSpanDedupSink(documents: DataFrame, corpusPath: String,
      indexPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    documents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) ingestSpanBatch(batch, batchId, corpusPath, indexPath)
        ()
      }
      .start()

  /** One trigger of [[curatedRefreshSink]] — the full streaming
    * curated-corpus refresh (the round-3 span-ingest pattern one level
    * up): span-level dedup against the persisted index
    * ([[spanDedupFront]], shared with [[ingestSpanBatch]]), then the
    * batch quality gate ([[graft.operators.Curation.qualityFilter]])
    * over the CLEANED text — a document whose surviving spans no longer
    * clear the gate drops, which is deliberate curation semantics:
    * residual content isn't worth keeping. Survivors land in
    * `batch=<id>` with overwrite; ALL fresh span fingerprints index —
    * including those of quality-rejected documents, so a later
    * duplicate of rejected content cannot re-enter the corpus. Finally
    * the corpus-wide report and checksum manifest rebuild from the
    * updated store and overwrite their paths (the [[analysisSink]]
    * rebuild seam — at cluster scale the same seam incrementalizes to
    * a MERGE per (lang, source) group).
    *
    * Exactly-once: the span front excludes the current batch from the
    * index read and every write is overwrite-by-batch-partition or
    * whole-artifact overwrite, so a replayed trigger reproduces
    * byte-identical corpus, index, report, and checksum (spec-tested). */
  def refreshCuratedBatch(batch: DataFrame, batchId: Long,
      curatedPath: String, indexPath: String, reportPath: String): Unit = {
    val s = batch.sparkSession
    val (kept, cleaned) = spanDedupFront(batch, batchId, indexPath)
    val curated = cleaned
      .join(graft.operators.Curation.qualityFilter(cleaned)
        .select(col("doc_id"), col("keep")), Seq("doc_id"))
      .filter(col("keep")).drop("keep")
    curated.write.mode("overwrite").parquet(s"$curatedPath/batch=$batchId")
    kept.select(col("hh"))
      .write.mode("overwrite").parquet(s"$indexPath/batch=$batchId")
    val corpus = s.read.parquet(curatedPath).drop("batch")
    graft.operators.Curation.corpusReport(corpus)
      .write.mode("overwrite").parquet(reportPath)
    graft.operators.Curation.corpusChecksum(corpus)
      .write.mode("overwrite").parquet(s"${reportPath}_checksum")
  }

  /** Streaming curated-corpus refresh: each trigger runs
    * [[refreshCuratedBatch]] — ingest-dedup-curate-report as ONE
    * exactly-once foreachBatch pipeline. */
  def curatedRefreshSink(documents: DataFrame, curatedPath: String,
      indexPath: String, reportPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    documents.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          refreshCuratedBatch(batch, batchId, curatedPath, indexPath, reportPath)
        ()
      }
      .start()

  /** The quality gate with named observed metrics attached — the
    * production monitoring surface: `observe` plants a CollectMetrics
    * node that aggregates AS THE DATA FLOWS (no second pass, no
    * action), and every trigger's progress event carries the batch's
    * row/keep/kill counts for dashboards and alerting (batch runs
    * surface the same metrics through QueryExecutionListener). The
    * metric exprs are unconditionally-mergeable aggregates, so the
    * node is free at any scale — partial-aggregated alongside the
    * gate itself. */
  def observedQualityGate(documents: DataFrame): DataFrame =
    graft.operators.Curation.qualityFilter(documents)
      .observe("quality_gate",
        count(lit(1)).as("n_rows"),
        // sum over zero rows is NULL, and an empty trigger must report
        // 0, not NPE the monitoring consumer
        coalesce(sum(col("keep").cast("long")), lit(0L)).as("n_kept"))

  /** A `batch=<id>`-partitioned parquet store of `schema` (its last
    * field is the partition column), listed on the driver with one
    * glob of the committed part files. `spark.read` would infer the
    * schema with a job, and past `parallelPartitionDiscovery.threshold`
    * (32) partition directories it lists them with a job too; a store
    * that gains one directory per trigger crosses that after 32
    * triggers. The glob skips `_temporary` droppings as the
    * reader's hidden-path rule does; the listing goes to the file index
    * as a one-entry cache, so nothing outlives the read. */
  private def readStore(s: SparkSession, store: String,
      schema: StructType): DataFrame = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache,
      HadoopFsRelation, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val root = new Path(store)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(root)
    val files = Option(fs.globStatus(new Path(qualified, "batch=*/part-*")))
      .getOrElse(Array.empty[FileStatus])
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        Option.when(p == qualified)(files)
      def putLeafFiles(p: Path, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(s, Seq(qualified), Map.empty,
      Some(schema), listed)
    s.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.init), None, new ParquetFileFormat, Map.empty)(s))
  }

  /** One trigger of [[analysisSink]]: land the trigger's finalized
    * minute rows in their own `batch=<id>` partition (overwrite — a
    * REPLAYED trigger after a mid-trigger kill overwrites its own
    * attempt, _temporary droppings included), then rebuild the analysis
    * sink from the FULL minute store by overwrite
    * ([[StockPipeline.analysisFromMinutes]]: one shuffle by ticker, one
    * window pass). Both writes are idempotent in (batch, batchId), so a
    * replay leaves the minute store and the analysis output
    * byte-stable — factored out of the sink so that exactly-once
    * argument is directly testable.
    *
    * A closing trigger runs two jobs, the two writes, and pins nothing:
    *   - the injected clock `now` (the store's max window end) is
    *     observed inside the minute write with `Dataset.observe`;
    *   - the store is read with the batch's own schema plus `batch`
    *     and listed on the driver ([[readStore]]), so neither a
    *     schema-inference nor a listing job runs.
    *
    * Precondition for that `now`: the batches arrive as an append-mode
    * watermarked aggregation emits them. Each trigger then closes only
    * windows later than every window closed before it, so the batch's
    * max window end is the store's max; a replay of the latest trigger
    * observes the same max. An empty batch (nothing observed) falls
    * back to an aggregate over the store; an observation that has not
    * arrived 30 s after the write fails the trigger. */
  def analysisBatch(batch: DataFrame, batchId: Long, minuteStore: String,
      outPath: String): Unit = {
    val closed = Observation()
    batch.observe(closed, max(col("window_timestamp")))
      .write.mode("overwrite").parquet(s"$minuteStore/batch=$batchId")
    val allMinutes = readStore(batch.sparkSession, minuteStore,
      batch.schema.add("batch", LongType)).drop("batch")
    val now = Option(Await.result(closed.future, 30.seconds).get(0))
      .getOrElse(allMinutes.agg(max(col("window_timestamp"))).head().get(0))
    StockPipeline.analysisFromMinutes(allMinutes, lit(now))
      .write.mode("overwrite").parquet(outPath)
  }

  /** Full end-to-end streaming analysis, cross-batch exact:
    *
    *  1. The minute aggregation runs as a WATERMARKED STREAMING
    *     aggregation in append mode — each (ticker, minute) row is
    *     emitted exactly once, when the watermark finalizes its window.
    *     Windows spanning triggers can therefore never emit duplicate or
    *     partial rows (the state store, not the micro-batch boundary,
    *     owns window completion).
    *  2. foreachBatch lands each trigger's finalized minute rows in a
    *     minute store (one `batch=<id>` partition per trigger, written
    *     with overwrite — a replayed batch after failure overwrites its
    *     own partition, so the store is exactly-once too).
    *  3. The SMA, spike and format run over the FULL minute store
    *     ([[StockPipeline.analysisFromMinutes]]), so SMA windows and
    *     spike history see all history, not just the current batch; the
    *     analysis sink is rebuilt by overwrite, which is idempotent.
    *
    * The rebuild reads the minute-grade store (~|events| /
    * events-per-minute, a ~100-1000× reduction). It must rewrite every
    * row each trigger anyway: `system_latency` is relative to the
    * store's max window end, which every closing trigger moves. Returns
    * the started query (caller awaits/stops). */
  def analysisSink(spark: SparkSession, inputDir: String, outPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val minuteStore = outPath + "_minutes"
    val minutes = StockPipeline.minuteAggs(
      withEventTime(eventsStream(spark, inputDir)))
    minutes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) analysisBatch(batch, batchId, minuteStore, outPath)
        ()
      }
      .start()
  }
}
