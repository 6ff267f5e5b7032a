package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Input projection for the streaming reservoir: the document key
  * columns plus its salted-hash priority (computed with the SAME
  * column expression as the batch
  * [[graft.operators.Curation.reservoirSample]], so stream and batch
  * rank the identical numbers). */
case class ResDoc(doc_id: Long, lang: String, source: String,
    priority: Long)

/** Per-trigger emission: the shard's current bottom-k plus the
  * shard's running document count — the newest (highest `n_seen`)
  * emission per shard supersedes older ones, exactly the
  * [[HhRow]] supersede convention. */
case class ResRow(shard: Long, n_seen: Long, doc_id: Long, lang: String,
    source: String, priority: Long)

/** Streaming priority (bottom-k) sample as a keyed fold: the batch
  * [[graft.operators.Curation.reservoirSample]] is a bottom-k by
  * (priority, doc_id), which is ASSOCIATIVE — so the streaming twin is
  * EXACT, not approximate, unlike a classical reservoir (whose content
  * depends on encounter order). Documents hash-shard; each shard's
  * carry is its running document count and its own bottom-k (CONSTANT
  * state: shards × k rows at any stream volume), and the global sample
  * is the bottom-k of the union of shard summaries — every global
  * winner is by definition also a winner of its own shard, so the
  * merge loses nothing. */
object ReservoirState {

  /** Shard fan-out — any deterministic doc→shard map works (a doc's
    * candidacy never depends on which shard judged it). */
  val shards = 8

  private[streaming] def fold(k: Int)(shard: Long,
      start: Option[(Long, List[ResDoc])],
      rows: Iterator[ResDoc]): (Option[(Long, List[ResDoc])], Iterator[ResRow]) = {
    var (n, kept) = start.getOrElse((0L, List.empty[ResDoc]))
    rows.foreach { d => n += 1; kept = d :: kept }
    kept = kept.sortBy(d => (d.priority, d.doc_id)).take(k)
    (Some((n, kept)), kept.map(d =>
      ResRow(shard, n, d.doc_id, d.lang, d.source, d.priority)).iterator)
  }

  /** Attach the streaming bottom-k (stream or batch input). */
  def attach(docs: Dataset[ResDoc],
      k: Int = graft.operators.Curation.ReservoirK): Dataset[ResRow] = {
    import docs.sparkSession.implicits._
    implicit val carry: Encoder[(Long, List[ResDoc])] =
      Encoders.kryo[(Long, List[ResDoc])]
    KeyedFold(docs, (d: ResDoc) => math.floorMod(d.doc_id, shards.toLong))(
      fold(k))
  }

  /** Merge an append-sink table of [[ResRow]]s into the global sample:
    * keep each shard's NEWEST summary (max `n_seen` — the supersede
    * rule), then the global bottom-k with the batch twin's exact
    * (priority, doc_id) order and rank. */
  def mergedSample(rows: DataFrame,
      k: Int = graft.operators.Curation.ReservoirK): DataFrame = {
    // per-shard max via a window (the sink table is shards × k rows —
    // metadata-sized; a self-join against the sink VIEW also trips
    // conflicting-reference resolution)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
    val newest = rows
      .withColumn("__max_seen", max(col("n_seen")).over(w))
      .filter(col("n_seen") === col("__max_seen"))
      .select(col("doc_id"), col("lang"), col("source"), col("priority"))
      .distinct()
      .orderBy(col("priority"), col("doc_id")).limit(k)
    newest.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("priority"), col("doc_id"))).cast("long"))
      .orderBy(col("rank"))
  }
}
