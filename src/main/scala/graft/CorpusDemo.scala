package graft

import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, Packing}
import graft.sources.{Sinks, Tables}
import graft.Materialize.PinOps

/** End-to-end corpus pipeline demo — the library's operators composed
  * the way a real training-data job runs them, from raw documents to a
  * shard layout a data loader can list:
  *
  *   1. curate: quality ∧ exact-dup rep ∧ near-dup cluster rep ∧
  *      decontaminated ([[Curation.curatedCorpus]]);
  *   2. rewrite: span-level dedup removes corpus-repeated passages
  *      from the survivors' text ([[Dedup.spanDedup]]), dropping docs
  *      left empty;
  *   3. plan: the temperature mixture report states each language's
  *      up/downsampling factor ([[Curation.mixturePlan]]);
  *   4. assign: deterministic train/val/test splits + per-split
  *      shuffled shard ids ([[Packing.shardAssign]]);
  *   5. write: exactly one parquet file per (split, shard), rows in
  *      training order inside each file ([[Sinks.writeTrainingShards]]).
  *
  * Every stage is the already-oracle-verified operator — this main just
  * wires them and prints the funnel, so a library user sees the whole
  * path run in one command.
  * Run: `sbt "runMain graft.CorpusDemo [sfDir] [outDir]"`. */
object CorpusDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_corpus")
    val spark = GraftSession(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")

    val docs = Tables.documents(spark, sfDir)
    val nIn = docs.count()

    val audit = Curation.curatedCorpus(docs)
    val kept = docs.join(
      audit.filter(col("keep")).select("doc_id"), Seq("doc_id"))
      .pin() // curation verdicts are final; don't recompute
    val nKept = kept.count()

    // span-level dedup rewrites the surviving text (repeated passages
    // drop; docs reduced to nothing drop entirely)
    val spans = Dedup.spanDedup(kept)
    // coalesce: sum over an empty curated set is NULL, not 0
    val nDupSpans = spans
      .agg(coalesce(sum(col("n_dup_spans")), lit(0L))).head().getLong(0)
    val cleaned = kept.drop("text", "n_chars")
      .join(spans.filter(length(col("clean_text")) > 0)
        .select(col("doc_id"), col("clean_text").as("text")), Seq("doc_id"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .pin()
    val nCleaned = cleaned.count()

    val mix = Curation.mixturePlan(cleaned).collect()
      .map(r => f"${r.getString(0)}=${r.getDouble(5)}%.2fx").mkString(" ")

    // the release manifest: order-insensitive content checksum (NULL
    // xor on an empty corpus prints as 0 rather than crashing the demo)
    val ck = Curation.corpusChecksum(cleaned).head()
    val ckVal = if (ck.isNullAt(3)) 0L else ck.getLong(3)
    val manifest = s"checksum=${java.lang.Long.toHexString(ckVal)}"

    val sharded = Packing.shardAssign(cleaned)
    Sinks.writeTrainingShards(sharded, outDir)

    val bySplit = sharded.groupBy("split")
      .agg(count(lit(1)).as("docs"),
        countDistinct(col("shard_id")).as("shards"))
      .orderBy("split").collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}d/${r.getLong(2)}s")
      .mkString(" ")
    println(s"[corpus-demo] in=$nIn kept=$nKept spanDeduped=$nCleaned " +
      s"(dupSpansRemoved=$nDupSpans) mixture[$mix] $manifest ($bySplit) -> $outDir")
    spark.stop()
  }
}
