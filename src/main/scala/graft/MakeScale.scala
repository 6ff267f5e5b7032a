package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize an N×-scaled copy of a testdata sfDir as
  * parquet (e.g. sf0.1 × 10 ≈ sf1) so `graft.Bench` can produce a
  * measured second scaling point for the heavy composites
  * (`SPARK_GRAFT_BENCH_ONLY` restricts Bench to the queries under
  * study; `bench.json`'s `profile` gives each one's jobs, stages, tasks
  * and task-seconds). Cardinality grows with the data, not just row
  * density, and referential integrity holds: every copy shifts its
  * keys by the same k·10⁹ across fact and dimension tables, so joins
  * keep matching.
  * Fixed-size dimensions (region, nation) are written once, as in
  * TPC-H. Run:
  * `sbt "runMain graft.MakeScale <sfDir> <outDir> <multiple>"`. */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = args(2).toInt
    val spark = GraftSession(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Tables

    def shift(k: Int, cols: String*)(df: DataFrame): DataFrame =
      cols.foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(k.toLong * 1000000000L)))

    def write(name: String, copies: Int => DataFrame): Unit = {
      (0 until n).map(copies).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[make-scale] wrote $name x$n")
    }

    // fixed-size dimensions: written once (TPC-H keeps these constant)
    Tables.region(spark, sfDir).write.mode("overwrite")
      .parquet(s"$outDir/region.parquet")
    Tables.nation(spark, sfDir).write.mode("overwrite")
      .parquet(s"$outDir/nation.parquet")

    write("customer", k => shift(k, "c_custkey")(
      Tables.customer(spark, sfDir)))
    write("supplier", k => shift(k, "s_suppkey")(
      Tables.supplier(spark, sfDir)))
    write("part", k => shift(k, "p_partkey")(Tables.part(spark, sfDir)))
    write("orders", k => shift(k, "o_orderkey", "o_custkey")(
      Tables.orders(spark, sfDir)))
    write("lineitem", k =>
      shift(k, "l_orderkey", "l_partkey", "l_suppkey")(
        Tables.lineitem(spark, sfDir)))

    // events: time-shifted copies (window/key cardinality grows);
    // user_id shifts with the copy so the USER universe scales N× like
    // every other entity — per-user history length stays realistic
    write("events", k => Tables.events(spark, sfDir)
      .withColumn("ts", col("ts") + make_interval(
        lit(0), lit(0), lit(0), lit(31 * k), lit(0), lit(0)))
      .withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
      .withColumn("user_id", col("user_id") + lit(k.toLong * 1000000000L)))

    // documents: per-copy token suffixes (distinct shingles/hashes —
    // key cardinality, not duplicate density, grows); n_chars is
    // recomputed so the table invariant n_chars = length(text) holds
    // for the suffixed copies too
    write("documents", k => {
      val base = Tables.documents(spark, sfDir)
      if (k == 0) base
      else base
        .withColumn("doc_id", col("doc_id") + lit(k.toLong * 1000000000L))
        .withColumn("text", expr(
          s"concat_ws(' ', transform(split(trim(text), '\\\\s+'), t -> concat(t, '_$k')))"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })

    // embeddings: rotated copies (unit norm preserved, distinct points)
    write("embeddings", k => {
      val base = Tables.embeddings(spark, sfDir)
      val r = k % 64
      if (r == 0) base
        .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
      else base
        .withColumn("vec_id", col("vec_id") + lit(k.toLong * 1000000000L))
        .withColumn("embedding", expr(
          s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
    })

    spark.stop()
  }
}
