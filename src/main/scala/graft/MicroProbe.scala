package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize.PinOps

/** Dev-only micro-benchmark of the convergent-loop round shape: times
  * each component of a BFS-style round (join, aggregate, anti-join,
  * pin, count) over a pinned toy frame, repeated, to attribute the
  * per-round fixed cost that dominates the sim graph family at small
  * scale. */
object MicroProbe {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val und = (1 to 12000).map(i => ((i % 2000).toLong, ((i * 7) % 2000).toLong))
      .toDF("u", "c").pin(eager = true)
    und.count()
    var frontier = (1 to 500).map(i => (1L, i.toLong, 3L))
      .toDF("seed", "node", "dist").pin(eager = true)
    frontier.count()
    val lastTwo = (1 to 900).map(i => (1L, i.toLong))
      .toDF("seed", "node").pin(eager = true)
    lastTwo.count()

    def time(label: String, reps: Int)(body: => Unit): Unit = {
      body // warm
      val t0 = System.nanoTime()
      (1 to reps).foreach(_ => body)
      println(f"$label%-34s ${(System.nanoTime() - t0) / 1e6 / reps}%8.1f ms/rep")
    }

    def expanded: DataFrame = frontier.join(und, col("node") === col("u"))
      .select(col("seed"), col("c").as("nnode"),
        (col("dist") + lit(1L)).as("ndist"))
      .groupBy(col("seed"), col("nnode"))
      .agg(min(col("ndist")).as("ndist"))
      .select(col("seed"), col("nnode").as("node"), col("ndist").as("dist"))

    val reps = 20
    time("join only (count)", reps) {
      frontier.join(und, col("node") === col("u")).count(): Unit
    }
    time("join+agg (count)", reps) { expanded.count(): Unit }
    time("join+agg+anti (count)", reps) {
      expanded.join(lastTwo, Seq("seed", "node"), "left_anti").count(): Unit
    }
    time("full round: pin eager + count", reps) {
      val next = expanded.join(lastTwo, Seq("seed", "node"), "left_anti")
        .pin(eager = true)
      next.count(): Unit
    }
    time("full round: pin lazy + count", reps) {
      val next = expanded.join(lastTwo, Seq("seed", "node"), "left_anti")
        .pin()
      next.count(): Unit
    }
    // AQE off for comparison
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("AQE OFF join+agg+anti (count)", reps) {
      expanded.join(lastTwo, Seq("seed", "node"), "left_anti").count(): Unit
    }
    time("AQE OFF full round eager", reps) {
      val next = expanded.join(lastTwo, Seq("seed", "node"), "left_anti")
        .pin(eager = true)
      next.count(): Unit
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // shuffle partition sensitivity
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    time("sp=4 full round eager", reps) {
      val next = expanded.join(lastTwo, Seq("seed", "node"), "left_anti")
        .pin(eager = true)
      next.count(): Unit
    }
    spark.conf.set("spark.sql.shuffle.partitions", cpus.toString)
    spark.stop()
  }
}
