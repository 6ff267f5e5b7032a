package graft

/** Plan-inspection entry: prints the formatted physical plan for one or
  * all registered queries — the feedback loop for shuffle/broadcast/
  * pushdown tuning (run: `sbt "runMain graft.Explain <sfDir> [query]"`). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.drop(1).headOption
    val spark = GraftSession(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_ == n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: $e") }
      }
    spark.stop()
  }
}
