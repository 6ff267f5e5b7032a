package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only measurement harness (guide §1): runs named queries and
  * reports, per query, wall seconds beside the scheduler-side
  * decomposition — job count, stage count, task count, summed task
  * time, and shuffle bytes — so "is this query compute-bound or
  * stage-overhead-bound?" is a measurement, not a guess. Not part of
  * the driver contract; Bench stays the timing of record.
  *
  * Usage: sbt "runMain graft.QueryProfile sim_pagerank stock_analysis"
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    sys.env.get("SPARK_GRAFT_MATMODE").foreach(m =>
      sys.props(Materialize.modeProp) = m)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val extra = sys.env.get("SPARK_GRAFT_OPENCOST").map(
      "spark.sql.files.openCostInBytes" -> _).toSeq ++
      sys.env.get("SPARK_GRAFT_EXTRACONF").toSeq.flatMap(_.split(";").map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> v
      })
    val spark = GraftSession(GraftSession.cpus(32), extra: _*)
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    val shuffleB = new AtomicLong
    // optional per-stage decomposition: stage name -> (count, totalTaskMs)
    val stageDetail = sys.env.get("SPARK_GRAFT_PROFILE_STAGES").isDefined
    val byStage = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleB.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          if (stageDetail) {
            val key = s.stageInfo.name.takeWhile(_ != '('). trim
            val wall = (for {
              c <- s.stageInfo.completionTime; b <- s.stageInfo.submissionTime
            } yield c - b).getOrElse(0L)
            byStage.merge(key, (1, m.executorRunTime, wall),
              (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
          }
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null)
          taskMs.addAndGet(t.taskMetrics.executorRunTime)
      }
    })

    try SparkEntry.entry(spark).count() catch { case _: Throwable => }

    val names =
      if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "2").toInt
    println(f"${"query"}%-28s ${"wall_s"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"task_s"}%7s ${"shuf_mb"}%8s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      if (sys.env.contains("SPARK_GRAFT_PROFILE_PLANONLY")) {
        // time analysis+optimization+physical planning alone (operators
        // with eager pins still execute their prefix — noted per query)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.executedPlan }
        catch { case e: Throwable => println(s"$n plan FAILED: ${e.getMessage}") }
        val t1 = (System.nanoTime() - t0) / 1e9
        val t2 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.executedPlan }
        catch { case _: Throwable => }
        val t3 = (System.nanoTime() - t2) / 1e9
        println(f"$n%-28s plan1=$t1%6.2f plan2=$t3%6.2f")
        Materialize.releasePins(spark)
      } else {
      var best: Option[(Double, Int, Int, Int, Double, Double)] = None
      (1 to reps).foreach { _ =>
        jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0); shuffleB.set(0)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(300) // drain listener
          val rec = (wall, jobs.get, stages.get, tasks.get,
            taskMs.get / 1e3, shuffleB.get / 1024.0 / 1024.0)
          if (best.forall(_._1 > wall)) best = Some(rec)
        } catch { case e: Throwable =>
          println(s"$n FAILED: ${e.getMessage}")
        } finally Materialize.releasePins(spark)
      }
      best.foreach { case (w, j, st, tk, ts, sm) =>
        println(f"$n%-28s $w%7.2f $j%5d $st%7d $tk%6d $ts%7.1f $sm%8.2f")
      }
      if (stageDetail) {
        import scala.jdk.CollectionConverters._
        byStage.asScala.toSeq.sortBy(-_._2._3).take(20).foreach {
          case (k, (c, ms, wall)) =>
            println(f"    $k%-40s n=$c%4d taskMs=$ms%7d stageWallMs=$wall%7d")
        }
        byStage.clear()
      }
      }
    }
    spark.stop()
  }
}
