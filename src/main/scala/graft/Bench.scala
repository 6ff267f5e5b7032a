package graft
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val spark = GraftSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Shuffle accounting per query (job-group attribution): measured,
    // not guessed — lets a round-over-round diff spot a plan regression
    // (new shuffle) even when wall-clock noise hides it.
    val stageToQuery = new ConcurrentHashMap[Int, String]()
    val shuffleBytes = new ConcurrentHashMap[String, AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit = {
        val group = Option(job.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
        if (group != null) job.stageIds.foreach(stageToQuery.put(_, group))
      }
      override def onStageCompleted(stage: SparkListenerStageCompleted): Unit = {
        val q = stageToQuery.get(stage.stageInfo.stageId)
        if (q != null) {
          val m = stage.stageInfo.taskMetrics
          if (m != null) {
            shuffleBytes.computeIfAbsent(q, _ => new AtomicLong).addAndGet(
              m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten)
          }
        }
      }
    })
    // Untimed warm-up: JIT/codegen/parquet-footer caches, so the first
    // timed query isn't charged ~5 s of JVM start-up.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // Right(seconds) on success, Left(exception) on failure — a crashing
    // query must never be recorded as a fast success.
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Either[Throwable, Double] = {
      spark.sparkContext.setJobGroup(name, name)
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable => Left(e) }
      finally {
        spark.sparkContext.clearJobGroup()
        // Queries are self-contained, so any pin still live after the
        // count is an orphan. Releasing here models per-job isolation
        // (each production run is its own session) and keeps the block
        // manager — and, in reliable mode, the checkpoint dir — from
        // filling across 145 queries × trials. Measured:
        // corpus_split_leakfree decays 2.9 s → 14.7 s over trials
        // without this, stays ~2.5 s with.
        Materialize.releasePins(spark)
      }
    }
    // Trials are INTERLEAVED (full pass over all queries, repeated) so a
    // sustained host-contention window poisons at most one sample per
    // query; min per query reflects the plan, not the noisiest moment.
    // SPARK_GRAFT_BENCH_ONLY (comma-separated exact names or prefixes)
    // restricts the roster — dev-only, for targeted scale runs; the
    // driver never sets it, so its rounds always bench everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(ps => ps.exists(p => n == p || n.startsWith(p))) }
    // an empty or typo'd filter must fail loudly, not bench zero queries
    require(names.nonEmpty, s"SPARK_GRAFT_BENCH_ONLY=" +
      s"${only.map(_.mkString(",")).getOrElse("")} matches no query " +
      s"(roster has ${SparkEntry.queries.size})")
    val samples: Seq[Seq[(String, Either[Throwable, Double])]] =
      (1 to trials).map(_ => names.map { case (n, fn) => n -> timeOnce(n, fn) })
    val byName = samples.flatten.groupBy(_._1).map { case (n, ss) =>
      n -> ss.flatMap(_._2.toOption)
    }
    val firstError = samples.flatten.collect { case (n, Left(e)) => n -> e }
      .groupBy(_._1).map { case (n, es) => n -> errorText(es.head._2) }
    val failed = names.map(_._1).filter(n => byName(n).isEmpty)
    val ok = names.map(_._1).filterNot(failed.contains)
    val qs = (ok.map(n => s"\"$n\":" + byName(n).min) ++
        failed.map(n => s"\"$n\":-1"))
      .mkString("{", ",", "}")
    val total = ok.map(n => byName(n).min).sum
    val errs = failed.map(n => s"\"$n\"").mkString("[", ",", "]")
    val errText = failed.map(n => s"\"$n\":${jsonString(firstError(n))}")
      .mkString("{", ",", "}")
    Thread.sleep(2000) // let async listener events drain
    val sh = names.map(_._1).map { n =>
      val mb = Option(shuffleBytes.get(n)).map(_.get).getOrElse(0L) /
        (1024.0 * 1024.0) / math.max(trials, 1)
      s"\"$n\":${math.rint(mb * 100) / 100}"
    }.mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"errors":$errs,"error_text":$errText,"shuffle_mb_per_trial":$sh,"sf":"$sfDir"}"""
    // persist the full per-query map to cwd: the driver captures only a
    // tail of stdout, and round 3 lost the totals to truncation
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench.json"), json + "\n")
    // Compact bounded-size summary FIRST, full per-query map LAST: the
    // round-12 cross-round PERF diff matched zero queries because the
    // r11 tail-capture latched onto the compact line and the r12 one
    // onto the full line. The canonical (tail-most) line must be the
    // per-query map; the compact line survives only as a human-readable
    // header. Top-5 slowest included so the headline costs are visible
    // at a glance.
    val top5 = ok.sortBy(n => -byName(n).min).take(5)
      .map(n => s"\"$n\":${math.rint(byName(n).min * 100) / 100}")
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","n":${names.size},"cpus":$cpus,"errors":$errs,"slowest":$top5,"sf":"$sfDir","full":"bench.json"}"""
    println(compact)
    println(json)
    if (failed.nonEmpty)
      System.err.println(s"BENCH FAILURES: ${failed.mkString(", ")}")
    failed.foreach(n => System.err.println(s"BENCH FAILURE $n: ${firstError(n)}"))
    spark.stop()
  }

  /** A failed query's reason as `bench.json` records it under
    * `error_text`: the exception's class and the first 200 characters
    * of its message. */
  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /** `s` as a JSON string literal. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
