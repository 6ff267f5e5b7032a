package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Materialize, SparkEntry}

/** Run parameters, written by run.py as `key=value` lines. */
final case class Spec(kv: Map[String, String]) {
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"spec has no '$k'"))
  def int(k: String): Int = apply(k).toInt
  def long(k: String): Long = apply(k).toLong
  def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
}

object Spec {
  def read(path: String): Spec = Spec(
    Files.readAllLines(Paths.get(path)).asScala.toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
}

/** Drives the engine from outside, through its public entry points only,
  * and writes one raw record (JSON) that run.py turns into metrics. */
object Harness {
  def now(): Long = System.nanoTime()
  def secs(from: Long, to: Long = now()): Double = (to - from) / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def errorText(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ")
    s"${e.getClass.getName}: ${msg.take(300)}"
  }

  def session(cores: Int, workdir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed cost of one trivial job on the warmed session, in ms (median
    * of five). Stamped into every record so runs from different windows
    * can be compared. */
  def trivialJobMs(spark: SparkSession): Double = {
    val ts = (1 to 5).map { _ =>
      val t = now(); spark.range(1).count(); secs(t) * 1e3
    }.sorted
    ts(2)
  }

  /** Peak of the heap left in use after a collection (MB), over every
    * collection since `watch()`: what the program keeps live, whatever
    * size the collector lets the heap grow to. */
  object LiveHeap {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }, null, null)
      case _ =>
    }

    def peakMb(): Double = peak.get / 1048576.0
  }

  def nonHeapMb(): Double =
    ManagementFactory.getMemoryMXBean.getNonHeapMemoryUsage.getUsed / 1048576.0

  def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    LiveHeap.watch()
    val spec = Spec.read(args(0))
    val workload = spec("workload")
    val cores = spec.int("cores")
    val workdir = spec("workdir")
    val traced = spec("trace") == "1"
    val batch = workload != "stream"
    val stream = if (batch) None else Some(new StreamWorkload(spec))

    // Set-up: a session with GraftExtensions and its first job, built
    // three times so its time is a median (the last session is the one
    // measured), then one untimed warm-up of the workload itself.
    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to spec.int("setups")).foreach { _ =>
      if (spark != null) spark.stop()
      val t = now()
      spark = session(cores, workdir)
      spark.range(1).count()
      setups += secs(t)
    }
    val dir = spec("data")
    val tw = now()
    stream match {
      case Some(sw) => sw.warmUp(spark)
      case None =>
        // one pass of the workload itself: codegen, file listings, and JIT
        // profiles of the very plans and data the timed passes run
        val warm = new BatchRun(spark, dir, None, None)
        val errors = warm.measure(workload, 1, 0, _ => spec.list("order.0"))
          .ops.map(_("error").toString).filter(_.nonEmpty)
        require(errors.isEmpty, s"warm-up failed: ${errors.head}")
    }
    // settle before timing: collect the warm-up's garbage now (which also
    // lets Spark's cleaner drop its shuffles), not in the first timed
    // operation
    System.gc()
    val warmupS = secs(tw)
    val calib = Map("nproc" -> cores, "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version, "trivial_job_ms" -> trivialJobMs(spark))

    val tracer = if (traced) Some(new Tracer) else None
    val counters = if (traced) Some(new Counters) else None
    counters.foreach(spark.sparkContext.addSparkListener)

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "jvm_boot_s" -> bootS, "setups_s" -> setups.toSeq,
      "warmup_s" -> warmupS,
      "calibration" -> calib)
    stream match {
      case None =>
        val run = new BatchRun(spark, dir, tracer, counters)
        record ++= run.measure(workload, spec.int("passes"), spec.int("seconds"),
          i => spec.list(s"order.$i")).toMap
      case Some(sw) =>
        record ++= sw.measure(spark, tracer, counters)
    }
    // the gated memory metric is what the program keeps live; VmHWM is
    // recorded next to it, but follows the collector's heap sizing
    record("live_heap_peak_mb") = LiveHeap.peakMb()
    record("non_heap_mb") = nonHeapMb()
    record("mem_peak_mb") = LiveHeap.peakMb() + nonHeapMb()
    record("rss_peak_mb") = rssPeakMb()
    tracer.foreach(t => record("spans") = t.toJson)

    if (traced) {
      // single-threaded baseline: one pass on local[1], reported only
      spark.stop()
      val one = session(1, workdir)
      record("single_thread") = stream match {
        case None =>
          new BatchRun(one, dir, None, None).measure(workload, 1, 0,
            i => spec.list(s"order.$i")).toMap
        case Some(sw) => sw.catchUpOnly(one)
      }
      one.stop()
    } else spark.stop()

    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(spec("out")), mapper.writeValueAsString(record))
  }
}

/** The closed-loop batch workloads: one client runs the registered
  * queries in seeded order, one pass after another. */
final class BatchRun(spark: SparkSession, dir: String, tracer: Option[Tracer],
    counters: Option[Counters]) {
  import Harness._

  private def span[A](name: String, parent: Int, op: String)(body: => A): A =
    tracer match {
      case Some(t) => t.timed(name, parent, op)(body)
      case None => body
    }

  /** Runs whole passes while fewer than `seconds` have passed (always at
    * least one pass, at most `maxPasses`). Dashboard results are collected, as a dashboard does;
    * heavy_batch results are consumed by one fingerprint aggregate. */
  def measure(workload: String, maxPasses: Int, seconds: Int,
      order: Int => Seq[String]): BatchRun.Passes = {
    val collect = workload == "dashboard"
    val root = tracer.map(_.open("workload", 0, workload)).getOrElse(0)
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Double]
    val start = now()
    while (passes.isEmpty || (passes.size < maxPasses && secs(start) < seconds)) {
      val p = passes.size
      val t = now()
      order(p).zipWithIndex.foreach { case (name, i) =>
        ops += runOp(name, s"$workload.$p.$i", p, collect, root, start)
      }
      passes += secs(t)
    }
    val wall = secs(start)
    tracer.foreach(_.close(root))
    counters.foreach(_.quiesce())
    BatchRun.Passes(counters.fold(ops.toSeq)(c =>
      ops.toSeq.map(o => o ++ Map("counters" -> c.of(o("id").toString)))),
      passes.toSeq, wall)
  }

  private def runOp(name: String, id: String, pass: Int, collect: Boolean,
      root: Int, origin: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val opSpan = tracer.map(_.open("operation", root, id)).getOrElse(0)
    val extra = scala.collection.mutable.Map.empty[String, Any]
    var fp: Fingerprint.Fp = Map.empty
    var error = ""
    val gc0 = gcSeconds()
    val t0 = now()
    var t1 = t0
    sc.setJobGroup(id, name, false)
    try {
      val fn = SparkEntry.queries.getOrElse(name,
        throw new NoSuchElementException(s"no registered query '$name'"))
      val tb = now()
      val df = span("operators.build", opSpan, id)(fn(spark, dir))
      extra("build_s") = secs(tb)
      val target: DataFrame = if (collect) df else Fingerprint.aggregate(df)
      if (tracer.isDefined) {
        val tp = now()
        span("plans.plan", opSpan, id)(target.queryExecution.executedPlan)
        extra("plan_s") = secs(tp)
      }
      val te = now()
      val rows = span("operators.exec", opSpan, id)(target.collect())
      t1 = now()
      extra("exec_s") = secs(te, t1)
      fp = if (collect) Fingerprint.ofRows(df.schema, rows)
        else Fingerprint.fromAggregate(df.schema, rows.head)
      if (tracer.isDefined) {
        val (nodes, exchanges) = PlanStats(target.queryExecution.executedPlan)
        extra ++= Map("nodes" -> nodes, "exchanges" -> exchanges,
          "pins" -> sc.getPersistentRDDs.size,
          "pinned_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
    } catch {
      case e: Throwable => error = errorText(e); t1 = now()
    } finally {
      sc.clearJobGroup()
      val tr = now()
      span("materialize.release", opSpan, id)(Materialize.releasePins(spark))
      extra("release_s") = secs(tr)
      tracer.foreach(_.close(opSpan))
    }
    extra("gc_s") = gcSeconds() - gc0
    Map("id" -> id, "name" -> name, "pass" -> pass,
      "start_s" -> secs(origin, t0), "latency_s" -> secs(t0, t1),
      "error" -> error, "fp" -> fp) ++ extra
  }
}

object BatchRun {
  /** The operations of a run (one record each) and its pass times. */
  final case class Passes(ops: Seq[Map[String, Any]], passesS: Seq[Double], wallS: Double) {
    def toMap: Map[String, Any] = Map("ops" -> ops, "passes_s" -> passesS, "wall_s" -> wallS)
  }
}
