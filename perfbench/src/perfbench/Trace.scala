package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange

/** In-memory span recorder. A span is (id, parent, op, name, start, end);
  * times are seconds since the recorder was made. Spans are written out
  * once, when the run ends. Safe to call from the stream's generator and
  * micro-batch threads. */
final class Tracer {
  private val origin = System.nanoTime()
  private val spans = ArrayBuffer.empty[Array[Any]]

  def secs(nanos: Long): Double = (nanos - origin) / 1e9

  /** Records a finished span and returns its id (ids start at 1; 0 is
    * "no parent"). */
  def record(name: String, parent: Int, op: String, startNs: Long,
      endNs: Long): Int = synchronized {
    spans += Array[Any](spans.size + 1, parent, op, name, secs(startNs),
      secs(endNs))
    spans.size
  }

  /** Reserves an id now, so children can point at it before it ends. */
  def open(name: String, parent: Int, op: String): Int = synchronized {
    spans += Array[Any](spans.size + 1, parent, op, name, secs(System.nanoTime()), Double.NaN)
    spans.size
  }

  def close(id: Int): Unit = synchronized {
    spans(id - 1)(5) = secs(System.nanoTime())
  }

  def timed[A](name: String, parent: Int, op: String)(body: => A): A = {
    val id = open(name, parent, op)
    try body finally close(id)
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      Map("id" -> s(0), "parent" -> s(1), "op" -> s(2), "name" -> s(3),
        "start" -> s(4), "end" -> s(5))
    }
  }
}

/** Spark listener counters, attributed to an operation by job group. */
final class Counters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, pinJobs = 0L
    var taskMs, cpuNs, inBytes, inRows, shuffleBytes, spillBytes = 0L
    val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
    val stageWallMs = mutable.Map.empty[Int, Long]
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Acc]()
  @volatile private var seen = 0L

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  override def onOtherEvent(event: SparkListenerEvent): Unit = seen += 1

  override def onJobStart(job: SparkListenerJobStart): Unit = {
    seen += 1
    val g = Option(job.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      job.stageIds.foreach(stageGroup.put(_, g))
      val pin = job.stageInfos.exists(_.details.contains("graft.Materialize"))
      val a = acc(g)
      a.synchronized { a.jobs += 1; if (pin) a.pinJobs += 1 }
    }
  }

  override def onStageCompleted(stage: SparkListenerStageCompleted): Unit = {
    seen += 1
    val info = stage.stageInfo
    val g = stageGroup.get(info.stageId)
    if (g != null) {
      val a = acc(g)
      a.synchronized {
        a.stages += 1
        for (s <- info.submissionTime; e <- info.completionTime)
          a.stageWallMs(info.stageId) = e - s
      }
    }
  }

  override def onTaskEnd(task: SparkListenerTaskEnd): Unit = {
    seen += 1
    val g = stageGroup.get(task.stageId)
    val m = task.taskMetrics
    if (g != null && m != null) {
      val a = acc(g)
      a.synchronized {
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.stageTaskMs.getOrElseUpdate(task.stageId, ArrayBuffer.empty) +=
          task.taskInfo.duration
      }
    }
  }

  /** Waits until the listener bus has delivered everything posted so far:
    * no new event for two consecutive polls (at most ~10 s). */
  def quiesce(): Unit = {
    var last = -1L
    var still = 0
    var polls = 0
    while (still < 2 && polls < 50) {
      Thread.sleep(200)
      if (seen == last) still += 1 else { still = 0; last = seen }
      polls += 1
    }
  }

  /** Counters of one job group (all zero when it ran no job). */
  def of(group: String): Map[String, Double] = {
    val a = Option(groups.get(group)).getOrElse(new Acc)
    a.synchronized {
      // skew of the longest stage: max over median task time
      val skew = if (a.stageWallMs.isEmpty) 1.0 else {
        val longest = a.stageWallMs.maxBy(_._2)._1
        val ts = a.stageTaskMs.getOrElse(longest, ArrayBuffer.empty).sorted
        if (ts.isEmpty) 1.0
        else ts.last.toDouble / math.max(ts(ts.size / 2).toDouble, 1.0)
      }
      Map("jobs" -> a.jobs.toDouble, "stages" -> a.stages.toDouble,
        "tasks" -> a.tasks.toDouble, "pin_jobs" -> a.pinJobs.toDouble,
        "task_s" -> a.taskMs / 1e3, "cpu_s" -> a.cpuNs / 1e9,
        "input_mb" -> a.inBytes / 1048576.0, "input_rows" -> a.inRows.toDouble,
        "shuffle_mb" -> a.shuffleBytes / 1048576.0,
        "spill_mb" -> a.spillBytes / 1048576.0, "task_skew" -> skew)
    }
  }
}

object PlanStats {
  /** (nodes, exchanges) of an executed plan, looking through adaptive
    * wrappers and query stages into the plan that actually ran. */
  def apply(plan: SparkPlan): (Int, Int) = {
    var nodes = 0
    var exchanges = 0
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case other =>
        nodes += 1
        if (other.isInstanceOf[Exchange]) exchanges += 1
        other.children.foreach(go)
        other.subqueries.foreach(go)
    }
    go(plan)
    (nodes, exchanges)
  }
}
