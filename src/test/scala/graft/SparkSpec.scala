package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** The RocksDB state-store provider, as a [[withConf]] pair. */
  val rocksDbStore: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the session confs `kvs` set, then restores each
    * previous value (or unsets it), also when setting or `body` throws:
    * a conf must not leak into the later suites of the JVM. */
  def withConf[A](kvs: (String, String)*)(body: => A): A =
    SparkSpec.withSaved(kvs)(spark.conf.getOption, spark.conf.set,
      spark.conf.unset)(body)

  /** [[withConf]] for JVM system properties. */
  def withProp[A](kvs: (String, String)*)(body: => A): A =
    SparkSpec.withSaved(kvs)(sys.props.get, sys.props.update,
      k => sys.props.remove(k))(body)

  /** Runs `f` with this thread's job group set to `group`, then clears
    * it. The group id alone, not setJobGroup: its description would
    * replace each execution's call site, which the guards read. */
  def inGroup[A](group: String)(f: => A): A = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try f finally sc.setLocalProperty("spark.jobGroup.id", saved)
  }

  /** Jobs and SQL-execution descriptions attributed to job group `tag`
    * while `body` runs in that group (code on other threads, such as a
    * streaming query's foreachBatch, joins it with [[inGroup]]). A
    * marker job after `body` drains the listener bus: events arrive in
    * order, so once the marker is seen every earlier event has been
    * counted. */
  def counted(tag: String)(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val execs = new ConcurrentLinkedQueue[String]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-drain" => drained.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(tag) =>
          execs.add(s.description)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      inGroup(tag)(body)
      inGroup(s"$tag-drain")(sc.parallelize(Seq(1), 1).count())
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (jobs.get, execs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .appName("graft-test")
    .getOrCreate()

  private def withSaved[A](kvs: Seq[(String, String)])(
      get: String => Option[String], set: (String, String) => Unit,
      unset: String => Unit)(body: => A): A = {
    val saved = kvs.map { case (k, _) => k -> get(k) }
    try {
      kvs.foreach { case (k, v) => set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => set(k, v)
      case (k, None) => unset(k)
    }
  }
}
