package graft

import org.apache.spark.sql.SparkSession
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
