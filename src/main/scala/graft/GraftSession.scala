package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder of the harness mains: `local[cpus]`
  * with as many shuffle partitions, UTC session time, no UI, and the
  * [[GraftExtensions]]. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` as a positive Int. It goes into `local[n]`,
    * the shuffle partitions and, unquoted, into Bench's JSON lines, so
    * anything else fails here with a clear error. */
  private[graft] def parseCpus(raw: String): Int =
    raw.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'"))

  /** [[parseCpus]] of `SPARK_GRAFT_CPUS`, or `default` when it is
    * unset. */
  def cpus(default: Int): Int =
    parseCpus(sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString))

  def apply(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()
}
