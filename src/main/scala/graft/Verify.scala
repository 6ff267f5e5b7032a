package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Writes each query's result to `outDir/<name>` and returns the names
    * of the queries that failed. Each dir is deleted before its query
    * runs, so a failed query leaves no result behind — not even the
    * previous run's, which the oracle check would otherwise pass. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.flatMap { case (name, fn) =>
      val dir = new java.io.File(outDir, name)
      try {
        org.apache.commons.io.FileUtils.deleteDirectory(dir)
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.getPath)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
      finally
        // drop orphaned pins (blocks + reliable-mode checkpoint data)
        // between self-contained queries — same per-job isolation as
        // Bench.timeOnce
        Materialize.releasePins(spark)
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name filters (exact or prefix)
    // for fast single-operator iteration; default = everything.
    val keep: String => Boolean = if (args.length > 2) {
      val pats = args(2).split(",").toSeq
      name => pats.exists(p => name == p || name.startsWith(p))
    } else _ => true
    val spark = GraftSession(GraftSession.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.filter { case (name, _) => keep(name) })
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the FULL oracle map regardless of filter: the checker only reads
    // keys matching dumped result dirs, and a complete map lets a
    // scaled sweep regenerate cell-resolved SQL (-Dgraft.oracle
    // .simCells) without re-running any query
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: " +
        failed.sorted.mkString(", "))
      sys.exit(1)
    }
  }
}
