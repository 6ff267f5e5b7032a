package graft

import java.nio.file.Files

/** Verify's dump loop: a failed query must not leave a result dir for
  * the oracle check to pass. */
class VerifySpec extends SparkSpec {

  test("a query that throws leaves no stale output and is reported " +
      "as failed; a good query is written") {
    val out = Files.createTempDirectory("graft-verify").toFile
    val stale = new java.io.File(out, "boom")
    stale.mkdirs()
    Files.writeString(new java.io.File(stale, "part-0.parquet").toPath, "old run")
    val failed = Verify.dump(spark, "unused", out.getPath, Seq(
      "boom" -> ((_, _) => throw new IllegalStateException("query failed")),
      "ok" -> ((s, _) => s.range(3).toDF("x"))))
    assert(failed === Seq("boom"))
    assert(!stale.exists(), "the previous run's output must be gone")
    assert(spark.read.parquet(new java.io.File(out, "ok").getPath)
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 1L, 2L))
    org.apache.commons.io.FileUtils.deleteDirectory(out)
  }
}
