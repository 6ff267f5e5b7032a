package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The harness's input checks, its per-query scheduler counts and its
  * record formatting. */
class BenchSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS parses as a positive Int and fails clearly " +
      "otherwise") {
    assert(GraftSession.parseCpus("4") === 4)
    assert(GraftSession.parseCpus(" 32 ") === 32)
    for (bad <- Seq("*", "", "0", "-2", "4.5")) {
      val e = intercept[IllegalArgumentException](GraftSession.parseCpus(bad))
      assert(e.getMessage.contains(s"got '$bad'"), e.getMessage)
    }
  }

  test("error_text keeps a failed query's exception class and the first " +
      "200 characters of its message, as a valid JSON string") {
    val e = new IllegalStateException("bad \"plan\"\n\tat C:\\x " + "y" * 300)
    val text = Bench.errorText(e)
    assert(text === "java.lang.IllegalStateException: " + e.getMessage.take(200))
    assert(Bench.errorText(new RuntimeException) === "java.lang.RuntimeException: ")
    assert(Bench.jsonString("a\"b\\c\nd") === "\"a\\\"b\\\\c\\u000ad\"")
    // parses back to the same text with a real JSON reader
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    assert(json.readValue(Bench.jsonString(text), classOf[String]) === text)
  }

  test("the profiler counts each job group's jobs, stages and tasks; an " +
      "ungrouped job counts toward none") {
    val sc = spark.sparkContext
    val profiler = new Bench.Profiler
    sc.addSparkListener(profiler)
    try {
      // AQE runs the partial-count map stage as its own job, then the
      // final stage in a second job (the map stage skipped there)
      inGroup("bench-a")(spark.range(0, 100, 1, 4).count())
      // a third job and stage for the round-robin exchange's map side
      inGroup("bench-b")(spark.range(0, 100, 1, 4).repartition(3).count())
      spark.range(0, 100, 1, 5).count()
      profiler.drain(sc)
      val a = profiler("bench-a")
      val b = profiler("bench-b")
      assert((a.jobs, a.stages, a.tasks) === ((2L, 2L, 5L)), a)
      assert((b.jobs, b.stages, b.tasks) === ((3L, 3L, 8L)), b)
      assert(b.shuffleBytes > 0 && a.spillBytes === 0L, b)
      assert(profiler("bench-none") === Bench.Profile())
    } finally sc.removeSparkListener(profiler)
  }

  test("bench.json carries the per-query profile and calibration_ms; the " +
      "stdout lines keep their fields and do not carry them") {
    val boom = new IllegalStateException("boom")
    val (compact, line, record) = Bench.render("sfX", 4, 2, 123.456, Seq(
      Bench.Result("q_a", Seq(Right(1.5), Right(1.25)), Bench.Profile(jobs = 6,
        stages = 8, tasks = 20, taskMs = 3000, shuffleBytes = 3L << 20,
        spillBytes = 1L << 20)),
      Bench.Result("q_b", Seq(Left(boom), Left(boom)), Bench.Profile(jobs = 2))))
    val json = new ObjectMapper()
    import scala.jdk.CollectionConverters._
    def fields(s: String) = json.readTree(s).fieldNames.asScala.toSeq
    assert(fields(compact) === Seq("metric", "value", "unit", "n", "cpus",
      "errors", "slowest", "sf", "full"))
    val lineFields = Seq("metric", "value", "unit", "cpus", "queries",
      "errors", "error_text", "shuffle_mb_per_trial", "sf")
    assert(fields(line) === lineFields)
    assert(fields(record) === lineFields ++ Seq("profile", "calibration_ms"))
    val full = json.readTree(record)
    lineFields.foreach(f => assert(full.get(f) === json.readTree(line).get(f), f))
    assert(full.get("queries").get("q_a").asDouble === 1.25)
    assert(full.get("queries").get("q_b").asDouble === -1.0)
    assert(full.get("error_text").get("q_b").asText === Bench.errorText(boom))
    assert(full.get("shuffle_mb_per_trial").get("q_a").asDouble === 1.5)
    val a = full.get("profile").get("q_a")
    assert(a.get("walls").elements.asScala.map(_.asDouble).toSeq === Seq(1.5, 1.25))
    assert(Seq("jobs", "stages", "tasks", "task_s", "spill_mb")
      .map(a.get(_).asDouble) === Seq(3.0, 4.0, 10.0, 1.5, 0.5))
    val b = full.get("profile").get("q_b")
    assert(b.get("walls").size === 0 && b.get("jobs").asDouble === 1.0)
    assert(full.get("calibration_ms").asDouble === 123.46)
    for (s <- Seq(compact, line))
      assert(!s.contains("profile") && !s.contains("calibration_ms"), s)
  }
}
