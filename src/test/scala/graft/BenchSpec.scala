package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness's input checks and record formatting (no Spark session
  * needed). */
class BenchSpec extends AnyFunSuite {

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
}
