package graft

import org.scalatest.funsuite.AnyFunSuite

/** The harness's input checks (no Spark session needed). */
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
}
