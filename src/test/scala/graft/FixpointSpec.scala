package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The convergent-loop combinator: its max-rounds guard, its observed
  * signatures in every Materialize mode, and the job counts of the
  * k-core peel on both of its forms (counts repeat exactly run to run,
  * so a lost saving shows here without any timing). */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  // path 0-1-...-19 (ten peel layers) plus a disjoint triangle: the
  // 2-core is the triangle
  private val pathTriangle =
    (0L until 19L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (100L, 102L))

  private def core(localMaxEdges: Long): Set[Long] =
    Similarity.kcorePeel(pathTriangle.toDF("vec_a", "vec_b"),
        localMaxEdges = localMaxEdges)
      .collect().filter(_.getBoolean(3)).map(_.getLong(0)).toSet

  test("a step that never converges fails with the max-rounds message") {
    val s0 = Fixpoint.start(Seq(1L, 2L, 3L).toDF("x"),
      Fixpoint.checksum(col("x")))
    val e = intercept[IllegalStateException] {
      Fixpoint("counter", s0, maxRounds = 5)(_.select((col("x") + 1).as("x")))
    }
    assert(e.getMessage.contains("counter did not converge within 5 rounds"),
      e.getMessage)
    // layers count against the cap too: 3 rounds of 2 layers exceed 5
    val e2 = intercept[IllegalStateException] {
      Fixpoint("counter", s0, maxRounds = 5, layers = 2)(
        _.select((col("x") + 1).as("x")))
    }
    assert(e2.getMessage.contains("within 5 rounds"), e2.getMessage)
  }

  test("the observed signature equals count() and the aggregate in the " +
      "local, reliable and none Materialize modes") {
    val df = spark.range(0, 1000).select((col("id") % 97).as("k")).distinct()
    val n = df.count()
    val cs = Fixpoint.checksum(col("k"))
    val expect = df.agg(cs.aggs.head, cs.aggs.tail: _*).head().toSeq
    for (mode <- Seq("local", "reliable", "none")) withClue(s"mode=$mode: ") {
      withProp(Materialize.modeProp -> mode) {
        assert(Fixpoint.start(df).rowCount === n)
        assert(Fixpoint.start(df).sig === Seq(n))
        assert(Fixpoint.start(df, cs).sig === expect)
        // a full distributed loop on a short cascade (triangle plus a
        // pendant edge: two rounds) — short because `none` pins
        // nothing, so there the plan grows ~3^layers
        val pendant = Similarity.kcorePeel(
            (pathTriangle.takeRight(3) :+ ((102L, 0L))).toDF("vec_a", "vec_b"),
            localMaxEdges = 0L)
          .collect().filter(_.getBoolean(3)).map(_.getLong(0)).toSet
        assert(pendant === Set(100L, 101L, 102L))
      }
    }
  }

  test("job-count guard: the k-core peel's single-task finish stays at " +
      "a fixed small job count, and its distributed rounds run no count " +
      "job beyond each round's pin") {
    withProp(Materialize.modeProp -> "local") {
      val (localJobs, localExecs) = counted("kcore-local") {
        assert(core(Dedup.ccLocalMaxEdges) === Set(100L, 101L, 102L))
      }
      // one eager pin with the observed count, then the result query
      assert(localExecs.size === 2, localExecs)
      assert(localJobs <= LocalJobs, s"local path ran $localJobs jobs")

      val (distJobs, distExecs) = counted("kcore-dist") {
        assert(core(0L) === Set(100L, 101L, 102L))
      }
      // start pin + 6 double-layer rounds (ten layers to strip the
      // path, one no-op layer pair to see it stable) + result query;
      // a count or aggregate per round would add executions
      assert(distExecs.size === 8, distExecs)
      assert(!distExecs.exists(d => d.startsWith("count at") ||
        d.startsWith("head at")), distExecs)
      assert(distJobs <= DistJobs, s"distributed path ran $distJobs jobs")
    }
  }

  // measured on the suite's session (local[2], 2 shuffle partitions);
  // job counts under AQE are deterministic for a fixed plan and config
  private val LocalJobs = 6
  private val DistJobs = 37
}
