package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The convergent-loop combinator: its max-rounds guard, its observed
  * signatures in every Materialize mode, the BFS census on hand-built
  * graphs, and the job counts of the k-core peel on both of its forms
  * and of the BFS census (counts repeat exactly run to run, so a lost
  * saving shows here without any timing). */
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

  /** Driver-side census: per component, BFS from its min id; seed ->
    * (n_reached, eccentricity, mean_dist rounded to 6 places). */
  private def driverBfs(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] = {
    val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      .map { case (u, cs) => u -> cs.toSet }
    def bfs(s: Long): Map[Long, Long] = {
      var dist = Map(s -> 0L)
      var frontier = Set(s)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        frontier = frontier.flatMap(adj).diff(dist.keySet)
        dist ++= frontier.map(_ -> d)
      }
      dist
    }
    adj.keys.map(n => bfs(n).keys.min).toSet.map { (s: Long) =>
      val dist = bfs(s).values
      val mean = BigDecimal(dist.sum.toDouble / dist.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      s -> ((dist.size.toLong, dist.max, mean))
    }.toMap
  }

  private def census(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    Similarity.bfsCensus(edges.toDF("vec_a", "vec_b")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("bfsCensus equals a driver-side BFS on a deep path, a 5-cycle and " +
      "a 4-cycle") {
    // the path has depth 19: convergence lands mid-round at 4 layers
    assert(census(pathTriangle) === driverBfs(pathTriangle))
    assert(driverBfs(pathTriangle)(0L) === ((20L, 19L, 9.5)))
    // in the 5-cycle the two depth-2 nodes reach each other in one
    // layer; in the 4-cycle two frontier nodes reach node 12 at once
    val cycles = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (10L, 13L))
    assert(census(cycles) === driverBfs(cycles))
    assert(driverBfs(cycles) === Map(0L -> ((5L, 2L, 1.2)),
      10L -> ((4L, 2L, 1.0))))
  }

  test("job-count guard: the BFS census runs one pinned execution per " +
      "four layers and no count, collect or head inside the loop") {
    withProp(Materialize.modeProp -> "local") {
      val (jobs, execs) = counted("bfs") {
        assert(census(pathTriangle) === driverBfs(pathTriangle))
      }
      // edge pin, adjacency pin, CC start pin and its single-task
      // finish, census start pin, 6 four-layer rounds (five to reach
      // depth 19, one to see the table stable), result collect; a
      // per-round collect or a second pin per round would add
      // executions
      assert(execs.size === 12, execs)
      assert(!execs.init.exists(d => d.startsWith("count at") ||
        d.startsWith("collect at") || d.startsWith("head at")), execs)
      assert(execs.last.startsWith("collect at"), execs)
      assert(jobs <= BfsJobs, s"BFS census ran $jobs jobs")
    }
  }

  // measured on the suite's session (local[2], 2 shuffle partitions);
  // job counts under AQE are deterministic for a fixed plan and config
  private val LocalJobs = 6
  private val DistJobs = 37
  private val BfsJobs = 47
}
