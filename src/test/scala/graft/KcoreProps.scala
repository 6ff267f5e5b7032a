package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.operators.Similarity

/** Property: the single-task k-core peel equals the distributed
  * Fixpoint rounds on arbitrary graphs — duplicate edges, self-loops
  * and long chains included — and both equal a driver-side peel to
  * convergence. */
object KcoreProps extends Properties("KcorePeel") {

  // every trial runs the distributed rounds — keep trials low
  override def overrideParameters(p: org.scalacheck.Test.Parameters): org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkSpec.session

  private def peel(edges: Seq[(Long, Long)], coreK: Int,
      localMaxEdges: Long): Set[(Long, Long, Long, Boolean)] = {
    import spark.implicits._
    Similarity.kcorePeel(edges.toDF("vec_a", "vec_b"), coreK, localMaxEdges)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
  }

  /** Surviving nodes of the driver-side single-layer peel. */
  private def coreNodes(edges: Seq[(Long, Long)], coreK: Int): Set[Long] = {
    var es = edges
    var changed = true
    while (changed) {
      val deg = es.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val next = es.filter(e => deg(e._1) >= coreK && deg(e._2) >= coreK)
      changed = next.size != es.size
      es = next
    }
    es.flatMap(e => Seq(e._1, e._2)).toSet
  }

  private val graphGen: Gen[(Seq[(Long, Long)], Int)] = for {
    n <- Gen.choose(2, 20)
    m <- Gen.choose(1, 45)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong),
      Gen.choose(0L, n.toLong)))
    coreK <- Gen.oneOf(2, 3)
  } yield (edges, coreK)

  property("single-task peel equals the distributed rounds and the " +
      "driver-side fixpoint (coreK 2 and 3)") =
    forAll(graphGen) { case (edges, coreK) =>
      val local = peel(edges, coreK, localMaxEdges = Long.MaxValue)
      val dist = peel(edges, coreK, localMaxEdges = 0L)
      local == dist &&
        local.filter(_._4).map(_._1) == coreNodes(edges, coreK)
    }
}
