package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Similarity

/** The in-code cells sizing rule (round-9): every cells-parameterized
  * ANN/graph operator defaults to `autoCells`, which derives
  * `max(kmK, ceil(n / targetCellSize))` from one cheap corpus count.
  * These tests pin the ANCHOR — the oracle scales must keep deriving
  * exactly kmK=4 (the k the DuckDB oracles unroll Lloyd at), and bigger
  * corpora must grow cells linearly so vectors-per-cell stays
  * near-constant (Σ|cell|² pair work linear in n). */
class CellSizingSpec extends SparkSpec {
  import spark.implicits._

  test("sizedCells anchors: oracle scales derive kmK; larger corpora grow") {
    // sf0.01 embeddings = 500 rows, sf0.1 = 2000 — both must stay at 4
    assert(Similarity.sizedCells(500L) === Similarity.kmK)
    assert(Similarity.sizedCells(2000L) === Similarity.kmK)
    // tiny fixtures (unit tests) floor at kmK
    assert(Similarity.sizedCells(1L) === Similarity.kmK)
    assert(Similarity.sizedCells(0L) === Similarity.kmK)
    // MakeScale sf1 = 20k vectors → 40 cells; the round-8 scaling
    // grid (2k→32k at cells 4→64) sits exactly on the rule's 500/cell
    assert(Similarity.sizedCells(20000L) === 40)
    assert(Similarity.sizedCells(32000L) === 64)
    // ceil, not floor: one vector past a boundary opens a new cell
    assert(Similarity.sizedCells(2001L) === 5)
    // no overflow at extreme counts
    assert(Similarity.sizedCells(Long.MaxValue) === Int.MaxValue)
  }

  test("resolveCells: explicit values pass through untouched") {
    val df = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    assert(Similarity.resolveCells(df, 7) === 7)
    assert(Similarity.resolveCells(df, Similarity.kmK) === Similarity.kmK)
  }

  test("resolveCells(autoCells) counts the base and applies the rule") {
    val small: DataFrame = (0L until 10L).map(i => (i, Array(1f, 0f)))
      .toDF("vec_id", "unit")
    assert(Similarity.resolveCells(small, Similarity.autoCells) ===
      Similarity.kmK)
  }

  test("kmeans default derives cells from the corpus (floor on a fixture)") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0f, 1f, 0f, 0f), 0),
      (2L, Array(0f, 0f, 1f, 0f), 1),
      (3L, Array(0f, 0f, 0f, 1f), 1),
      (4L, Array(-1f, 0f, 0f, 0f), 2),
      (5L, Array(0f, -1f, 0f, 0f), 2)).toDF("vec_id", "embedding", "label")
    val (asg, cents) = Similarity.kmeans(emb)
    // 6 vectors → floor kmK=4 cells, identical to the fixed-k behavior
    assert(cents.count() === Similarity.kmK.toLong)
    assert(asg.count() === 6L)
  }
}
