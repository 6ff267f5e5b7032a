package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

/** Fixture-level semantics for the round-9 operators — the properties
  * the oracle hash can't articulate (fixpoint claims, tiling
  * invariants, known-graph eigenvalues). */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  test("kcore: the convergent peel reaches the TRUE fixpoint on the " +
      "sf0.001 corpus graph (a driver-side peel-to-convergence agrees)") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.kcore(emb).collect()
    assert(out.nonEmpty)
    val opCore = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    // ground truth: peel the SAME mutual edge list to convergence
    var edges = Similarity.mutualKnnGraph(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= Similarity.kcoreK).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      edges = next
    }
    val trueCore = edges.toSeq.flatMap(e => Seq(e._1, e._2)).toSet
    assert(opCore === trueCore,
      s"bounded peel must equal the fixpoint core (op ${opCore.size} " +
        s"vs true ${trueCore.size})")
    // and every dropped node is genuinely out (deg_final < kcoreK)
    out.filterNot(_.getBoolean(3)).foreach { r =>
      assert(r.getLong(2) < Similarity.kcoreK,
        s"dropped node with core-worthy degree: $r")
    }
  }

  test("kcorePeel: a deliberately deep cascade (20-node path, one " +
      "layer per round) fully peels while an attached triangle " +
      "survives — the stability check, not a fixed unroll, decides") {
    // path 0-1-...-19 (peels endpoint-inward: ~10 rounds for k=2,
    // far past any small fixed unroll) plus a disjoint triangle
    // 100-101-102 (the true 2-core)
    val path = (0L until 19L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = (path ++ tri).toDF("vec_a", "vec_b")
    // both forms: the single-task peel (default threshold) and the
    // distributed rounds (threshold 0)
    for (localMax <- Seq(Dedup.ccLocalMaxEdges, 0L)) withClue(s"localMaxEdges=$localMax: ") {
      val out = Similarity.kcorePeel(edges, localMaxEdges = localMax).collect()
      val core = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
      assert(core === Set(100L, 101L, 102L),
        s"2-core of path+triangle must be the triangle, got $core")
      // every path node fully peeled: deg_final 0
      out.filter(r => r.getLong(0) < 100L).foreach { r =>
        assert(r.getLong(2) === 0L, s"path node not fully peeled: $r")
      }
      // triangle keeps both edges per node
      out.filter(r => r.getLong(0) >= 100L).foreach { r =>
        assert(r.getLong(2) === 2L, s"triangle node degree wrong: $r")
      }
    }
  }

  test("kcorePeel: ODD-depth cascade (triangle + one pendant edge — " +
      "exactly one peel layer to the fixpoint) — the double-layer " +
      "round's second layer is a no-op and the fixpoint is exact") {
    // pendant node 0 hangs off triangle node 102: k=2 removes it in
    // ONE layer, so a double-layer round does layer + no-op; the count
    // stability check must still stop at the true (non-empty) core.
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val edges = (tri :+ ((102L, 0L))).toDF("vec_a", "vec_b")
    val cores = Seq(Dedup.ccLocalMaxEdges, 0L).map { localMax =>
      withClue(s"localMaxEdges=$localMax: ") {
        val out = Similarity.kcorePeel(edges, localMaxEdges = localMax).collect()
        val core = out.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
        assert(core === Set(100L, 101L, 102L),
          s"2-core must be the triangle, got $core")
        val pendant = out.filter(_.getLong(0) == 0L).head
        assert(pendant.getLong(1) === 1L && pendant.getLong(2) === 0L,
          s"pendant must start at degree 1 and peel to 0: $pendant")
        core
      }
    }
    // parity against a driver-side SINGLE-step peel to convergence
    var es = (tri :+ ((102L, 0L))).toSet
    var changed = true
    while (changed) {
      val deg = es.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= 2).keySet
      val next = es.filter(e => keep(e._1) && keep(e._2))
      changed = next != es
      es = next
    }
    cores.foreach { core =>
      assert(es.toSeq.flatMap(e => Seq(e._1, e._2)).toSet === core,
        "double-layer peel must equal the single-step fixpoint")
    }
  }

  // three mutually-nearest vectors => the mutual-kNN graph is a
  // triangle; useful closed forms exist for everything downstream
  private def triangleEmb: DataFrame = Seq(
    (0L, Array(1f, 0.1f, 0f, 0f), 0),
    (1L, Array(1f, 0f, 0.1f, 0f), 0),
    (2L, Array(1f, 0f, 0f, 0.1f), 0),
    // a far-away pair that only links to itself
    (3L, Array(-1f, 0.1f, 0f, 0f), 1),
    (4L, Array(-1f, 0f, 0.1f, 0f), 1))
    .toDF("vec_id", "embedding", "label")

  test("spectralRadius: a triangle + an edge gives lambda ~= 2 (the " +
      "triangle's dominant eigenvalue wins)") {
    val out = Similarity.spectralRadius(triangleEmb, k = 2, cells = 1).collect()
    assert(out.length === 1)
    val r = out.head
    // triangle (3 nodes) + pair edge: n_nodes = 5, undirected edges
    // 3 + 1 doubled = 8 directed
    assert(r.getLong(0) === 5L)
    assert(r.getLong(1) === 8L)
    val lambda = r.getDouble(2)
    // power iteration from uniform converges fast on K3 (true lambda
    // = 2); three iterations land within a few percent
    assert(lambda > 1.8 && lambda < 2.1, s"lambda = $lambda")
  }

  test("snnGraph: two vectors sharing their full kNN lists get SNN " +
      "Jaccard 1 at shared = k") {
    val out = Similarity.snnGraph(triangleEmb, k = 2, cells = 1).collect()
    assert(out.nonEmpty)
    // in the triangle, 0 and 1 both list {the other two}: they share
    // exactly one common neighbor (vector 2) out of deg 2 + 2 - 1
    val p01 = out.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(p01.isDefined)
    assert(p01.get.getLong(2) === 1L)
    assert(p01.get.getDouble(3) === math.rint(1.0 / 3.0 * 1e6) / 1e6)
  }

  test("knnReciprocity: the triangle corpus is fully reciprocal") {
    val out = Similarity.knnReciprocity(triangleEmb, k = 2, cells = 1).collect()
    assert(out.length === 1)
    val r = out.head
    // every kNN choice is returned: reciprocity 1.0. Node degrees: the
    // triangle's 3 nodes pick each other; 3 and 4 pick each other and
    // one far vector each (k = 2 forces a second, unreciprocated edge)
    assert(r.getDouble(3) <= 1.0 && r.getDouble(3) > 0.5)
  }

  test("cdcChunks: chunks tile each document exactly (sum of chunk " +
      "lengths = total bytes; dedup_rate in [0, 1])") {
    val docs = Seq(
      (0L, "src0", "the quick brown fox jumps over the lazy dog " * 20),
      (1L, "src0", "the quick brown fox jumps over the lazy dog " * 20),
      (2L, "src1", "completely different content here that shares " +
        "nothing with the others and rambles on for a while to make " +
        "several chunks appear in the census output"))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.cdcChunks(docs).collect()
    assert(out.length === 2)
    val bySource = out.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(5))).toMap
    // identical docs 0 and 1 chunk identically => src0's distinct
    // chunk count is at most half its total + tolerance for intra-doc
    // repeats; dedup rate strictly positive
    val (nd0, nc0, ndk0, rate0) = bySource("src0")
    assert(nd0 === 2L && nc0 % 2 === 0L, "identical docs, equal chunking")
    assert(ndk0 <= nc0 / 2)
    assert(rate0 >= 0.5)
    val (_, _, _, rate1) = bySource("src1")
    assert(rate1 >= 0.0 && rate1 <= 1.0)
    // tiling: per doc, chunk lengths must sum to the byte length —
    // checked through the census (avg_chunk_len * n_chunks = bytes)
    val srcBytes = Map("src0" -> 2L * docs.filter(col("doc_id") === 0)
      .select(length(col("text"))).head().getInt(0),
      "src1" -> docs.filter(col("doc_id") === 2)
        .select(length(col("text"))).head().getInt(0).toLong)
    out.foreach { r =>
      // avg_chunk_len is rounded to 2dp, so the reconstruction carries
      // up to 0.005 * n_chunks of rounding slack
      val total = r.getDouble(4) * r.getLong(2)
      val want = srcBytes(r.getString(0)).toDouble
      assert(math.abs(total - want) <= 0.005 * r.getLong(2) + 1e-6,
        s"chunks must tile the payload: $r vs $want")
    }
  }

  test("audioLandmarks: a periodic payload yields peaks and bounded " +
      "landmark gaps; counts are consistent") {
    // sawtooth bytes: every 4th frame has a higher byte sum
    val period = ("abcdefgh" * 3 + "zzzzzzzz") * 40
    val docs = Seq((0L, "srcA", period))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Multimodal.audioLandmarks(docs).collect()
    assert(out.length === 1)
    val r = out.head
    val (frames, peaks, lms, keys) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(frames === period.length / Multimodal.AlFrameBytes)
    assert(peaks > 0 && peaks <= frames)
    assert(lms <= math.max(peaks - 1, 0L))
    assert(keys <= lms || lms === 0L)
    if (lms > 0)
      assert(r.getDouble(5) > 0.0 && r.getDouble(5) <= 1.0)
  }

  test("bbitMinhash: the 1-bit estimate of an exact-duplicate pair " +
      "is 1 with full bit agreement") {
    val txt = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, "s", txt), (1L, "s", txt),
      (2L, "s", "totally unrelated words that overlap with nothing " +
        "else in this tiny corpus at all not even a little"))
      .toDF("doc_id", "source", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.bbitMinhash(docs).collect()
    val dup = out.find(r => r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(dup.isDefined, "the duplicate pair must be an LSH candidate")
    assert(dup.get.getDouble(2) === 1.0, "exact Jaccard 1")
    assert(dup.get.getLong(3) === Dedup.coeffs.length.toLong)
    assert(dup.get.getDouble(4) === 1.0, "b-bit estimate 1")
    assert(dup.get.getDouble(5) === 0.0)
  }
}
