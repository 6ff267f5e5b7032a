package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.Fixpoint
import graft.Materialize.PinOps

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: Array[Float], label): brute-force cosine top-k as
  * the exact baseline, an IVF (inverted-file) variant as the scale path,
  * and embedding-cosine near-duplicate pairs for dedup.
  *
  * Dot products use the `zip_with`/`aggregate` higher-order functions —
  * codegen'd Catalyst expressions, summed sequentially left-to-right in
  * double precision, bit-identical to the DuckDB oracle's
  * `list_inner_product` over DOUBLE[].
  *
  * Vectors are unit-normalized ONCE in a projection ([[unitized]]),
  * so every pair comparison is a single dot product — versus computing
  * `dot/(√dot·√dot)` per pair, which re-derives both norms O(pairs)
  * times (measured 3× slower wall-clock on the all-pairs query).
  *
  * Scale notes (100 TB):
  *   - Brute force broadcasts the (small) query set and streams the base
  *     table — one map-side pass plus a per-query top-k (no global sort).
  *   - IVF: centroids are a tiny broadcast aggregate; each query probes
  *     `nprobe` cells, cutting the scan to nprobe/k of the base. The
  *     cell id is the natural disk-bucketing column, so at cluster scale
  *     probing is partition-pruned I/O, not a filter.
  *   - Near-dup pairs uses signed-random-projection banding (the same
  *     pigeonhole pattern as [[Dedup.simhashPairs]]): candidate
  *     generation is an equi-join on (band, key), never all-pairs.
  */
object Similarity {

  /** Sequential double-precision dot product of two numeric arrays —
    * the native codegen'd [[graft.functions.DotProduct]] expression
    * (bit-identical to the `aggregate(zip_with(...))` HOF form it
    * replaces, but compiled to a primitive loop inside whole-stage
    * codegen instead of interpreted per-element lambdas). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotNative(a, b)

  /** Unit-normalize a vector column (elementwise divide by L2 norm). */
  def unitize(v: Column): Column =
    transform(v, x => x.cast("double") / sqrt(dot(v, v)))

  /** Cosine of pre-unitized vectors, rounded 6 (oracle-shared). */
  def cosineUnit(ua: Column, ub: Column): Column = round(dot(ua, ub), 6)

  /** (vec_id, label, unit) projection — norms amortized across all
    * downstream pair comparisons. The norm is a separate projection
    * step so the codegen'd dot runs once per VECTOR; inlining it into
    * the transform lambda would re-evaluate it per element (O(dim²)
    * interpreted work — HOF lambda bodies don't codegen). */
  def unitized(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("label"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double") / col("norm"))
          .as("unit"))

  /** Per-query top-k through the engine's own [[graft.plans.GroupedTopK]]
    * operator (bounded heap, no per-partition sort) — same semantics as
    * row_number-over-window + filter, which the oracles still state. */
  private def topKUnordered(scored: DataFrame, k: Int): DataFrame =
    TopK.perKey(scored, Seq("query_id"),
        Seq("cosine" -> true, "neighbor_id" -> false), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))

  private def topK(scored: DataFrame, k: Int): DataFrame =
    topKUnordered(scored, k).orderBy(col("query_id"), col("rank"))

  /** Exact brute-force cosine top-k neighbors for queries vec_id <
    * nQueries: (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame =
    bruteForceTopKEdges(embeddings, k, nQueries)
      .orderBy(col("query_id"), col("rank"))

  /** [[bruteForceTopK]] WITHOUT the registered query's presentation
    * ORDER BY — the form composing operators ([[matryoshkaFidelity]],
    * [[recallReport]]) pin as their exact reference set: a pinned
    * frame materializes its plan as-is, so the total sort + range
    * exchange would be paid for row order the overlap join destroys
    * (the round-12 knnGraphEdges lesson). Identical row content. */
  private[operators] def bruteForceTopKEdges(embeddings: DataFrame,
      k: Int = 5, nQueries: Int = 20): DataFrame = {
    val base = unitized(embeddings)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val scored = base.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
    topKUnordered(scored, k)
  }

  /** Contrastive hard-negative mining: for each query vector, the k
    * MOST similar vectors carrying a DIFFERENT label — the negative
    * pool embedding/contrastive training mines (easy negatives are
    * random; hard negatives are the near-misses that actually move the
    * margin). Same bounded-broadcast probe shape as [[bruteForceTopK]]
    * with the label-inequality folded into the join predicate, so
    * negatives are filtered BEFORE the top-k heap, not after (a
    * post-filter would under-fill k whenever same-label vectors
    * dominate a neighborhood). Output labels ride along so a sampler
    * can stratify negatives per class. */
  def hardNegatives(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val base = unitized(embeddings)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("unit").as("qu"))
    val scored = base.join(broadcast(queries),
        col("vec_id") =!= col("query_id") && col("label") =!= col("qlabel"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label").cast("long").as("neighbor_label"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
    TopK.perKey(scored, Seq("query_id"),
        Seq("cosine" -> true, "neighbor_id" -> false), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-label centroids, unit-normalized: (label, cunit). The existing
    * `label` column plays the IVF coarse quantizer's cell assignment
    * (a k-means build pass would produce it in production). */
  def centroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      // exact decimal sum -> the mean is order-independent, so centroid
      // coordinates (and hence IVF probe selection) stay bit-identical
      // to the oracle under any partitioning
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .select(col("label"), unitize(col("centroid")).as("cunit"))

  /** Label-quality separation report — the class-cohesion diagnostic a
    * labeled embedding corpus gets before training on it: per label,
    * member count, mean cosine of members to their own centroid
    * (cohesion), and the most-confusable other label (nearest centroid
    * by cosine) with its similarity. A label whose nearest-other
    * cosine approaches its cohesion is a mislabeling/overlap candidate.
    *
    * Mechanics: [[centroids]]' decimal-exact unit centroids (shared —
    * one definition cannot drift from the IVF path), cohesion as a
    * DECIMAL(28,10) sum of per-member cosines (order-independent), and
    * the O(labels²) centroid pair table resolved with one `max_by`
    * argmax — labels are metadata-sized, members are the only
    * data-sized scan (one broadcast join + one hash aggregate). */
  def labelSeparation(embeddings: DataFrame): DataFrame = {
    val cents = centroids(embeddings).pin(eager = true)
    val coh = unitized(embeddings)
      .join(broadcast(cents), Seq("label"))
      .select(col("label"), dot(col("unit"), col("cunit")).as("c"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("c").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("cohesion"))
    val nearest = cents.as("a")
      .join(cents.select(col("label").as("label_b"),
        col("cunit").as("cb")), col("label") =!= col("label_b"))
      .select(col("label"), col("label_b"),
        round(dot(col("cunit"), col("cb")), 6).as("cc"))
      .groupBy(col("label"))
      .agg(
        max_by(col("label_b"), struct(col("cc"), -col("label_b")))
          .as("nearest_label"),
        max(col("cc")).as("nearest_cos"))
    coh.join(nearest, Seq("label"))
      .select(col("label").cast("long").as("label"), col("n_vecs"),
        col("cohesion"), col("nearest_label").cast("long")
          .as("nearest_label"), col("nearest_cos"))
      .orderBy(col("label"))
  }

  /** Per-dimension variance profile of the raw embedding matrix — the
    * PCA-lite diagnostic that says which dimensions carry signal (a
    * near-zero-variance dim is dead weight; the Matryoshka truncation
    * decision reads exactly this profile). One posexplode scan with
    * DECIMAL-exact first/second moments per dimension — output is
    * dim-sized, order-independent under any partitioning. */
  def dimVariance(embeddings: DataFrame): DataFrame = {
    val m = embeddings
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"), col("v").cast("double")
        .as("v"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(28,10)")).cast("double").as("s1"),
        sum((col("v") * col("v")).cast("decimal(28,10)")).cast("double")
          .as("s2"))
    val nd = col("n").cast("double")
    val mean = col("s1") / nd
    m.select(col("pos"), col("n"),
        round(mean, 6).as("dim_mean"),
        round(greatest(col("s2") / nd - mean * mean, lit(0.0)), 6)
          .as("dim_var"))
      .orderBy(col("pos"))
  }

  /** Participation ratio of the per-dimension variance spectrum —
    * the effective dimensionality scalar PR = (Σ σ²_d)² / Σ σ⁴_d
    * (equals n_dims for an isotropic cloud, 1 for rank-1 collapse;
    * the eigen-free proxy every embedding-health dashboard wants
    * next to [[dimVariance]]'s per-axis view and
    * [[intrinsicDim]]'s neighbor-based estimate: PR reads GLOBAL
    * anisotropy, the TwoNN reads local manifold dim). Axis-aligned
    * by construction (variances, not eigenvalues) — stated as such.
    *
    * Determinism: consumes [[dimVariance]]'s 6dp-rounded variances;
    * both folds over the 64-row dim grid are VARCHAR-grade
    * DECIMAL(38,18) sums of grid values (the engine-wide convention),
    * so the two scalars are order-free. Scale: everything after the
    * dimVariance aggregate is O(n_dims). */
  def participationRatio(embeddings: DataFrame): DataFrame = {
    val vars = dimVariance(embeddings).select(col("dim_var"))
    vars
      .agg(count(lit(1)).as("n_dims"),
        sum(col("dim_var").cast("decimal(38,18)")).cast("double").as("vt"),
        sum(round(col("dim_var") * col("dim_var"), 12)
          .cast("decimal(38,18)")).cast("double").as("v2t"))
      .select(col("n_dims"),
        round(col("vt"), 6).as("total_var"),
        when(col("v2t") =!= 0.0,
          round(col("vt") * col("vt") / col("v2t"), 6))
          .as("participation_ratio"),
        when(col("v2t") =!= 0.0,
          round(col("vt") * col("vt") / col("v2t") / col("n_dims"), 6))
          .as("pr_share"))
  }

  /** Nearest-centroid-classifier self-accuracy per label: every vector
    * is classified to its highest-cosine LABEL centroid (rounded
    * cosine, ties to the smallest label) and scored against its true
    * label — the quick "are these labels even linearly separable in
    * embedding space" sanity every labeled corpus gets before training
    * a real classifier (the resubstitution flavor, stated as such).
    * One broadcast of the #labels centroid table, one scan, integer
    * accuracy ratios. */
  def nccAccuracy(embeddings: DataFrame): DataFrame = {
    val cents = centroids(embeddings).pin(eager = true)
    val pred = unitized(embeddings)
      .crossJoin(broadcast(cents.select(col("label").as("c_label"),
        col("cunit"))))
      .select(col("vec_id"), col("label").cast("long").as("true_label"),
        col("c_label").cast("long").as("c_label"),
        cosineUnit(col("unit"), col("cunit")).as("c"))
      .groupBy(col("vec_id"), col("true_label"))
      .agg(max_by(col("c_label"), struct(col("c"), -col("c_label")))
        .as("pred_label"))
    pred.groupBy(col("true_label"))
      .agg(count(lit(1)).as("n_vecs"),
        count(when(col("pred_label") === col("true_label"), 1))
          .as("n_correct"))
      .select(col("true_label"), col("n_vecs"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_vecs"), 6)
          .as("accuracy"))
      .orderBy(col("true_label"))
  }

  /** Simplified (centroid-based) silhouette per Lloyd cell: for each
    * member, a = cosine distance to its OWN centroid, b = distance to
    * the nearest OTHER centroid, s = (b − a)/max(a, b); the report is
    * each cell's member count and mean s — the internal clustering
    * quality dual of [[clusterPurity]]'s external view (the full
    * silhouette's pairwise term is replaced by the centroid distance —
    * the standard large-scale simplification, stated as such). Every
    * point reads the k-row broadcast centroid table once; per-cell
    * means are DECIMAL-exact sums of identically-computed doubles.
    * Degenerate points equidistant at 0 score 0. */
  def silhouette(embeddings: DataFrame, cells: Int = autoCells): DataFrame = {
    val (asg, cents) = kmeans(embeddings, cells)
    val scored = asg.crossJoin(broadcast(
        cents.select(col("cell").as("c_cell"), col("centroid"))))
      .select(col("vec_id"), col("cell"), col("c_cell"),
        (lit(1.0) - cosineUnit(col("unit"), col("centroid"))).as("d"))
    val perPoint = scored.groupBy(col("vec_id"), col("cell"))
      .agg(max(when(col("cell") === col("c_cell"), col("d"))).as("a"),
        min(when(col("cell") =!= col("c_cell"), col("d"))).as("b"))
      .select(col("vec_id"), col("cell"),
        when(greatest(col("a"), col("b")) > 0.0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)).as("s"))
    perPoint.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("s").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("mean_silhouette"))
      .orderBy(col("cell"))
  }

  /** Cluster purity of the Lloyd cells against the true labels — the
    * standard external clustering evaluation: per cell, member count,
    * the majority true label (ties to the smallest), its count, and
    * purity = majority/member. One integer hash aggregate on the
    * (cell, label) grain plus a per-cell argmax — evaluation cost is
    * the assignment scan, nothing pairwise. */
  def clusterPurity(embeddings: DataFrame, cells: Int = autoCells): DataFrame = {
    val (asg, _) = kmeans(embeddings, cells)
    val byLabel = asg
      .join(embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("cell"), col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("n").desc, col("label"))
    val sizes = byLabel.groupBy(col("cell")).agg(sum(col("n")).as("n_members"))
    byLabel.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, Seq("cell"))
      .select(col("cell"), col("n_members"),
        col("label").as("majority_label"), col("n").as("n_majority"),
        round(col("n").cast("double") / col("n_members"), 6).as("purity"))
      .orderBy(col("cell"))
  }

  /** Cross-modal quality/embedding separation — the [[labelSeparation]]
    * diagnostic applied to the CURATION signal instead of the label
    * column: join the documents table's rule-based quality verdict
    * ([[Curation.qualityFilter]]) onto the embeddings (doc_id = vec_id
    * — the tables share the id space by construction) and measure, per
    * verdict group, member count, cohesion to the group centroid, and
    * the cosine between the keep/reject centroids. A cross-centroid
    * cosine near the cohesions means the quality rule is invisible in
    * embedding space (the classifier can't learn it from these
    * vectors); a low one means the embeddings separate quality for
    * free. Decimal-exact centroid means and cohesion sums (the
    * [[centroids]] discipline); the join is one broadcast of the slim
    * (doc_id, keep) verdict. */
  def qualitySeparation(documents: DataFrame,
      embeddings: DataFrame): DataFrame = {
    val keep = Curation.qualityFilter(documents)
      .select(col("doc_id"), col("keep"))
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .join(broadcast(keep), col("vec_id") === col("doc_id"))
      .select(col("keep"), col("vec_id"), col("unit"))
    val cents = base
      .select(col("keep"), posexplode(col("unit")).as(Seq("pos", "v")))
      .groupBy(col("keep"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("keep"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
      .select(col("keep"), unitize(col("centroid")).as("cunit"))
      .pin(eager = true)
    val coh = base.join(broadcast(cents), Seq("keep"))
      .select(col("keep"), dot(col("unit"), col("cunit")).as("c"))
      .groupBy(col("keep"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("c").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("cohesion"))
    // two metadata-sized rows on each side — declared broadcast so the
    // planner picks BNLJ over a stats-blind CartesianProduct
    val cross = cents.as("a")
      .join(broadcast(cents.select(col("keep").as("keep_b"),
        col("cunit").as("cb"))), col("keep") =!= col("keep_b"))
      .select(col("keep"), round(dot(col("cunit"), col("cb")), 6)
        .as("cross_cos"))
    coh.join(cross, Seq("keep")).orderBy(col("keep"))
  }

  /** IVF cell-balance report: per-cell member counts, corpus share,
    * and ratio to the mean cell size from the k-means build — the
    * index-health diagnostic (a hot cell breaks the "probe cost ∝
    * near-constant cell size" assumption every IVF latency bound rests
    * on). Cell-count-sized output; one hash aggregate over the
    * assignment table. */
  def cellBalance(embeddings: DataFrame, k: Int = autoCells,
      iters: Int = kmIters): DataFrame = {
    val (asg, _) = kmeans(embeddings, k, iters)
    val counts = asg.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vecs"))
    val tot = counts.agg(sum(col("n_vecs")).as("n_total"),
      count(lit(1)).as("n_cells"))
    counts.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs").cast("double") / col("n_total"), 6)
          .as("share"),
        round(col("n_vecs").cast("double") * col("n_cells") /
          col("n_total"), 6).as("ratio_to_mean"))
      .orderBy(col("cell"))
  }

  /** Embedding-distribution drift report between two corpus slices
    * (vec_id parity stands in for the before/after snapshots a
    * monitoring job compares): per-dimension mean shift ranked by
    * magnitude, plus each slice's member count — the
    * training/serving-skew diagnostic for an embedding pipeline.
    *
    * Mechanics: one posexplode pass with conditional DECIMAL(28,10)
    * sums per slice (order-independent; a second scan per slice would
    * double the read), then per-dim scalar math both engines state
    * identically. Output is dim-count-sized (64 rows) at any corpus
    * size. */
  def driftReport(embeddings: DataFrame): DataFrame = {
    val half = pmod(col("vec_id"), lit(2))
    val dims = embeddings
      .select(half.as("h"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(
        count(when(col("h") === 0, 1)).as("n_a"),
        count(when(col("h") === 1, 1)).as("n_b"),
        sum(when(col("h") === 0, col("v")).cast("decimal(28,10)"))
          .cast("double").as("sa"),
        sum(when(col("h") === 1, col("v")).cast("decimal(28,10)"))
          .cast("double").as("sb"))
    dims
      .select(col("pos").cast("long").as("dim"),
        col("n_a"), col("n_b"),
        round(col("sa") / col("n_a"), 6).as("mean_a"),
        round(col("sb") / col("n_b"), 6).as("mean_b"),
        round(abs(col("sa") / col("n_a") - col("sb") / col("n_b")), 6)
          .as("abs_shift"))
      .orderBy(col("abs_shift").desc, col("dim"))
  }

  /** IVF top-k: each query probes the `nprobe` nearest centroids and
    * searches only vectors in those cells. Approximate by construction. */
  def ivfTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val base = unitized(embeddings)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("label"))
    val probes = queries.crossJoin(broadcast(centroids(embeddings)))
      .select(col("query_id"), col("qu"), col("label"),
        cosineUnit(col("qu"), col("cunit")).as("cdist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qu"), col("label").as("probe_label"))
    val scored = base.join(broadcast(probes),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
    topK(scored, k)
  }

  // ---- k-means IVF build pass (spherical Lloyd, deterministic) ----

  val kmSalt = "graft-kmeans:"
  val kmK = 4
  val kmIters = 3

  /** Sentinel default for every cells-semantic parameter: derive the
    * cell count from the corpus size via [[sizedCells]]. A caller who
    * wants a fixed cell count passes it explicitly; the default now
    * ENCODES the SemDeDup sizing rule (cells ∝ corpus) instead of
    * documenting it — with fixed cells the in-cell candidate volume is
    * n²/cells, measured 11–21× super-linear at 10× data, while under
    * the rule the same queries are near-flat per row (BASELINE.md sf1
    * table, and the 1/4/16× graph-mode scaling curves measured in
    * round 8). */
  val autoCells: Int = -1

  /** Vectors per IVF cell the sizing rule targets. 500 anchors the
    * derivation to the round-8 scaling curves (BASELINE.md: 2k→32k
    * vectors at cells 4→64 = 500/cell) AND keeps every existing
    * oracle valid: the sf0.01 corpus (500 vectors) and the sf0.1
    * corpus (2000) both derive exactly [[kmK]]=4 cells, which is the
    * k the oracles unroll Lloyd at. */
  val targetCellSize = 500L

  /** The sizing rule: `max(kmK, ceil(n / targetCellSize))`, capped to
    * Int range. Keeps vectors-per-cell near-constant so Σ|cell|² pair
    * work stays linear in the corpus. */
  def sizedCells(n: Long): Int = {
    // overflow-safe ceil(n / targetCellSize)
    val ceil = n / targetCellSize + (if (n % targetCellSize == 0L) 0L else 1L)
    math.min(math.max(kmK.toLong, ceil), Int.MaxValue.toLong).toInt
  }

  /** Resolve a cells parameter: explicit values pass through;
    * [[autoCells]] triggers ONE cheap count of the base (a
    * column-pruned scan, O(parquet footers) relative to the build
    * pass it sizes) and applies [[sizedCells]]. */
  def resolveCells(base: DataFrame, cells: Int): Int =
    if (cells != autoCells) cells else sizedCells(base.count())

  /** Deterministic spherical k-means over the unit vectors — the IVF
    * build pass that [[ivfTopK]]'s label-cell stand-in deferred to
    * production. Fully declarative (no driver-side centroid collect):
    * each Lloyd iteration is one broadcast assignment (argmax cosine via
    * the bounded-heap [[TopK]]) plus one decimal-exact per-coordinate
    * mean, re-unitized. Determinism contract (shared with the oracle,
    * which unrolls the same iterations as chained CTEs):
    *   - seeds = the k vectors with smallest salted hash (vec_id
    *     tiebreak) — content-independent of partition layout;
    *   - means as DECIMAL(28,10) sums (order-independent; the
    *     double→decimal rounding has no representable half-way cases,
    *     so both engines agree bit-wise);
    *   - argmax ties broken by cell id.
    * Returns (assignments (vec_id, unit, cell), centroids (cell,
    * centroid)). */
  def kmeans(embeddings: DataFrame, k: Int = autoCells,
      iters: Int = kmIters): (DataFrame, DataFrame) =
    kmeansOnUnits(unitized(embeddings).select(col("vec_id"), col("unit")),
      k, iters)

  /** [[kmeans]] over a pre-unitized (vec_id, unit) base — lets a
    * composing pipeline ([[ivfPqTopK]]) share ONE normalized corpus
    * materialization across its build passes. `k` defaults to the
    * [[autoCells]] sizing rule — resolved HERE, the single funnel every
    * cells-parameterized operator passes through, so one count sizes a
    * whole composed pipeline. */
  def kmeansOnUnits(base: DataFrame, k0: Int = autoCells,
      iters: Int = kmIters): (DataFrame, DataFrame) = {
    val k = resolveCells(base, k0)
    val seeds = base
      .withColumn("hk", graft.functions.Portable.hash32(
        concat(lit(kmSalt), col("vec_id").cast("string"))))
      .orderBy(col("hk"), col("vec_id")).limit(k)
    // unpartitioned window over exactly k rows — not a scale concern
    var cents = seeds
      .withColumn("cell", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("hk"), col("vec_id"))).cast("long") - 1)
      .select(col("cell"), col("unit").as("centroid"))
    var asg = base.withColumn("cell", lit(-1L))
    for (i <- 1 to iters) {
      val scored = base.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("unit"), col("cell"),
          dot(col("unit"), col("centroid")).as("d"))
      // Intermediate iterations checkpoint LAZILY (lineage still
      // truncates when the chain first materializes — iteration i+1 can
      // never re-execute 1..i on later actions), so the loop no longer
      // forces one Spark job per iteration; only the FINAL assignment
      // is eager, because downstream consumers reach it through
      // broadcast exchanges whose jobs would otherwise race to
      // materialize the same un-truncated chain (measured +25% on the
      // IVF-PQ composites with all-lazy). Values unchanged either way.
      val a = TopK.perKey(scored, Seq("vec_id"),
          Seq("d" -> true, "cell" -> false), 1)
        .select(col("vec_id"), col("unit"), col("cell"))
      asg = a.pin(eager = i == iters)
      val cm = asg
        .select(col("cell"), posexplode(col("unit")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("cv"))
      cents = cm.groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("centroid"))
        .select(col("cell"), unitize(col("centroid")).as("centroid"))
    }
    (asg, cents)
  }

  /** IVF top-k over k-means-built cells: each query probes the `nprobe`
    * nearest final centroids and searches only those cells' members —
    * the full production ANN path ([[ivfTopK]] with the build pass
    * included). */
  def ivfKmeansTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    val (asg, cents) = kmeans(embeddings)
    val queries = asg.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qu"), col("cell"),
        cosineUnit(col("qu"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qu"), col("cell").as("probe_cell"))
    val scored = asg.join(broadcast(probes),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
    topK(scored, k)
  }

  /** SemDeDup cosine threshold — shared with the oracle generator.
    * 0.4 sits just under this corpus's max in-cell cosine (~0.47), so
    * both the flagged-duplicate and the kept branch carry rows. */
  val semThreshold = 0.4

  /** SemDeDup (semantic deduplication, Abbas et al. 2023): k-means the
    * embedding space, then within each cluster flag every vector that
    * has a near-identical neighbor (cosine ≥ `threshold`) with a SMALLER
    * id — keep-first-by-id, the deterministic variant of the paper's
    * keep-one-per-group. Emits per vector: its cell, its maximum in-cell
    * cosine (so the pair computation is value-verified even where no
    * pair crosses the threshold), the earlier duplicate it collapses
    * into (NULL if none), and the keep flag.
    *
    * Scale (100 TB): this is exactly why SemDeDup clusters FIRST — the
    * pair search is an equi-join on cell, never the corpus-wide
    * all-pairs product. Cost is Σ|cell|², bounded by choosing k
    * proportional to corpus size (the paper's √n-style sizing keeps
    * cells near-constant); the join shuffles once on cell and each
    * cell's pairing parallelizes independently. The default `k` IS that
    * sizing rule now ([[autoCells]] → [[sizedCells]]); the oracle scales
    * (sf0.01/sf0.1) both derive [[kmK]]=4, the k the oracle unrolls
    * Lloyd at ([[kmeans]]). */
  def semDedup(embeddings: DataFrame,
      threshold: Double = semThreshold, k: Int = autoCells): DataFrame = {
    val (asg, _) = kmeans(embeddings, k)
    val a = asg.select(col("cell"), col("vec_id"), col("unit"))
    val pairs = a.as("a")
      .join(a.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr"),
        cosineUnit(col("a.unit"), col("b.unit")).as("cosine"))
    val perVec = pairs.groupBy(col("vec_id"))
      .agg(max(col("cosine")).as("max_cell_cosine"),
        min(when(col("cosine") >= threshold && col("nbr") < col("vec_id"),
          col("nbr"))).as("dup_of"))
    asg.select(col("vec_id"), col("cell"))
      .join(perVec, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("max_cell_cosine"),
        col("dup_of"), col("dup_of").isNull.as("is_kept"))
      .orderBy(col("vec_id"))
  }

  /** k-nearest-neighbor GRAPH over the whole corpus (not a query set):
    * per vector, its `k` highest-cosine neighbors within its k-means
    * cell — the construction every graph algorithm downstream consumes
    * (label propagation, graph clustering, HNSW layer seeding, dedup
    * components). Cell pruning bounds candidate generation exactly as
    * in [[semDedup]] (equi-join on cell, Σ|cell|² with cells held
    * near-constant by the k-growth rule); per-vector selection is the
    * bounded-heap [[TopK]] — no per-vector sort. Approximate at cell
    * boundaries by construction (a true neighbor in another cell is
    * unseen — the standard IVF trade, nprobe > 1 being the recall
    * knob); the oracle states the same cell-restricted semantics. */
  def knnGraph(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    knnGraphEdges(embeddings, k, cells).orderBy(col("vec_id"), col("rank"))

  /** [[knnGraph]] WITHOUT the presentation ORDER BY — the form every
    * composing operator consumes. A pinned consumer materializes its
    * input plan as-is, so the registered query's total order would
    * otherwise cost each composite a range-partitioning exchange (its
    * sampling pass included) plus a full sort of the edge list, for
    * row order the next join/aggregate destroys anyway (guide §2.4:
    * an ORDER BY used only to make output deterministic is an
    * accidental shuffle). Row CONTENT is identical to [[knnGraph]];
    * only the registered query states the total order. */
  def knnGraphEdges(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val (asg, _) = kmeans(embeddings, cells)
    val a = asg.select(col("cell"), col("vec_id"), col("unit"))
    val pairs = a.as("a")
      .join(a.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        cosineUnit(col("a.unit"), col("b.unit")).as("cosine"))
    TopK.perKey(pairs, Seq("vec_id"),
        Seq("cosine" -> true, "neighbor_id" -> false), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
  }

  /** Multi-probe kNN graph — [[knnGraph]] with the standard IVF recall
    * lever that the single-probe graph lacks: each vector generates
    * candidates from its `nprobe` nearest cells (ranked against the
    * FINAL centroids, ties by cell — the same probe rule as
    * [[ivfKmeansTopK]]'s query side), so a true neighbor one cell over
    * is reachable instead of invisible. Membership stays the Lloyd
    * assignment; only the probe side fans out, so candidate volume is
    * nprobe× the single-probe graph — still an equi-join on cell,
    * never all-pairs, and the per-vector selection is still the
    * bounded-heap [[TopK]]. The oracle states the identical 2-cell
    * semantics (probe ranking by rounded cosine vs the final
    * centroids). */
  def knnGraphMultiProbe(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells, nprobe: Int = 2): DataFrame = {
    val (asg, cents) = kmeans(embeddings, cells)
    val scored = asg.select(col("vec_id"), col("unit"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("unit"), col("cell"),
        cosineUnit(col("unit"), col("centroid")).as("cdist"))
    val probes = TopK.perKey(scored, Seq("vec_id"),
        Seq("cdist" -> true, "cell" -> false), nprobe)
      .select(col("vec_id"), col("unit"), col("cell").as("probe_cell"))
    val b = asg.select(col("cell"), col("vec_id").as("neighbor_id"),
      col("unit").as("bunit"))
    val pairs = probes.join(b,
        col("probe_cell") === col("cell") && col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        cosineUnit(col("unit"), col("bunit")).as("cosine"))
    TopK.perKey(pairs, Seq("vec_id"),
        Seq("cosine" -> true, "neighbor_id" -> false), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** Cosine radius for [[rangeSearch]] — shared with the oracle. */
  val rangeTau = 0.3

  /** Radius (range) search: every neighbor within cosine ≥
    * [[rangeTau]] of each bounded query vector — the "all matches
    * above a similarity floor" complement to top-k (retrieval recall
    * sets, near-dup audits, radius-bounded clustering seeds). Same
    * bounded-broadcast probe shape as [[bruteForceTopK]]: the query
    * set broadcasts, the base table streams once, and the threshold
    * filter runs map-side BEFORE any shuffle — output is the only
    * data-dependent term. Deterministic: the filter compares the
    * ROUNDED cosine (ties can't straddle the radius differently per
    * engine), and the total order is (query_id, cosine desc,
    * neighbor_id). */
  def rangeSearch(embeddings: DataFrame, tau: Double = rangeTau,
      nQueries: Int = 20): DataFrame = {
    val base = unitized(embeddings)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("query_id"), col("cosine").desc, col("neighbor_id"))
  }

  /** Cell medoids: per k-means cell, the member vector most similar to
    * the cell centroid (rounded cosine, ties to the smallest vec_id) —
    * the deterministic "representative exemplar" selection a diversity
    * sampler or cluster-labeling UI consumes (a medoid is a REAL
    * vector, unlike the centroid). One broadcast join of the Lloyd
    * assignment against the k centroids, one per-cell top-1 window —
    * no pair table at any scale. */
  def cellMedoids(embeddings: DataFrame, cells: Int = autoCells): DataFrame = {
    val (asg, cents) = kmeans(embeddings, cells)
    val scored = asg.join(broadcast(cents), Seq("cell"))
      .select(col("cell"), col("vec_id"),
        cosineUnit(col("unit"), col("centroid")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cell")).orderBy(col("cosine").desc, col("vec_id"))
    val sizes = asg.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .join(broadcast(sizes), Seq("cell"))
      .select(col("cell"), col("vec_id").as("medoid_id"), col("cosine"),
        col("n_members"))
      .orderBy(col("cell"))
  }

  /** Label-propagation seed bound / rounds / graph degree — shared
    * with the oracle generator. */
  val lpSeeds = 100
  val lpIters = 2
  val lpK = 3

  /** Semi-supervised label propagation over the [[knnGraph]]: vectors
    * with vec_id < [[lpSeeds]] keep their true label (clamped seeds);
    * every other vector takes the majority label of its k nearest
    * neighbors' current labels, iterated [[lpIters]] rounds — the
    * classic cheap label-densification pass a partially-labeled
    * embedding corpus gets before training a classifier on it.
    *
    * Deterministic by construction: votes are integer counts, the
    * argmax breaks ties to the smallest label, and unlabeled
    * neighbors simply don't vote (a node with zero labeled neighbors
    * stays NULL that round). Scale: the graph build is the cell-
    * pruned [[knnGraph]]; each round is one equi-join of the slim
    * (edge) list against the label table plus a hash-agg argmax —
    * the [[pageRank]] iteration shape with integer votes instead of
    * float mass, lineage cut per round. */
  def labelPropagation(embeddings: DataFrame, seeds: Int = lpSeeds,
      iters: Int = lpIters, k: Int = lpK, cells: Int = autoCells): DataFrame =
    lpLabels(knnGraphEdges(embeddings, k, cells)
        .select(col("vec_id"), col("neighbor_id")).pin(),
        embeddings, seeds, iters)
      .select(col("vec_id"), (col("vec_id") < seeds).as("is_seed"),
        col("lab").as("label"))
      .orderBy(col("vec_id"))

  /** The propagation core over a prebuilt edge list — shared by
    * [[labelPropagation]] and [[lpCommunities]] so the vote semantics
    * cannot drift between the label table and its quality report.
    * Returns (vec_id, lab — nullable). */
  private[operators] def lpLabels(edges: DataFrame, embeddings: DataFrame,
      seeds: Int, iters: Int): DataFrame = {
    val isSeed = col("vec_id") < seeds
    val base = embeddings.select(col("vec_id"),
      when(isSeed, col("label").cast("long")).as("seed_lab"))
    var labels = base.select(col("vec_id"), col("seed_lab").as("lab"))
    for (_ <- 1 to iters) {
      val votes = edges
        .join(labels.select(col("vec_id").as("neighbor_id"),
          col("lab").as("nlab")), Seq("neighbor_id"))
        .filter(col("nlab").isNotNull)
        .groupBy(col("vec_id"), col("nlab"))
        .agg(count(lit(1)).as("c"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("vec_id")).orderBy(col("c").desc, col("nlab"))
      val argmax = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nlab").as("vote_lab"))
      labels = base.join(argmax, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("seed_lab"), col("vote_lab")).as("lab"))
        .pin()
    }
    labels
  }

  /** Community-quality report for the propagated labels: per
    * community, node count, internal-edge count, degree sum, and its
    * Newman modularity contribution `m_c/m − (d_c/2m)²` over the
    * SYMMETRIZED kNN graph restricted to labeled nodes — the standard
    * "are these communities better than random" check that decides
    * whether the propagation result is usable. One shared edge build
    * (the same pinned list the labels were computed from — the vote
    * and the audit can't see different graphs), then integer-exact
    * edge/degree counts; the only doubles are the per-community
    * closed-form terms, one row per community. */
  def lpCommunities(embeddings: DataFrame, seeds: Int = lpSeeds,
      iters: Int = lpIters, k: Int = lpK, cells: Int = autoCells): DataFrame =
    lpCommunityReport(embeddings, seeds, iters, k, cells)
      .orderBy(col("community"))

  /** [[lpCommunities]] WITHOUT the registered query's presentation
    * ORDER BY — the form composing operators ([[conductance]]) pin:
    * a pinned frame materializes its plan as-is, so the total sort +
    * range exchange would be paid for row order the next join or
    * aggregate destroys (the round-12 knnGraphEdges lesson). Identical
    * row content. */
  private[operators] def lpCommunityReport(embeddings: DataFrame,
      seeds: Int = lpSeeds, iters: Int = lpIters, k: Int = lpK,
      cells: Int = autoCells): DataFrame = {
    val edges = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id"), col("neighbor_id")).pin()
    val labels = lpLabels(edges, embeddings, seeds, iters)
      .filter(col("lab").isNotNull)
    // undirected simple graph: dedupe the symmetrized pair set
    val und = edges
      .select(least(col("vec_id"), col("neighbor_id")).as("a"),
        greatest(col("vec_id"), col("neighbor_id")).as("b"))
      .distinct()
    val labeled = und
      .join(labels.select(col("vec_id").as("a"), col("lab").as("la")),
        Seq("a"))
      .join(labels.select(col("vec_id").as("b"), col("lab").as("lb")),
        Seq("b"))
    val m = labeled.agg(count(lit(1)).as("m_edges"))
    val degrees = labeled.select(col("a").as("v"), col("la").as("lab"))
      .unionAll(labeled.select(col("b").as("v"), col("lb").as("lab")))
      .groupBy(col("lab"))
      .agg(count(lit(1)).as("degree_sum"))
    val internal = labeled.filter(col("la") === col("lb"))
      .groupBy(col("la").as("lab"))
      .agg(count(lit(1)).as("in_edges"))
    val nodes = labels.groupBy(col("lab"))
      .agg(count(lit(1)).as("n_nodes"))
    val md = col("m_edges").cast("double")
    nodes
      .join(degrees, Seq("lab"), "left")
      .join(internal, Seq("lab"), "left")
      .crossJoin(broadcast(m))
      .select(col("lab").as("community"), col("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        round(coalesce(col("in_edges"), lit(0L)).cast("double") / md -
          (coalesce(col("degree_sum"), lit(0L)).cast("double") /
            (lit(2.0) * md)) *
          (coalesce(col("degree_sum"), lit(0L)).cast("double") /
            (lit(2.0) * md)), 6).as("modularity_term"))
  }

  /** Per-community conductance over the label-propagation communities
    * on the same symmetrized kNN graph as [[lpCommunities]]:
    * φ(S) = cut(S) / min(vol(S), vol(V∖S)) — the bottleneck measure
    * that says how leaky each community's boundary is (low φ = a
    * well-separated cluster; modularity can look fine while one
    * community leaks). Everything is exact integers derived from the
    * community report's own cells: cut = degree_sum − 2·in_edges,
    * vol = degree_sum, 2m = Σ degree_sum over the ≤seeds-row report —
    * one final guarded division.
    *
    * Scale: inherits [[lpCommunities]]'s bounded-join plan; the
    * conductance postprocess touches only the metadata-sized
    * community grid (crossJoin of a broadcast 1-row total). */
  def conductance(embeddings: DataFrame, seeds: Int = lpSeeds,
      iters: Int = lpIters, k: Int = lpK, cells: Int = autoCells): DataFrame = {
    // pin: the ≤seeds-row report feeds BOTH the total and the main
    // select — without the cut the whole LP pipeline re-derives per
    // branch (measured 6.2 s vs 3.1 s at sf0.1). The UNORDERED report
    // form: the pin would otherwise materialize lpCommunities' total
    // sort + range exchange for order the crossJoin destroys.
    val report = lpCommunityReport(embeddings, seeds, iters, k, cells)
      .select(col("community"), col("n_nodes"), col("in_edges"),
        col("degree_sum"))
      .pin(eager = true)
    val tot = report.agg(sum(col("degree_sum")).as("vol_total"))
    report.crossJoin(broadcast(tot))
      .select(col("community"), col("n_nodes"), col("in_edges"),
        col("degree_sum"),
        (col("degree_sum") - lit(2L) * col("in_edges")).as("cut_edges"),
        round((col("degree_sum") - lit(2L) * col("in_edges"))
            .cast("double") /
          when(least(col("degree_sum"),
              col("vol_total") - col("degree_sum")) > 0,
            least(col("degree_sum"),
              col("vol_total") - col("degree_sum")).cast("double")),
          6).as("conductance"))
      .orderBy(col("community"))
  }

  /** Cosine threshold for [[knnComponents]] edges — shared with the
    * oracle generator (the [[semThreshold]] pattern). 0.3 keeps enough
    * in-cell edges that components merge across the kNN graph while
    * still splitting the corpus into several hundred clusters. */
  val knnComponentThreshold = 0.3

  /** Embedding cluster components: the [[knnGraph]] edges at cosine ≥
    * [[knnComponentThreshold]] run through the SAME large-star/
    * small-star connected-components operator the text dedup uses
    * ([[Dedup.clustersBigStar]] — O(log n) checkpointed rounds). One
    * definition so the registry entry, the oracle generator, and any
    * composing pipeline can never drift on the threshold or the edge
    * projection. */
  def knnComponents(embeddings: DataFrame,
      threshold: Double = knnComponentThreshold): DataFrame =
    Dedup.clustersBigStar(
        knnGraphEdges(embeddings)
          .filter(col("cosine") >= threshold)
          .select(col("vec_id").as("doc_a"), col("neighbor_id").as("doc_b")))
      .withColumnRenamed("doc_id", "vec_id")

  /** Linear CKA (centered kernel alignment) between the two 32-dim
    * halves of the embedding: CKA = ‖X̄ᵀȲ‖²_F / (‖X̄ᵀX̄‖_F·‖ȲᵀȲ‖_F) —
    * the standard representation-similarity metric (Kornblith et al.
    * 2019), here answering "do the embedding's halves encode the same
    * geometry" (≈1: redundant halves — a Matryoshka-style truncation
    * is nearly free; ≈0: independent subspaces). Computed entirely in
    * FEATURE space: d×d cross-moment matrices from one vec_id
    * equi-join per Gram term — never the n×n Gram matrix — with
    * centering via the per-dim sums (c_ij = s_ij − s_i s_j / n). All
    * sums ride the DECIMAL(38,18) grid.
    *
    * Scale: each cell table is a (d/2)² hash aggregate fed by a d²/4
    * per-row fan-out join — cost ∝ n·d², independent of n². */
  def ckaHalves(embeddings: DataFrame): DataFrame = {
    def d18(c: Column) = sum(c.cast("decimal(38,18)")).cast("double")
    val base = unitized(embeddings)
    val ex = base
      .select(col("vec_id"), posexplode(col("unit")).as(Seq("pos", "v")))
      // feeds both halves of three cross-moment joins
      .pin(eager = true)
    val xs = ex.filter(col("pos") < 32)
      .select(col("vec_id"), col("pos").as("i"), col("v").as("xi"))
    val ys = ex.filter(col("pos") >= 32)
      .select(col("vec_id"), (col("pos") - 32).as("j"), col("v").as("yj"))
    val n1 = base.agg(count(lit(1)).as("n"))
    val si = xs.groupBy(col("i")).agg(d18(col("xi")).as("si"))
    val sj = ys.groupBy(col("j")).agg(d18(col("yj")).as("sj"))
    def hsic(l: DataFrame, r: DataFrame, ld: String, rd: String,
        lv: String, rv: String, ls: DataFrame, rs: DataFrame,
        lsn: String, rsn: String): DataFrame = {
      val cells = l.join(r, Seq("vec_id"))
        .groupBy(col(ld), col(rd))
        .agg(d18(col(lv) * col(rv)).as("sij"))
      cells.join(broadcast(ls), Seq(ld))
        .join(broadcast(rs), Seq(rd))
        .crossJoin(broadcast(n1))
        .select((col("sij") -
          col(lsn) * col(rsn) / col("n").cast("double")).as("c"))
        .agg(d18(col("c") * col("c")).as("h"))
    }
    val xs2 = xs.select(col("vec_id"), col("i").as("i2"),
      col("xi").as("xi2"))
    val si2 = si.select(col("i").as("i2"), col("si").as("si2"))
    val ys2 = ys.select(col("vec_id"), col("j").as("j2"),
      col("yj").as("yj2"))
    val sj2 = sj.select(col("j").as("j2"), col("sj").as("sj2"))
    val hxy = hsic(xs, ys, "i", "j", "xi", "yj", si, sj, "si", "sj")
      .withColumnRenamed("h", "hxy")
    val hxx = hsic(xs, xs2, "i", "i2", "xi", "xi2", si, si2,
      "si", "si2").withColumnRenamed("h", "hxx")
    val hyy = hsic(ys, ys2, "j", "j2", "yj", "yj2", sj, sj2,
      "sj", "sj2").withColumnRenamed("h", "hyy")
    n1.crossJoin(broadcast(hxy)).crossJoin(broadcast(hxx))
      .crossJoin(broadcast(hyy))
      .select(col("n").as("n_vectors"),
        round(col("hxy"), 8).as("hsic_xy"),
        round(col("hxx"), 8).as("hsic_xx"),
        round(col("hyy"), 8).as("hsic_yy"),
        round(col("hxy") / when(col("hxx") * col("hyy") > 0.0,
          sqrt(col("hxx") * col("hyy"))), 6).as("cka"))
  }

  /** Davies–Bouldin index over the Lloyd cells in cosine-distance
    * geometry (d = 1 − rounded cosine): per cell the mean
    * member-to-centroid distance S_i, per cell pair the centroid
    * separation M_ij, R_ij = (S_i+S_j)/M_ij, D_i = max_j R_ij, and
    * DB = mean D_i — lower is better-separated; the internal validity
    * companion to [[silhouette]] that penalizes centroid crowding
    * directly. All means ride the DECIMAL(28,10) grid (the
    * [[silhouette]] convention); the centroid pair table is the ≤k²
    * metadata grid.
    *
    * Scale: one broadcast join member→centroid + one hash aggregate;
    * everything after is k-row algebra. */
  def daviesBouldin(embeddings: DataFrame, cells: Int = autoCells): DataFrame = {
    val (asg, cents) = kmeans(embeddings, cells)
    val sWithin = asg.join(broadcast(cents), Seq("cell"))
      .select(col("cell"),
        (lit(1.0) - cosineUnit(col("unit"), col("centroid"))).as("d"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"),
        (sum(col("d").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("si"))
    val cpairs = cents.select(col("cell").as("ci"), col("centroid").as("ca"))
      .crossJoin(broadcast(
        cents.select(col("cell").as("cj"), col("centroid").as("cb"))))
      .filter(col("ci") =!= col("cj"))
      .select(col("ci"), col("cj"),
        (lit(1.0) - cosineUnit(col("ca"), col("cb"))).as("m"))
    val dmax = cpairs
      .join(broadcast(sWithin.select(col("cell").as("ci"),
        col("si"))), Seq("ci"))
      .join(broadcast(sWithin.select(col("cell").as("cj"),
        col("si").as("sj"))), Seq("cj"))
      .select(col("ci").as("cell"),
        ((col("si") + col("sj")) / when(col("m") =!= 0.0, col("m")))
          .as("r"))
      .groupBy(col("cell")).agg(max(col("r")).as("di"))
    val db = dmax.agg(
      (sum(col("di").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("db"))
    sWithin.join(dmax, Seq("cell"), "left").crossJoin(broadcast(db))
      .select(col("cell"), col("n_members"),
        round(col("si"), 6).as("s_within"),
        round(col("di"), 6).as("r_max"),
        round(col("db"), 6).as("db_index"))
      .orderBy(col("cell"))
  }

  /** Calinski–Harabasz (variance-ratio) index over the Lloyd cells on
    * the unit sphere: CH = (B/(k−1)) / (W/(n−k)) with W = Σ members
    * ‖x−c_cell‖² = Σ (2 − 2·cos) (spherical centroids are unit, so
    * the squared Euclidean IS 2−2cos) and B = Σ_i n_i·‖c_i−g‖²
    * against the per-dimension decimal-mean global vector g (NOT
    * unitized — it is the true Fréchet mean of the units). Higher is
    * better. The two g dot products round to the 1e-6 grid so the
    * k-term B sum is cross-engine pinned.
    *
    * Scale: W is one broadcast join + scalar aggregate; g is one
    * posexplode hash aggregate to dim rows; B is k-row algebra. */
  def calinskiHarabasz(embeddings: DataFrame,
      cells: Int = autoCells): DataFrame = {
    val (asg, cents) = kmeans(embeddings, cells)
    val w = asg.join(broadcast(cents), Seq("cell"))
      .select((lit(2.0) -
        lit(2.0) * cosineUnit(col("unit"), col("centroid"))).as("d2"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("d2").cast("decimal(28,10)")).cast("double").as("w_ss"))
    val gm = asg.select(posexplode(col("unit")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("gv"))
    val g = gm.agg(transform(
      array_sort(collect_list(struct(col("pos"), col("gv")))),
      s => s.getField("gv")).as("g"))
    val sizes = asg.groupBy(col("cell")).agg(count(lit(1)).as("n_i"))
    val b = cents.join(broadcast(sizes), Seq("cell"))
      .crossJoin(broadcast(g))
      .select((col("n_i").cast("double") *
        (lit(1.0) - lit(2.0) * round(dot(col("centroid"), col("g")), 6) +
          round(dot(col("g"), col("g")), 6))).as("bterm"),
        col("n_i"))
      .agg(count(lit(1)).as("k_cells"),
        sum(col("bterm").cast("decimal(28,10)")).cast("double").as("b_ss"))
    val kd = col("k_cells").cast("double")
    val nd = col("n_vectors").cast("double")
    val wTerm = col("w_ss") / when(nd - kd =!= 0.0, nd - kd)
    w.crossJoin(broadcast(b))
      .select(col("n_vectors"), col("k_cells"),
        round(col("w_ss"), 6).as("w_ss"),
        round(col("b_ss"), 6).as("b_ss"),
        round((col("b_ss") / when(kd - 1.0 =!= 0.0, kd - 1.0)) /
          when(wTerm =!= 0.0, wTerm), 6).as("ch_index"))
  }

  /** DBSCAN radius / core threshold — shared with the oracle. Chosen
    * against the synthetic corpus's in-cell cosine distribution
    * (p95 ≈ 0.21, p99 ≈ 0.29): 0.3/3 yields a 133-core / 158-border /
    * 209-noise split across 22 density clusters at sf0.01 — real
    * density substructure, not the 4 k-means cells echoed back. */
  val dbscanTau = 0.3
  val dbscanMinPts = 3

  /** Density-based clustering (DBSCAN) over the embedding corpus with
    * cosine ≥ [[dbscanTau]] as the ε-neighborhood: vectors with ≥
    * [[dbscanMinPts]] in-cell neighbors are CORE; connected components
    * over core–core edges are the clusters (id = min member, the
    * [[Dedup.clustersBigStar]] contract); non-core vectors touching a
    * core are BORDER (assigned the min cluster id among their core
    * neighbors — the deterministic variant of DBSCAN's first-reached
    * rule); the rest is NOISE. Unlike [[kmeans]] every vector is NOT
    * forced into a cluster — noise is the point. Neighborhoods are
    * cell-restricted exactly as in [[knnGraph]]/[[semDedup]] (the IVF
    * trade, stated identically by the oracle), so the pair search is
    * an equi-join on cell — never corpus all-pairs; the threshold
    * filter compares the ROUNDED cosine map-side before any shuffle.
    *
    * Scale: Σ|cell|² candidate generation with cells held
    * near-constant by the k-growth rule; degree count and border
    * argmin are hash aggregates on the (already eps-filtered) edge
    * list; the component step is the size-adaptive big-star loop. An
    * isolated core (all neighbors border) keeps its own id via the
    * coalesce — it is a real 1-core cluster, not noise. */
  def dbscan(embeddings: DataFrame, tau: Double = dbscanTau,
      minPts: Int = dbscanMinPts, cells: Int = autoCells): DataFrame = {
    val (asg, _) = kmeans(embeddings, cells)
    val a = asg.select(col("cell"), col("vec_id"), col("unit"))
    val nbrs = a.as("a")
      .join(a.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr"),
        cosineUnit(col("a.unit"), col("b.unit")).as("cosine"))
      .filter(col("cosine") >= tau)
      // feeds degree, core-core edges AND the border argmin — without
      // the cut the kmeans + pair join re-derives per branch
      .pin(eager = true)
    val deg = nbrs.groupBy(col("vec_id")).agg(count(lit(1)).as("n_nbrs"))
    val cores = deg.filter(col("n_nbrs") >= minPts).select(col("vec_id"))
    val coreEdges = nbrs
      .join(cores, Seq("vec_id"), "leftsemi")
      .join(cores.select(col("vec_id").as("nbr")), Seq("nbr"), "leftsemi")
      .select(col("vec_id").as("doc_a"), col("nbr").as("doc_b"))
    val cc = Dedup.clustersBigStar(coreEdges)
      .withColumnRenamed("doc_id", "vec_id")
    val coreOut = cores.join(cc, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id").cast("long"))
          .as("cluster_id"))
      .pin(eager = true)
    val border = nbrs
      .join(cores, Seq("vec_id"), "leftanti")
      .join(coreOut.select(col("vec_id").as("nbr"), col("cluster_id")),
        Seq("nbr"))
      .groupBy(col("vec_id"))
      .agg(min(col("cluster_id")).as("cluster_id"))
    val lab = coreOut.select(col("vec_id"), col("cluster_id"),
        lit("core").as("role"))
      .unionAll(border.select(col("vec_id"), col("cluster_id"),
        lit("border").as("role")))
    asg.select(col("vec_id"))
      .join(lab, Seq("vec_id"), "left")
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("role"), lit("noise")).as("role"),
        col("cluster_id"), coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"))
      .orderBy(col("vec_id"))
  }

  /** Embedding outlier detection — the embedding-space curation op: each
    * vector's cosine to its OWN label centroid, bottom-k per label = the
    * mislabeled/noisy candidates a training-data pipeline reviews or
    * drops (the vector-space sibling of the text quality filters).
    * Centroids are decimal-exact dimension-wise means (the [[kmeans]]
    * aggregation mechanics: posexplode → (label, pos) hash agg →
    * ordered reassembly → unitize): order-independent, no driver-side
    * collect, and the result is O(labels × dim) — it broadcasts into
    * the scoring join at any corpus size. Bottom-k per label runs on
    * [[graft.plans.GroupedTopK]] ascending (bounded heap, no sort). */
  /** Every vector's cosine to its OWN label centroid: (label, vec_id,
    * cosine) — the scoring stage of [[outliers]], exposed so composing
    * pipelines (the curation signal ensemble) can consume the full
    * score table instead of only the bottom-k. */
  def centroidCosines(embeddings: DataFrame): DataFrame = {
    val base = unitized(embeddings)
    val cm = base
      .select(col("label"), posexplode(col("unit")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("cv"))
    val cents = cm.groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("c0"))
      .select(col("label"), unitize(col("c0")).as("centroid"))
    base.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        cosineUnit(col("unit"), col("centroid")).as("cosine"))
  }

  def outliers(embeddings: DataFrame, k: Int = 5): DataFrame =
    TopK.perKey(centroidCosines(embeddings), Seq("label"),
        Seq("cosine" -> false, "vec_id" -> false), k)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy(col("label"), col("rn"))

  // ---- product quantization (the extreme-compression ANN path) ----

  val pqM = 4            // subspaces
  val pqSubDim = 16      // dims per subspace (64 / 4)
  val pqSalt = "graft-pq:"

  /** PQ codebooks + codes: the unit vectors split into [[pqM]] disjoint
    * [[pqSubDim]]-dim subspaces, each quantized by its own raw
    * (non-spherical) Lloyd codebook. All [[pqM]] codebooks train in ONE
    * loop over rows keyed by (sub, vec_id) — 3 checkpointed rounds
    * instead of 12, which matters because each round is scheduling-
    * latency-bound, not data-bound; per-subspace math is untouched
    * (the loop is the same recurrence, vectorized across subspaces).
    * Determinism contract (the oracle unrolls each subspace's chain):
    * seeds = the k vectors with smallest salted vec_id hash (the same
    * content-independent rule as [[kmeans]], one seed set shared by
    * all subspaces); assignment by MINIMUM L2 distance expanded as
    * v·v − 2·v·c + c·c so both engines evaluate the identical IEEE
    * expression, ties by cell; centroids are decimal-exact means, NOT
    * re-unitized (PQ codebooks live in the subspace's own geometry).
    * Returns (codes (vec_id, c0..c{M-1}), centroids (sub, cell,
    * centroid)). At rest a code row is M small ints — 64× smaller than
    * the float32 vector, the compression that lets a 100 TB embedding
    * corpus live in scannable storage. */
  def pqBuild(embeddings: DataFrame, k: Int = kmK,
      iters: Int = kmIters): (DataFrame, DataFrame) =
    pqBuildOnUnits(unitized(embeddings).select(col("vec_id"), col("unit")),
      k, iters)

  /** [[pqBuild]] over a pre-unitized (vec_id, unit) base. */
  def pqBuildOnUnits(base: DataFrame, k: Int = kmK,
      iters: Int = kmIters): (DataFrame, DataFrame) = {
    // (vec_id, sub, v): one map-side explode into the M subvectors
    val subs = base.select(col("vec_id"), posexplode(array(
        (0 until pqM).map(s =>
          slice(col("unit"), s * pqSubDim + 1, pqSubDim)): _*))
        .as(Seq("sub", "v")))
      .pin(eager = true)
    val seedIds = base
      .withColumn("hk", graft.functions.Portable.hash32(
        concat(lit(pqSalt), col("vec_id").cast("string"))))
      .orderBy(col("hk"), col("vec_id")).limit(k)
      // unpartitioned window over exactly k rows — not a scale concern
      .withColumn("cell", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("hk"), col("vec_id"))).cast("long") - 1)
      .select(col("vec_id"), col("cell"))
    var cents = subs.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("sub"), col("cell"), col("v").as("centroid"))
    var asg = subs
    for (i <- 1 to iters) {
      val scored = subs.join(broadcast(cents), Seq("sub"))
        .select(col("sub"), col("vec_id"), col("v"), col("cell"),
          (dot(col("v"), col("v")) - lit(2) * dot(col("v"), col("centroid")) +
            dot(col("centroid"), col("centroid"))).as("dist"))
      // lazy intermediates, eager final — the kmeans-loop rationale
      asg = TopK.perKey(scored, Seq("sub", "vec_id"),
          Seq("dist" -> false, "cell" -> false), 1)
        .select(col("sub"), col("vec_id"), col("v"), col("cell"))
        .pin(eager = i == iters)
      val cm = asg
        .select(col("sub"), col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("cv"))
      cents = cm.groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("centroid"))
    }
    val codeCols = (0 until pqM).map(s =>
      max(when(col("sub") === s, col("cell"))).as(s"c$s"))
    val codes = asg.groupBy(col("vec_id"))
      .agg(codeCols.head, codeCols.tail: _*)
    (codes, cents)
  }

  /** PQ quantization-distortion report per subspace: the mean squared
    * reconstruction error ‖v_s − centroid(code_s)‖², the subspace's
    * mean power ‖v_s‖², and the explained fraction 1 − MSE/power —
    * the quantization-health panel that says which subspace's code
    * budget is under-provisioned (a low-explained subspace is where
    * ADC error comes from; fixing it means more cells or a rotation).
    * Composes the oracle-verified [[pqBuildOnUnits]]; codes melt back
    * to (vec_id, sub, cell) and join the codebooks, so the error scan
    * reads subvectors once. Per-row error terms round to the 1e-12
    * grid and decimal-sum per subspace — order-independent, output
    * is [[pqM]] rows. */
  def pqDistortion(embeddings: DataFrame): DataFrame = {
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .pin(eager = true)
    val (codes, cents) = pqBuildOnUnits(base)
    val subs = base.select(col("vec_id"), posexplode(array(
        (0 until pqM).map(s =>
          slice(col("unit"), s * pqSubDim + 1, pqSubDim)): _*))
      .as(Seq("sub", "v")))
    val melted = codes.select(col("vec_id"), posexplode(array(
        (0 until pqM).map(s => col(s"c$s")): _*))
      .as(Seq("sub", "cell")))
    val joined = subs.join(melted, Seq("vec_id", "sub"))
      .join(broadcast(cents), Seq("sub", "cell"))
    val err = dot(col("v"), col("v")) -
      lit(2) * dot(col("v"), col("centroid")) +
      dot(col("centroid"), col("centroid"))
    joined
      .select(col("sub"),
        round(err, 12).cast("decimal(28,12)").as("e"),
        round(dot(col("v"), col("v")), 12).cast("decimal(28,12)")
          .as("p"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_vectors"),
        (sum(col("e")).cast("double") / count(lit(1))).as("mseu"),
        (sum(col("p")).cast("double") / count(lit(1))).as("powu"))
      .select(col("sub").cast("long").as("sub"), col("n_vectors"),
        round(col("mseu"), 6).as("mse"),
        round(col("powu"), 6).as("sub_power"),
        round(lit(1.0) - col("mseu") / col("powu"), 6).as("explained"))
      .orderBy(col("sub"))
  }

  /** PQ top-k via asymmetric distance computation (ADC): each query
    * keeps its full unit vector; every BASE vector is represented only
    * by its [[pqM]] codebook codes, and the approximate cosine is
    * Σ_s q_s · centroid_s(code_s). The scan side touches codes + M
    * broadcast codebooks of k rows each — never the base floats: the
    * classic IVF-PQ probe layout (Jégou et al. 2011) minus the IVF
    * stage, which [[ivfKmeansTopK]] already covers. */
  /** ADC scoring shared by [[pqTopK]] and [[ivfPqTopK]]: join a
    * candidate frame carrying (query_id, qu, vec_id, c0..c{M-1}) to the
    * M broadcast codebooks and emit (query_id, neighbor_id, cosine =
    * Σ_s q_s · centroid_s(code_s), rounded 6). One definition so the
    * two paths can never diverge on the formula or column naming. */
  private def adcScore(cand: DataFrame, cents: DataFrame,
      coarse: Option[Column] = None): DataFrame = {
    val withCents = (0 until pqM).foldLeft(cand) { (df, s) =>
      df.join(broadcast(cents.filter(col("sub") === s)
          .select(col("cell").as(s"cc$s"), col("centroid").as(s"cent$s"))),
        col(s"c$s") === col(s"cc$s"))
    }
    val sub = (0 until pqM)
      .map(s => dot(slice(col("qu"), s * pqSubDim + 1, pqSubDim), col(s"cent$s")))
      .reduce(_ + _)
    // residual encoding prepends the coarse reconstruction term
    // q·c(cell); raw encoding scores the subspace sum alone
    val adc = coarse.map(_ + sub).getOrElse(sub)
    withCents.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(adc, 6).as("cosine"))
  }

  def pqTopK(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val (codes, cents) = pqBuild(embeddings)
    val queries = unitized(embeddings).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cand = codes.join(broadcast(queries),
      col("vec_id") =!= col("query_id"))
    topK(adcScore(cand, cents), k)
  }

  /** IVF-PQ top-k — the full production ANN layout (Jégou et al. 2011;
    * what FAISS serves at billion scale): the [[kmeans]] coarse
    * quantizer prunes the search to `nprobe` cells, then candidates are
    * scored by [[pqBuild]] codes via ADC — so the scan side reads the
    * cell id + M code bytes per vector, never the base floats. Both
    * build passes are the oracle-verified ones; this operator is their
    * composition, and the oracle composes the same two unrolled CTE
    * chains. At cluster scale the cell id is the partition key
    * (partition-pruned probes) and the codes column rides in the same
    * row group — I/O is nprobe/k of the corpus × 1/64 of the bytes. */
  def ivfPqTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 20,
      nprobe: Int = 2): DataFrame = {
    // normalize the corpus ONCE; both build passes read the same
    // materialized base (two scans at 100 TB otherwise)
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .pin(eager = true)
    val (asg, cents) = kmeansOnUnits(base)
    val (codes, pqCents) = pqBuildOnUnits(base)
    val queries = asg.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qu"), col("cell"),
        cosineUnit(col("qu"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qu"), col("cell").as("probe_cell"))
    val cand = asg.select(col("vec_id"), col("cell"))
      .join(broadcast(probes),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qu"), col("vec_id"))
      .join(codes, Seq("vec_id"))
    topK(adcScore(cand, pqCents), k)
  }

  /** Residual IVF-PQ top-k — classic IVFADC (Jégou et al. 2011, §III):
    * the PQ codebooks quantize the RESIDUAL v − m(cell) instead of the
    * raw vector, where m(cell) is the assigned cell's decimal-exact
    * MEAN (the least-squares center the query side adds back, so
    * encode and decode agree by construction). Residuals cluster
    * tightly around the origin (E‖v − m‖² = 1 − ‖m‖² < 1 on unit
    * vectors), so the same code budget spends its precision on the
    * part of the vector the coarse quantizer didn't already explain —
    * materially lower ADC error at identical storage (PqSpec measures
    * the reconstruction-error drop vs the raw [[ivfPqTopK]]). ADC
    * score = q·m(cell) + Σ_s q_s·centroid_s(code_s): the coarse term
    * is one broadcast join on cell; the scan side still reads only
    * cell + M code bytes per vector, never the base floats. The oracle
    * unrolls the identical residual Lloyd chains and states the same
    * two-term ADC expression. */
  def ivfPqResidualTopK(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20, nprobe: Int = 2): DataFrame = {
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .pin(eager = true)
    val (asg, cents) = kmeansOnUnits(base)
    // Residuals subtract the assigned cell's MEAN (decimal-exact,
    // NON-unitized — the least-squares center, as in Jégou's plain-
    // k-means coarse quantizer), not the re-unitized spherical
    // centroid: E‖v − m‖² = 1 − ‖m‖² < 1, while ‖v − c‖² = 2 − 2cosθ
    // can exceed 1 — subtracting the unit centroid would INFLATE the
    // residuals PQ has to encode. Assignment and probe ranking stay
    // spherical (consistent with every other ANN query); only the
    // encode/decode center changes.
    val cellMeans = asg
      .select(col("cell"), posexplode(col("unit")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("v").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("cv"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
        s => s.getField("cv")).as("mcent"))
    // elementwise double subtraction — the identical IEEE expression
    // the oracle states (a.ev[i] - m.mcent[i])
    val resid = asg.join(broadcast(cellMeans), Seq("cell"))
      .select(col("vec_id"),
        zip_with(col("unit"), col("mcent"), (x, c) => x - c).as("unit"))
    val (codes, pqCents) = pqBuildOnUnits(resid)
    val queries = asg.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val probes = queries.crossJoin(broadcast(cents))
      .select(col("query_id"), col("qu"), col("cell"),
        cosineUnit(col("qu"), col("centroid")).as("cdist"))
      .withColumn("crank", row_number().over(cw))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qu"), col("cell").as("probe_cell"))
    val cand = asg.select(col("vec_id"), col("cell"))
      .join(broadcast(probes),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("qu"), col("vec_id"), col("cell"))
      .join(codes, Seq("vec_id"))
      // cell mean for the reconstruction term, renamed so the ADC
      // fold's per-subspace centroids can't collide
      .join(broadcast(cellMeans.select(col("cell"), col("mcent").as("ccent"))),
        Seq("cell"))
    topK(adcScore(cand, pqCents,
      coarse = Some(dot(col("qu"), col("ccent")))), k)
  }

  // ---- int8 quantization (the embedding memory-reduction path) ----

  /** Symmetric int8 quantization of the unit vectors: per-vector scale
    * s = max|x|/127, code_i = floor(x_i/s + 0.5) ∈ [-127, 127], stored
    * as a true `array<tinyint>` column (4× smaller than float32 at rest
    * — the difference between an embedding table that fits executor
    * memory and one that doesn't). `floor(x + 0.5)` rather than round():
    * identical IEEE result in both engines, where round()'s half-case
    * convention differs. */
  def quantized(embeddings: DataFrame): DataFrame =
    unitized(embeddings)
      .withColumn("qscale",
        array_max(transform(col("unit"), x => abs(x))) / 127.0)
      .withColumn("q",
        transform(col("unit"), x => floor(x / col("qscale") + lit(0.5)))
          .cast("array<tinyint>"))
      .select(col("vec_id"), col("label"), col("qscale"), col("q"))

  /** Brute-force top-k over the QUANTIZED vectors: cosine reconstructed
    * as dot(q_a, q_b)·s_a·s_b. Approximate by construction (≤ ~1%
    * error at dim 64); the ranking-quality twin of [[bruteForceTopK]]
    * at 1/4 the memory traffic. */
  def quantizedTopK(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val base = quantized(embeddings)
      .withColumn("qd", col("q").cast("array<double>"))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("qd").as("qqd"),
        col("qscale").as("qs"))
    val scored = base.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qqd"), col("qd")) * col("qs") * col("qscale"), 6)
          .as("cosine"))
    topK(scored, k)
  }

  /** Mutual kNN graph: an undirected edge survives iff BOTH endpoints
    * list each other in their top-k — the standard robustification
    * before graph clustering (a hub that many vectors point at but
    * that points elsewhere stops bridging unrelated regions; mutual
    * edges are the high-precision subset). One self-join of the kNN
    * edge list on the reversed pair — the graph is k·n rows, so this
    * is an equi-join of two slim frames, never touching the vectors.
    * Cosine is symmetric (same rounded dot both directions), so either
    * side's value is THE edge weight. */
  def mutualKnnGraph(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    mutualKnnEdges(embeddings, k, cells).orderBy(col("vec_a"), col("vec_b"))

  /** [[mutualKnnGraph]] without the presentation ORDER BY — see
    * [[knnGraphEdges]] for why composing operators consume this form
    * (every graph-algorithm consumer pins this frame, and a pinned
    * ORDER BY is a paid-for sort the next operator discards). */
  def mutualKnnEdges(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val g = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"))
      .pin(eager = true)
    g.as("a").join(g.as("b"),
        col("a.vec_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.vec_id") &&
          col("a.vec_id") < col("a.neighbor_id"))
      .select(col("a.vec_id").as("vec_a"),
        col("a.neighbor_id").as("vec_b"), col("a.cosine").as("cosine"))
  }

  /** Rich-club coefficient over the mutual-kNN graph: for each degree
    * threshold t, φ(t) = 2·E_t / (n_t·(n_t−1)) where n_t counts nodes
    * of degree ≥ t and E_t the edges with BOTH ends in that club —
    * does the embedding space's best-connected hub set wire to itself
    * (φ→1: a dense semantic core the curriculum should dedup harder)
    * or spread out (φ→0)? Degrees are bounded by k (mutuality only
    * shrinks lists), so the threshold grid is ≤ k rows and every join
    * is an equi-join on vertex ids; counts stay BIGINT until the one
    * final ratio.
    *
    * Scale: degree table = one hash aggregate over the edge list;
    * per-threshold memberships are broadcast semi-joins of a
    * metadata-sized club set... the edge list never self-joins. */
  def richClub(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val edges = mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
      .pin(eager = true)
    val deg = edges.select(col("vec_a").as("node"))
      .unionAll(edges.select(col("vec_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .pin(eager = true)
    val perT = (1 to k).map { t =>
      val club = deg.filter(col("deg") >= t).select(col("node"))
      val nT = club.agg(count(lit(1)).as("n_club"))
      val eT = edges
        .join(club.select(col("node").as("vec_a")), Seq("vec_a"),
          "leftsemi")
        .join(club.select(col("node").as("vec_b")), Seq("vec_b"),
          "leftsemi")
        .agg(count(lit(1)).as("e_club"))
      nT.crossJoin(broadcast(eT))
        .select(lit(t).cast("long").as("min_degree"),
          col("n_club"), col("e_club"),
          round(lit(2.0) * col("e_club").cast("double") /
            when(col("n_club") > 1,
              (col("n_club") * (col("n_club") - 1)).cast("double")),
            6).as("phi"))
    }
    perT.reduce(_ unionAll _).orderBy(col("min_degree"))
  }

  /** Triangle enumeration over the mutual-kNN graph — the clustering-
    * coefficient / community-density primitive. Each triangle surfaces
    * once as (vec_a < vec_b < vec_c).
    *
    * Shape: edges are stored once with vec_a < vec_b, so the classic
    * compact-forward join enumerates each triangle exactly once — wedge
    * join E(a,b)⋈E(b,c) on the middle vertex, then a closing equi-join
    * against E(a,c). Scale: mutual-kNN degree is bounded by k (mutuality
    * can only shrink a neighbor list), so the wedge fan-out is ≤ k² per
    * vertex and both joins are plain hash shuffles on vertex ids — no
    * quadratic blow-up even on a billion-node graph. The edge list is
    * pinned once and reused by all three join legs. */
  def knnTriangles(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    trianglesFromEdges(mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
      .pin(eager = true))
      .orderBy(col("vec_a"), col("vec_b"), col("vec_c"))

  /** Compact-forward triangle join over a pinned (vec_a < vec_b) edge
    * list — shared by [[knnTriangles]] and [[clusteringCoeff]] so the
    * edge materialization is built once per query. */
  private def trianglesFromEdges(e: DataFrame): DataFrame = {
    val wedges = e.as("e1").join(
        e.select(col("vec_a").as("vec_b"), col("vec_b").as("vec_c"))
          .as("e2"),
        Seq("vec_b"))
    wedges
      .join(e.select(col("vec_a"), col("vec_b").as("vec_c")).as("e3"),
        Seq("vec_a", "vec_c"))
      .select(col("vec_a"), col("vec_b"), col("vec_c"))
  }

  /** Per-node local clustering coefficient over the mutual-kNN graph:
    * 2·triangles / (deg·(deg−1)) — how close each node's neighborhood
    * is to a clique, the community-density signal per vertex. Degree ≤
    * k by mutuality, so the per-node triangle cap is k(k−1)/2 and every
    * stage is a bounded hash aggregate; deg=1 nodes yield NULL (ANSI
    * guard, stated identically by the oracle). */
  def clusteringCoeff(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val e = mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
      .pin(eager = true)
    val deg = e.select(col("vec_a").as("vec_id"))
      .unionAll(e.select(col("vec_b").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    val tri = trianglesFromEdges(e)
    val triPerNode = tri.select(col("vec_a").as("vec_id"))
      .unionAll(tri.select(col("vec_b").as("vec_id")))
      .unionAll(tri.select(col("vec_c").as("vec_id")))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_triangles"))
    deg.join(triPerNode, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") > 1,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6)).as("coeff"))
      .orderBy(col("vec_id"))
  }

  /** Link prediction over the mutual-kNN graph: for every OPEN wedge —
    * a non-adjacent pair (a, c) sharing at least one mutual neighbor
    * b — the common-neighbor count and the Adamic–Adar score
    * Σ_b 1/ln(deg b), the classic "which edge is missing" signal used
    * to densify a retrieval graph or to propose near-dup candidate
    * pairs the kNN build itself missed. Scale: mutual degree is
    * bounded by k, so wedge fan-out is ≤ k(k−1)/2 per center and every
    * stage is an equi join / hash aggregate on vertex ids — no
    * all-pairs term at any corpus size. Per-wedge AA terms go through
    * the DECIMAL(28,10) grid before summing (order-independent,
    * bit-equal across engines); a wedge center has degree ≥ 2 by
    * construction, so ln(degree) never divides by zero. */
  def linkPrediction(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val e = mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
      .pin(eager = true)
    val adj = e.select(col("vec_a").as("vec_id"), col("vec_b").as("nbr"))
      .unionAll(e.select(col("vec_b").as("vec_id"),
        col("vec_a").as("nbr")))
    val deg = adj.groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))
    val wedges = adj.as("x").join(adj.as("y"),
        col("x.vec_id") === col("y.vec_id") &&
          col("x.nbr") < col("y.nbr"))
      .select(col("x.vec_id").as("mid"), col("x.nbr").as("vec_a"),
        col("y.nbr").as("vec_b"))
    val open = wedges.join(e, Seq("vec_a", "vec_b"), "left_anti")
    open.join(deg.withColumnRenamed("vec_id", "mid"), Seq("mid"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum((lit(1.0) / log(col("degree").cast("double")))
          .cast("decimal(28,10)")).cast("double").as("aa"))
      .select(col("vec_a"), col("vec_b"), col("common_neighbors"),
        round(col("aa"), 6).as("adamic_adar"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Projection width / salt for [[jlProjection]]. */
  val jlDim = 16
  val jlSalt = "graft-jl:"

  /** Deterministic ±1 sign matrix for [[jlProjection]] — computed once
    * in Scala from the md5 convention and interpolated into BOTH
    * engines' plans, so sign parity holds by construction. */
  lazy val jlSigns: IndexedSeq[IndexedSeq[Int]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until jlDim).map { j =>
      (0 until 64).map { i =>
        val h = mdt.digest(s"$jlSalt$i:$j".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        if (java.lang.Long.parseLong(h, 16) % 2 == 0) 1 else -1
      }
    }
  }

  /** Johnson–Lindenstrauss sign-projection fidelity report: project
    * the unit vectors to [[jlDim]] dims with a fixed ±1 sign matrix
    * (the database-friendly JL variant — a projection is 16 additions
    * per output dim, no trained codebook) and measure, on the exact
    * brute-force top-k pairs, how far the projected cosine drifts
    * from the true cosine — the evidence a 4× cheaper first-pass
    * filter needs before it goes in front of the exact scorer.
    * Projection components go through the 1e-12 decimal grid
    * (order-independent under any partitioning); the scale factor
    * 1/√d cancels in the cosine and is dropped. Output is the
    * bounded query×k pair set. */
  def jlProjection(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .pin(eager = true)
    val signs = (for {
      j <- 0 until jlDim; i <- 0 until 64
    } yield (i, j, jlSigns(j)(i))).toDF("pos", "j", "s")
    val comp = base
      .select(col("vec_id"), posexplode(col("unit")).as(Seq("pos", "v")))
      .join(broadcast(signs), Seq("pos"))
      .groupBy(col("vec_id"), col("j"))
      .agg(sum((col("s") * col("v")).cast("decimal(28,12)"))
        .cast("double").as("pv"))
    val proj = comp.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("j"),
        col("pv")))), s => s.getField("pv")).as("p"))
    val pu = proj.select(col("vec_id"),
        transform(col("p"), x => x / sqrt(dot(col("p"), col("p"))))
          .as("pu"))
      .pin(eager = true)
    bruteForceTopK(embeddings, k, nQueries)
      .join(pu.select(col("vec_id").as("query_id"), col("pu").as("qp")),
        Seq("query_id"))
      .join(pu.select(col("vec_id").as("neighbor_id"),
        col("pu").as("np")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cosine"),
        round(dot(col("qp"), col("np")), 6).as("jl_cosine"))
      .withColumn("abs_err",
        round(abs(col("cosine") - col("jl_cosine")), 6))
      .orderBy(col("query_id"), col("rank"))
  }

  /** TwoNN intrinsic-dimension estimate of the embedding manifold
    * (Facco et al.): for each vector the ratio μ = d₂/d₁ of its two
    * nearest-neighbor distances, then the MLE d̂ = n / Σ ln μ — the
    * "how many dimensions does this data actually use" diagnostic
    * that says whether a Matryoshka truncation or PQ budget is
    * over-provisioned. Distances come from the cell-pruned kNN graph
    * (never all-pairs; the rounded cosine is the shared cross-engine
    * contract): on the unit sphere d² = 2−2cos, so
    * ln μ = ½·ln((1−c₂)/(1−c₁)). Vectors whose nearest neighbor is an
    * exact duplicate (c₁ = 1) or that lack a second in-cell neighbor
    * drop out, stated identically by the oracle; the ln-μ terms sum
    * on the 1e-12 decimal grid. */
  def intrinsicDim(embeddings: DataFrame, cells: Int = autoCells): DataFrame = {
    val g = knnGraphEdges(embeddings, 2, cells)
      .groupBy(col("vec_id"))
      .agg(max(when(col("rank") === 1, col("cosine"))).as("c1"),
        max(when(col("rank") === 2, col("cosine"))).as("c2"))
    val n = embeddings.agg(count(lit(1)).as("n_vectors"))
    val mu = g.filter(col("c2").isNotNull && col("c1") < 1.0)
      .select(round(lit(0.5) *
          log((lit(1.0) - col("c2")) / (lit(1.0) - col("c1"))), 12)
        .cast("decimal(18,12)").as("t"))
    val s = mu.agg(count(lit(1)).as("n_used"),
      sum(col("t")).cast("double").as("slm"))
    s.crossJoin(broadcast(n))
      .select(col("n_vectors"), col("n_used"),
        when(col("slm") > 0.0,
          round(col("n_used").cast("double") / col("slm"), 6))
          .as("two_nn_dim"))
  }

  /** Embedding L2-norm health report: count, mean/sd (decimal-exact
    * moments), min/max and the coefficient of variation of raw vector
    * norms — the first QA check on any embedding table (a wide or
    * bimodal norm distribution before unit-normalization usually means
    * mixed encoder versions or truncated vectors; cosine retrieval
    * silently degrades either way). One map-side projection (the
    * codegen'd [[dot]]) and a single-row reduction — no shuffle beyond
    * the scalar aggregate at any corpus size. */
  def normStats(embeddings: DataFrame): DataFrame = {
    val norms = embeddings.select(
      sqrt(dot(col("embedding"), col("embedding"))).as("nm"))
    def dsum18(c: Column) = sum(c.cast("decimal(38,18)")).cast("double")
    val m = norms.agg(count(lit(1)).as("n_vecs"),
      dsum18(col("nm")).as("s1"), dsum18(col("nm") * col("nm")).as("s2"),
      min(col("nm")).as("mn"), max(col("nm")).as("mx"))
    val nd = col("n_vecs").cast("double")
    val mean = col("s1") / nd
    val sd = sqrt(greatest(
      col("s2") / nd - mean * mean, lit(0.0)))
    m.select(col("n_vecs"), round(mean, 6).as("mean_norm"),
        round(sd, 6).as("sd_norm"), round(col("mn"), 6).as("min_norm"),
        round(col("mx"), 6).as("max_norm"),
        when(mean =!= 0.0,
          round(sd / when(mean =!= 0.0, mean), 6)).as("norm_cv"))
  }

  /** Hubness report of the kNN graph: the in-degree (k-occurrence)
    * distribution — mean, variance, skewness, the max hub and the
    * antihub share (vectors NO ONE lists as a neighbor). High skew is
    * the classic symptom of hubness in high-dimensional ANN (a few
    * points appear in everyone's neighbor list and poison downstream
    * kNN classifiers/retrievers); the antihub share says how much of
    * the corpus is unreachable by reverse-kNN.
    *
    * Determinism: in-degrees are exact integers and every moment sum
    * is an exact BIGINT sum — no float accumulation at all; the
    * closed-form moments are double math in one pinned order, with
    * skew's 3/2 power stated as m2·√m2 (not pow) on both engines.
    * Scale: rides [[knnGraph]] (cell equi-join, bounded heap); the
    * in-degree count is one hash aggregate over k·n edges and the
    * report is a single-row reduction. */
  def hubness(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val g = knnGraphEdges(embeddings, k, cells)
      .groupBy(col("neighbor_id")).agg(count(lit(1)).as("d"))
    val indeg = embeddings.select(col("vec_id"))
      .join(g, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("d"), lit(0L)).as("d"))
    val m = indeg.agg(
      count(lit(1)).as("n_vecs"),
      sum(col("d")).as("sd"),
      sum(col("d") * col("d")).as("sd2"),
      sum(col("d") * col("d") * col("d")).as("sd3"),
      max(col("d")).as("max_indeg"),
      count(when(col("d") === 0, 1)).as("n_antihubs"))
    val nd = col("n_vecs").cast("double")
    val mean = col("sd") / nd
    val m2 = col("sd2") / nd - mean * mean
    val m3 = col("sd3") / nd - lit(3.0) * mean * (col("sd2") / nd) +
      lit(2.0) * mean * mean * mean
    m.select(col("n_vecs"),
        round(mean, 6).as("mean_indeg"),
        round(m2, 6).as("var_indeg"),
        when(m2 > 0.0,
          round(m3 / when(m2 > 0.0, m2 * sqrt(m2)), 6)).as("skew_indeg"),
        col("max_indeg"), col("n_antihubs"),
        round(col("n_antihubs") / col("n_vecs"), 6).as("antihub_share"))
  }

  /** Degree assortativity of the mutual-kNN graph: the Pearson
    * correlation of endpoint degrees over the directed edge list (each
    * undirected edge in both orientations — the standard Newman
    * estimator). Positive means hubs link to hubs (a dense-core
    * corpus); negative means hub-periphery (a few representatives
    * cover many satellites — the shape SemDeDup exploits). Every
    * moment sum is an exact INTEGER sum (degrees are integers, k-
    * bounded), so there is no float accumulation at all; only the
    * closed-form ratio is double math, in one pinned order. Degenerate
    * graphs (all degrees equal → zero variance) yield NULL. */
  def assortativity(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val e = mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
      .pin(eager = true)
    val adjm = e.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionAll(e.select(col("vec_b").as("src"),
        col("vec_a").as("dst")))
    val deg = adjm.groupBy(col("src").as("vec_id"))
      .agg(count(lit(1)).as("degree"))
    val de = adjm
      .join(deg.select(col("vec_id").as("src"),
        col("degree").as("dx")), Seq("src"))
      .join(deg.select(col("vec_id").as("dst"),
        col("degree").as("dy")), Seq("dst"))
    val m = de.agg(count(lit(1)).as("m"),
      sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
      sum(col("dx") * col("dx")).as("sxx"),
      sum(col("dy") * col("dy")).as("syy"),
      sum(col("dx") * col("dy")).as("sxy"))
    val md = col("m").cast("double")
    val num = col("sxy") / md - (col("sx") / md) * (col("sy") / md)
    val vx = col("sxx") / md - (col("sx") / md) * (col("sx") / md)
    val vy = col("syy") / md - (col("sy") / md) * (col("sy") / md)
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    m.crossJoin(broadcast(nNodes)).crossJoin(broadcast(nEdges))
      .select(col("n_nodes"), col("n_edges"),
        when(vx * vy > 0.0, round(num / sqrt(vx * vy), 6))
          .as("assortativity"))
  }

  /** PageRank damping / iterations for [[knnPageRank]] — shared with
    * the oracle generator. */
  val prDamping = 0.85
  val prIters = 3

  /** PageRank over the corpus kNN graph — graph centrality as a data-
    * selection signal (a vector many neighbors point at is a dense
    * region's representative; a page nothing points at is an outlier —
    * the graph-side sibling of [[centroidCosines]]). Deterministic
    * power iteration, fully declarative:
    *   - node set = every vector appearing as source OR target;
    *     contrib = p(src)/outdeg(src) with out-degrees computed from
    *     the data (a vector in an undersized cell can have < k
    *     out-edges). A node with NO out-edges keeps receiving the
    *     teleport term but its own mass is dropped — the standard
    *     remove-dangling-mass variant, stated identically by the
    *     oracle;
    *   - per-node in-flow sums as DECIMAL(28,10) (the centroid-mean
    *     mechanics: order-independent, bit-equal across engines);
    *   - nodes with no in-edges keep the teleport term via left join +
    *     coalesce 0.
    * Each iteration is one join on the edge list + one hash
    * aggregation — O(iters) shuffles on the high-cardinality node key,
    * the textbook distributed PageRank plan. The oracle unrolls the
    * same iterations as chained CTEs. */
  def knnPageRank(embeddings: DataFrame, k: Int = 3, cells: Int = autoCells,
      damping: Double = prDamping, iters: Int = prIters): DataFrame = {
    val graph = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .pin(eager = true)
    val outdeg = graph.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edges = graph.join(outdeg, Seq("src")).pin(eager = true)
    val nodes = graph
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .pin(eager = true)
    val n = nodes.count()
    var ranks = nodes.withColumn("p", lit(1.0 / n))
    for (i <- 1 to iters) {
      val inflow = edges
        .join(ranks.select(col("node").as("src"), col("p")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum((col("p") / col("outdeg")).cast("decimal(28,10)"))
          .cast("double").as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit((1 - damping) / n) +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("p"))
        .pin(eager = i == iters) // lazy intermediates, eager final
    }
    ranks.select(col("node").as("vec_id"), round(col("p"), 10).as("pagerank"))
      .orderBy(col("vec_id"))
  }

  /** Seed-set modulus for [[personalizedPagerank]] — every node with
    * `vec_id % pprSeedMod == 0` teleports mass (shared with the
    * oracle generator; a deterministic stand-in for "the flagged
    * quality/contamination set" a curation pipeline would supply). */
  val pprSeedMod = 10

  /** Personalized PageRank over the kNN graph: [[knnPageRank]] with
    * the uniform teleport replaced by a SEED-SET teleport —
    * F₊(v) = (1−d)·Y(v) + d·Σ_{u→v} F(u)/outdeg(u), Y = the indicator
    * of the seed set — graph-diffusion proximity to a flagged set.
    * The curation read: seed the known-contaminated (or known-good)
    * documents and the score ranks every OTHER document by how
    * embedded it is in the seeds' neighborhood — the diffusion
    * sibling of [[semanticDecontaminate]]'s direct-cosine flag (a
    * paraphrase cluster two hops from a benchmark lights up here
    * before any direct cosine crosses a threshold). Honest
    * bounded-N contract: exactly [[prIters]] rounds, no fixpoint
    * claim, the oracle states the same unroll.
    *
    * Determinism: per-round inflows sum as DECIMAL(28,10) (the
    * [[knnPageRank]] discipline — order-free under any partitioning);
    * the final 1e-10 grid crossing matches the oracle's
    * VARCHAR-mediated decimal. Scale: same per-round shape as
    * pagerank — one edge-grain join + hash aggregate, k-bounded
    * fan-out, lazy intermediates with one eager pin at the end. */
  def personalizedPagerank(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells, damping: Double = prDamping,
      iters: Int = prIters): DataFrame = {
    val graph = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .pin(eager = true)
    val outdeg = graph.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edges = graph.join(outdeg, Seq("src")).pin(eager = true)
    val nodes = graph
      .select(explode(array(col("src"), col("dst"))).as("node")).distinct()
      .pin(eager = true)
    val seed = when(col("node") % pprSeedMod === 0, lit(1.0))
      .otherwise(lit(0.0))
    var ranks = nodes.withColumn("p", seed)
    for (i <- 1 to iters) {
      val inflow = edges
        .join(ranks.select(col("node").as("src"), col("p")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum((col("p") / col("outdeg")).cast("decimal(28,10)"))
          .cast("double").as("inflow"))
      ranks = nodes.join(inflow, Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) * seed +
            lit(damping) * coalesce(col("inflow"), lit(0.0))).as("p"))
        .pin(eager = i == iters)
    }
    ranks
      .select(col("node").as("vec_id"),
        (col("node") % pprSeedMod === 0).as("is_seed"),
        round(col("p"), 10).as("ppr"))
      .orderBy(col("vec_id"))
  }

  /** Flagging threshold for [[semanticDecontaminate]] — shared with the
    * oracle generator. 0.4 sits just under this corpus's max cross-set
    * cosine (~0.49), so both the flagged and clean branches carry
    * rows. */
  val semDeconThreshold = 0.4

  /** SEMANTIC decontamination — the embedding-space sibling of
    * [[Curation.decontaminate]]'s n-gram containment: every train
    * vector's maximum cosine to ANY eval vector (vec_id < `evalMaxId`
    * plays the benchmark set), flagged at `threshold`. Catches
    * paraphrased eval leakage that shares no 3-gram.
    *
    * Scale design: eval sets are BOUNDED by definition (benchmarks are
    * thousands of rows, the corpus is 100 TB), so the eval side
    * broadcasts and the train side streams ONCE — the same bounded-
    * broadcast cost model as the query-set ANN baselines, and exact
    * (recall 1.0, which decontamination requires — an SRP-banded
    * prefilter at the 0.4-cosine operating point has ~5% band-collision
    * recall, measured, so pruning would silently pass contaminated
    * documents; for an eval set too large to broadcast, shard the eval
    * side and union the per-shard maxima — plan shape unchanged). */
  def semanticDecontaminate(embeddings: DataFrame, evalMaxId: Long = 20,
      threshold: Double = semDeconThreshold): DataFrame = {
    val base = unitized(embeddings)
    val eval = base.filter(col("vec_id") < evalMaxId)
      .select(col("vec_id").as("eval_id"), col("unit").as("eu"))
    val train = base.filter(col("vec_id") >= evalMaxId)
    val scored = train.crossJoin(broadcast(eval))
      .select(col("vec_id"), col("eval_id"),
        cosineUnit(col("unit"), col("eu")).as("cosine"))
    // the argmax row carries both outputs: max cosine AND its eval id
    val top = TopK.perKey(scored, Seq("vec_id"),
        Seq("cosine" -> true, "eval_id" -> false), 1)
      .select(col("vec_id"), col("eval_id").as("near_eval_id"),
        col("cosine").as("max_eval_cosine"))
    train.select(col("vec_id"))
      .join(top, Seq("vec_id"), "left")
      .select(col("vec_id"), col("max_eval_cosine"), col("near_eval_id"),
        coalesce(col("max_eval_cosine") >= threshold, lit(false))
          .as("flagged"))
      .orderBy(col("vec_id"))
  }

  // ---- 1-bit (binary) quantization: sign-bit embeddings ----

  /** Sign-bit binary quantization of the unit vectors: bit d = 1 iff
    * unit_d > 0, packed as two non-negative 32-bit halves (`bin_lo` =
    * dims 0-31, `bin_hi` = dims 32-63 — the [[Dedup.simhash]] packing:
    * no half ever touches a BIGINT sign bit on either engine). 32×
    * smaller than float32 at rest — the memory-bandwidth extreme of the
    * quantization ladder (float32 → int8 [[quantized]] → PQ codes →
    * 1 bit), and the form modern binary-embedding serving ranks with:
    * Hamming distance approximates angle monotonically on unit
    * vectors. */
  def binarized(embeddings: DataFrame): DataFrame = {
    def half(offset: Int): Column = (0 until 32).map { j =>
      when(element_at(col("unit"), offset + j + 1) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    unitized(embeddings)
      .select(col("vec_id"), col("label"), col("unit"),
        half(0).as("bin_lo"), half(32).as("bin_hi"))
  }

  /** Hamming top-k over the binary signatures: rank by LOWEST bit
    * disagreement (ties by neighbor_id — Hamming is a 0..64 integer, so
    * ties are common and the tiebreak is load-bearing). The scan side
    * touches 8 bytes per vector; candidate ranking is two XOR popcounts
    * inside whole-stage codegen. The exactness twin of the approximate
    * ranking is [[rerankTopK]]'s second stage — at scale the two
    * compose (binary prune, exact rerank). */
  def binaryTopK(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    val base = binarized(embeddings)
      .select(col("vec_id"), col("bin_lo"), col("bin_hi"))
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("bin_lo").as("qlo"),
        col("bin_hi").as("qhi"))
    val scored = base.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (bit_count(expr("bin_lo ^ qlo")) + bit_count(expr("bin_hi ^ qhi")))
          .cast("long").as("hamming"))
    TopK.perKey(scored, Seq("query_id"),
        Seq("hamming" -> false, "neighbor_id" -> false), k, rankCol = "rank")
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Two-stage serving path — the layout every production vector store
    * runs: a cheap approximate stage proposes `candK` candidates per
    * query (PQ/ADC here — codes only, base floats never scanned), then
    * the exact cosine reranks ONLY those candidates to the final `k`.
    * Recall is the approximate stage's; precision of the final ordering
    * is exact — and the expensive exact math runs on candK rows per
    * query instead of the corpus. Both stages are oracle-verified
    * chains; the oracle composes the same two rankings. */
  def rerankTopK(embeddings: DataFrame, k: Int = 5, candK: Int = 50,
      nQueries: Int = 20): DataFrame = {
    val base = unitized(embeddings).select(col("vec_id"), col("unit"))
      .pin(eager = true)
    val (codes, cents) = pqBuildOnUnits(base)
    val queries = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"))
    val cand = codes.join(broadcast(queries),
      col("vec_id") =!= col("query_id"))
    val stage1 = TopK.perKey(
        adcScore(cand, cents).withColumnRenamed("cosine", "adc"),
        Seq("query_id"), Seq("adc" -> true, "neighbor_id" -> false), candK)
      .select(col("query_id"), col("neighbor_id"))
    val exact = stage1
      .join(queries, Seq("query_id"))
      .join(base.select(col("vec_id").as("neighbor_id"),
        col("unit").as("nu")), Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosineUnit(col("qu"), col("nu")).as("cosine"))
    topK(exact, k)
  }

  // ---- signed-random-projection LSH (the bucketed ANN scale path) ----

  /** SRP parameters: 16 deterministic pseudo-random hyperplanes (2 bands
    * × 8 bits), weights derived from the shared universal-hash
    * coefficients so the DuckDB oracle regenerates them exactly:
    * w(j,d) = ((a_j·(d+1) + b_j) mod p) / p − 0.5. */
  val srpPlanes = 16
  val srpCoeffs: Seq[(Long, Long)] = graft.functions.Portable.hashCoeffs(srpPlanes)
  private val P = graft.functions.Portable.P31

  /** Hyperplane weights materialized once in Scala — identical Long/
    * IEEE arithmetic to the oracle's SQL formula, but emitted as array
    * LITERALS so no row recomputes the row-invariant planes. */
  def srpPlaneWeights(dim: Int): Seq[Array[Double]] =
    srpCoeffs.map { case (a, b) =>
      Array.tabulate(dim)(d => ((a * (d + 1) + b) % P).toDouble / P - 0.5)
    }

  /** 16-bit SRP signature of a unit vector: bit j = (v · plane_j) > 0.
    * Nearby vectors agree on most bits (hyperplane rounding). */
  def srpSignature(unit: Column, dim: Int = 64): Column =
    srpPlaneWeights(dim).zipWithIndex.map { case (w, j) =>
      when(dot(unit, typedLit(w.toSeq)) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed approximate top-k: candidates are base vectors sharing
    * at least one of the two 8-bit signature bands with the query, then
    * exact cosine ranking within the candidate set. At cluster scale the
    * band columns are the bucketing/partition keys, so a query touches
    * only its buckets' partitions instead of the full base table. */
  def lshTopK(embeddings: DataFrame, k: Int = 5, nQueries: Int = 20): DataFrame = {
    val sig = unitized(embeddings)
      .withColumn("sig", srpSignature(col("unit")))
      .withColumn("band0", col("sig") % 256)
      .withColumn("band1", expr("sig div 256"))
    val queries = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("unit").as("qu"),
        col("band0").as("qb0"), col("band1").as("qb1"))
    val scored = sig.join(broadcast(queries),
        (col("band0") === col("qb0") || col("band1") === col("qb1")) &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineUnit(col("qu"), col("unit")).as("cosine"))
    topK(scored, k)
  }

  /** Embedding-cosine near-duplicate pairs (dedup modality), SRP-banded:
    * candidates are pairs agreeing on at least one 8-bit signature band
    * (the same pigeonhole pattern as [[Dedup.simhashPairs]]), then exact
    * cosine ≥ threshold within buckets. The join is an equi-join on
    * (band, key) — never the O(n²) all-pairs cross product.
    *
    * Recall bound: a pair at cosine c agrees on each SRP bit with
    * probability 1 − θ/π (θ = arccos c); at c = 0.9 that's ≈ 0.857 per
    * bit, ≈ 0.29 per 8-bit band, ≈ 0.50 for band0-OR-band1. Production
    * tuning is more/narrower bands (more buckets OR'd) for recall→1 —
    * the plan shape is unchanged; the band columns stay the bucketing/
    * partition keys at cluster scale. */
  /** Matryoshka truncation dims — shared with the oracle generator. */
  val mrlDims: Seq[Int] = Seq(16, 32)

  /** Matryoshka (MRL) truncation fidelity: for each truncation dim,
    * each query's overlap@k between retrieval on the truncated-then-
    * renormalized prefix and retrieval on the full vector — the
    * measurement that decides how many dims an embedding column can
    * shed (4× storage/bandwidth at dim/4) before recall pays. Exact by
    * construction: both rankings are the engine's verified brute-force
    * top-k (rounded cosine, id tiebreak), the overlap is an integer
    * semi-join count.
    *
    * Scale: one broadcast-query scan per dim over the base (the
    * bruteForceTopK cost model, ×|dims|+1); overlaps join two
    * O(queries·k) ranked lists — metadata-sized at any corpus. */
  def matryoshkaFidelity(embeddings: DataFrame, k: Int = 10,
      nQueries: Int = 20, dims: Seq[Int] = mrlDims): DataFrame = {
    val full = bruteForceTopKEdges(embeddings, k, nQueries)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      .pin() // the reference set, re-read once per dim
    dims.map { d =>
      // one left join + one aggregate: every query keeps its k rows
      // through the left join, so zero-overlap queries survive the
      // groupBy without a separate restore pass
      bruteForceTopKEdges(
        embeddings.select(col("vec_id"), col("label"),
          slice(col("embedding"), 1, d).as("embedding")),
        k, nQueries)
        .select(col("query_id"), col("neighbor_id"))
        .join(full, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .select(col("query_id"), lit(d.toLong).as("dim"), col("n_overlap"),
          round(col("n_overlap").cast("double") / k, 6).as("overlap_at_k"))
    }.reduce(_ unionByName _)
      .orderBy(col("dim"), col("query_id"))
  }

  /** Recall@k of the approximate ANN ladder rungs against the exact
    * brute-force ranking — [[matryoshkaFidelity]]'s first-class
    * treatment extended to the IVF (label cells), IVF-PQ and binary
    * variants: per query and variant, the integer overlap between the
    * approximate top-k and the exact top-k, plus the recall fraction.
    * Turns the "the index only prunes" plan assertions into the
    * user-visible quality numbers an index choice is actually made on.
    *
    * Scale: each variant's retrieval is the already-verified operator
    * (its own cost model applies); the overlaps join O(queries·k)
    * ranked lists — metadata-sized at any corpus. */
  def recallReport(embeddings: DataFrame, k: Int = 5,
      nQueries: Int = 20): DataFrame = {
    // exact top-k is the SPINE (always k rows per query), the variant
    // joins in as a hit marker — a query whose probed cells return
    // fewer than k (or zero) candidates still reports its recall
    val exact = bruteForceTopKEdges(embeddings, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
      .pin() // the reference set, re-read once per variant
    def overlap(name: String, approx: DataFrame): DataFrame =
      exact.join(
          approx.select(col("query_id"), col("neighbor_id"),
            lit(1L).as("hit")),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
        .select(lit(name).as("variant"), col("query_id"), col("n_overlap"),
          round(col("n_overlap").cast("double") / k, 6).as("recall_at_k"))
    Seq(
      overlap("binary", binaryTopK(embeddings, k, nQueries)),
      overlap("ivf", ivfTopK(embeddings, k, nQueries)),
      overlap("ivfpq", ivfPqTopK(embeddings, k, nQueries)))
      .reduce(_ unionByName _)
      .orderBy(col("variant"), col("query_id"))
  }

  /** k-core threshold for [[kcore]] — shared with the oracle
    * generator. */
  val kcoreK = 2

  /** Safety cap on [[kcore]] peel rounds. Cascade depth is data-
    * dependent (a path peels one layer per round), so the peel runs
    * to CONVERGENCE; the cap exists only to fail LOUD on a pathology
    * (an adversarial chain deeper than the cap) instead of silently
    * under-peeling the way a fixed small unroll would. */
  val kcoreMaxRounds = 64

  /** Unroll depth the DuckDB oracle states for [[kcore]]. SQL cannot
    * loop, so the oracle unrolls this many peel rounds and ASSERTS
    * convergence (last two degree tables equal, else `error()`): a
    * too-shallow unroll becomes a loud oracle failure, never a
    * vacuous hash agreement on an under-peeled graph. Rounds past the
    * fixpoint are no-ops over an already-stable edge set, so the
    * bound is generous, not tight (the sf1 corpus graph measured a
    * cascade deeper than 16 — the assert fired as designed and the
    * bound was raised; each materialized no-op round is cheap). */
  val kcoreOracleRounds = 48

  /** k-core peel to CONVERGENCE over the mutual-kNN graph: repeat
    * "drop every node with degree < [[kcoreK]], then drop edges
    * touching a dropped node" until the edge set is stable — the
    * standard graph-density filter a curation stack runs to separate
    * a connected semantic core (candidates for aggressive dedup) from
    * tree-like periphery. Emits per node: initial degree, post-peel
    * degree, and the in-core flag.
    *
    * Scale: the k-core is unique, so the peel picks its form from the
    * observed edge count (see [[kcorePeel]]): up to
    * [[Dedup.ccLocalMaxEdges]] edges one task peels them all; above
    * it each round is ONE hash aggregate (degrees) + two equi-joins
    * of the edge list against the surviving-node set — shuffles on
    * vertex ids only, no all-pairs, degrees bounded by k — run by
    * [[graft.Fixpoint]] until the edge count is stable (the edge set
    * only ever shrinks, so count equality IS set equality). */
  def kcore(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    kcorePeel(mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b")))

  /** The convergent peel itself, over ANY (vec_a, vec_b) edge frame —
    * split from [[kcore]] so deep-cascade graphs (paths, which peel
    * exactly one layer per round) can be fed directly in specs
    * proving the stability check. `coreK` is the degree threshold
    * ([[kcoreK]] for the flagship query; [[coreness]] sweeps it).
    * `localMaxEdges` is the single-task threshold of [[kcoreEdges]];
    * 0 forces the distributed rounds (the specs run both forms). */
  def kcorePeel(edges0: DataFrame, coreK: Int = kcoreK,
      localMaxEdges: Long = Dedup.ccLocalMaxEdges): DataFrame = {
    val s0 = Fixpoint.start(edges0.select(col("vec_a"), col("vec_b")))
    val edges = kcoreEdges(s0, coreK, localMaxEdges)
    val degF = nodeDegrees(edges)
      .select(col("vec_id"), col("deg").as("deg_final"))
    nodeDegrees(s0.frame).select(col("vec_id"), col("deg").as("deg0"))
      .join(degF, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg0"),
        coalesce(col("deg_final"), lit(0L)).as("deg_final"),
        (coalesce(col("deg_final"), lit(0L)) >= coreK).as("in_core"))
      .orderBy(col("vec_id"))
  }

  private def nodeDegrees(e: DataFrame): DataFrame = e
    .select(explode(array(col("vec_a"), col("vec_b"))).as("vec_id"))
    .groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))

  /** The surviving edge set of the `coreK`-core of a pinned (vec_a,
    * vec_b) frame. Shared by [[kcorePeel]] and the threshold chain in
    * [[coreness]]. Up to `localMaxEdges` edges (observed in the pin,
    * no extra job) one task runs [[kcoreLocal]]; above it
    * [[graft.Fixpoint]] runs the distributed peel. Both give the same
    * edges: the k-core is unique. */
  private[graft] def kcoreEdges(s0: Fixpoint.Start, coreK: Int,
      localMaxEdges: Long): DataFrame = {
    // One peel layer: drop every node with degree < coreK, then every
    // edge touching a dropped node. No pin on the keep set: its
    // aggregate subtree appears in both semi-joins and AQE stage reuse
    // dedupes it (measured round 12: kcore 97->87 jobs, coreness
    // 127->114, task time unchanged).
    // LEFT SEMI, not inner, for the keep-filters: same rows (keep is
    // unique by construction), a build side that carries no output
    // columns — and, critically for a convergence loop, linear stats:
    // inner-join sizeInBytes is the PRODUCT of the children's, so a
    // pinned estimate would grow 3^round digits and the checkpoint's
    // stats rewrite itself becomes the bottleneck by round ~20
    // (measured: BigInteger.multiplyToomCook3 pegging the driver).
    // LeftSemi stats are the left child's — constant per round.
    def peelOnce(edges: DataFrame): DataFrame = {
      val keep = nodeDegrees(edges).filter(col("deg") >= coreK)
        .select(col("vec_id"))
      edges
        .join(keep.select(col("vec_id").as("vec_a")), Seq("vec_a"), "left_semi")
        .join(keep.select(col("vec_id").as("vec_b")), Seq("vec_b"), "left_semi")
        .select(col("vec_a"), col("vec_b"))
    }
    // TWO peel layers per pinned SQL execution (measured round 12):
    // per-round cost is dominated by the fixed price of an execution,
    // so halving the execution count halves the serial chain. Exact
    // because peeling only removes edges (the Fixpoint `layers`
    // contract); a cascade that converges at an odd layer just makes
    // the second layer a no-op. Not more than two: each layer reads
    // its input three times, so the plan of one execution grows
    // ~3^layers (four layers measured slower).
    Fixpoint("kcore peel", s0, kcoreMaxRounds, layers = 2,
      local = Some(Fixpoint.Local(localMaxEdges, kcoreLocal(_, coreK))))(
      peelOnce)
  }

  /** The [[kcoreEdges]] single-task finish: a linear degree peel over
    * primitive arrays. Nodes get dense ids, every edge is listed under
    * both endpoints (CSR), and a queue removes each node whose degree
    * falls below `coreK` once, dropping its live edges and decrementing
    * the other endpoint — O(nodes + edges). Degrees count edge
    * multiplicity, exactly as the distributed `nodeDegrees` does, so
    * the surviving edges (duplicates included) equal the distributed
    * fixpoint. */
  private def kcoreLocal(edges: DataFrame, coreK: Int): DataFrame = {
    val types = Seq("vec_a", "vec_b").map(edges.schema(_).dataType)
    val pairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    edges
      .select(col("vec_a").cast("long"), col("vec_b").cast("long"))
      .as(pairs).coalesce(1)
      .mapPartitions { it =>
        val (ab, bb) = (Array.newBuilder[Long], Array.newBuilder[Long])
        it.foreach { case (a, b) => ab += a; bb += b }
        val (ea, eb) = (ab.result(), bb.result())
        val ids = scala.collection.mutable.LongMap.empty[Int]
        val (ia, ib) = (ea.map(x => ids.getOrElseUpdate(x, ids.size)),
          eb.map(x => ids.getOrElseUpdate(x, ids.size)))
        val (n, m) = (ids.size, ea.length)
        val deg = new Array[Int](n)
        for (e <- 0 until m) { deg(ia(e)) += 1; deg(ib(e)) += 1 }
        val start = deg.scanLeft(0)(_ + _)
        val fill = start.clone()
        val inc = new Array[Int](2 * m)
        def link(x: Int, e: Int): Unit = { inc(fill(x)) = e; fill(x) += 1 }
        for (e <- 0 until m) { link(ia(e), e); link(ib(e), e) }
        val gone = new Array[Boolean](n)
        val dropped = new Array[Boolean](m)
        val queue = new Array[Int](n)
        var tail = 0
        def drop(x: Int): Unit =
          if (!gone(x) && deg(x) < coreK) {
            gone(x) = true; queue(tail) = x; tail += 1
          }
        (0 until n).foreach(drop)
        var head = 0
        while (head < tail) {
          val x = queue(head); head += 1
          for (j <- start(x) until start(x + 1); e = inc(j) if !dropped(e)) {
            dropped(e) = true
            deg(ia(e)) -= 1; deg(ib(e)) -= 1
            drop(ia(e)); drop(ib(e))
          }
        }
        (0 until m).iterator.filterNot(dropped).map(e => (ea(e), eb(e)))
      }(pairs)
      .toDF("vec_a", "vec_b")
      .select(col("vec_a").cast(types(0)), col("vec_b").cast(types(1)))
  }

  /** Full core decomposition over the mutual-kNN graph: each node's
    * CORE NUMBER — the largest c such that the node survives the
    * c-core peel — swept by running [[kcorePeel]] to convergence at
    * every threshold 1..k (mutual out-degree is k-bounded, so core
    * numbers are too; k peels of a k-bounded edge list, each the
    * audited convergent loop). The density ladder a curation stack
    * reads instead of one [[kcore]] slice: coreness 0 = isolated
    * after trivial peel, k = the densest nucleus.
    *
    * All-integer output — no float crossings anywhere. */
  def coreness(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val s0 = Fixpoint.start(mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b")))
    val deg0 = nodeDegrees(s0.frame).pin(eager = true)
    // CHAIN the peels: the c-core equals the c-core of the (c−1)-core
    // (cores nest), so each threshold starts from the previous
    // survivors — strictly less work than k independent peels, same
    // fixpoints (the oracle states the independent form; the hash
    // proves equality). A node is in the c-core iff it remains an
    // endpoint of the surviving edge set.
    var cur = s0.frame
    val flags = (1 to k).map { c =>
      if (c == 1) {
        // The 1-core of ANY edge list is the edge list itself: every
        // endpoint has degree ≥ 1 by construction, so the c=1 peel is
        // provably the identity — its flag set is exactly deg0's node
        // set, and running the convergent loop for it would spend one
        // full execution + pin to discover a no-op.
        deg0.select(col("vec_id"), lit(true).as("c1"))
      } else {
        val start = if (c == 2) s0 else Fixpoint.start(cur)
        cur = kcoreEdges(start, c, Dedup.ccLocalMaxEdges)
        nodeDegrees(cur).select(col("vec_id"), lit(true).as(s"c$c"))
      }
    }
    val joined = flags.foldLeft(
      deg0.select(col("vec_id"), col("deg").as("deg0"))) { (acc, f) =>
      acc.join(f, Seq("vec_id"), "left")
    }
    // fold ascending so the HIGHEST surviving threshold is the
    // outermost when(): c3 shadows c2 shadows c1 (a NULL flag falls
    // through to the lower-threshold branch)
    val core = (1 to k).foldLeft(lit(0L)) { (acc, c) =>
      when(col(s"c$c"), lit(c.toLong)).otherwise(acc)
    }
    joined.select(col("vec_id"), col("deg0"), core.as("coreness"))
      .orderBy(col("vec_id"))
  }

  /** Safety cap on [[bfsRadius]] BFS layers — BFS depth is the
    * component diameter (data-dependent); exceed = fail LOUD through
    * [[graft.Fixpoint]]'s max-rounds check. */
  val bfsMaxRounds = 256

  /** Unroll depth the DuckDB oracle states for [[bfsRadius]], with
    * the standard `error()` convergence assert — layered unit-weight
    * relaxation assigns each node its final distance on first reach,
    * so a stable count IS a stable distance table. */
  val bfsOracleRounds = 64

  /** Multi-source BFS eccentricity census over the mutual-kNN graph:
    * from each connected component's representative (its minimum
    * vec_id, the [[graft.operators.Dedup.clustersBigStar]] label),
    * expand unit-weight frontiers to EXHAUSTION and emit the
    * component size, the representative's eccentricity (its longest
    * shortest path — the radius-grade diameter proxy), and the mean
    * distance — the "how stringy are my near-dup blobs" diagnostic
    * that separates chain-shaped semantic drift from tight balls.
    *
    * Scale: one CC pass (the audited big-star loop), then the
    * [[bfsCensus]] relaxation — one join of the frontier against the
    * k-bounded adjacency per BFS layer. All-integer output except the
    * exact-int mean division. */
  def bfsRadius(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    bfsCensus(mutualKnnEdges(embeddings, k, cells))

  /** The BFS census over ANY deduplicated (vec_a, vec_b) edge frame —
    * split from [[bfsRadius]] so hand-built graphs (deep paths, cycles)
    * can be fed directly, like [[kcorePeel]].
    *
    * The state is the whole distance table (seed, node, dist, front),
    * started from the seeds at distance 0. One layer is the oracle's
    * min-relaxation restricted to the frontier: each row is left-joined
    * to its neighbours when it is on the frontier, keeps its own
    * distance, and offers `dist + 1` to each neighbour; per (seed,
    * node) the minimum wins — the old distance where there is one,
    * since a seed's frontier is its farthest layer — and a node is on
    * the next frontier iff it had no old distance. The table only
    * grows, so a stable row count is a stable table, and
    * [[graft.Fixpoint]] runs the layers under [[Fixpoint.rows]], capped
    * at [[bfsMaxRounds]] layers.
    *
    * Four layers per pinned round: each layer reads its input once, so
    * the round's plan grows linearly in the layer count (measured at
    * sf0.1 on 4 cores: 1/2/4/8 layers ran 11.0/9.8/9.3/10.0 s). A
    * census that converges mid-round makes the remaining layers
    * no-ops. */
  def bfsCensus(edges0: DataFrame): DataFrame = {
    val e0 = edges0.select(col("vec_a"), col("vec_b")).pin(eager = true)
    val und = e0.select(col("vec_a").as("u"), col("vec_b").as("c"))
      .unionAll(e0.select(col("vec_b").as("u"), col("vec_a").as("c")))
      .pin(eager = true)
    val seeds = Dedup.clustersBigStar(
        e0.select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("cluster_id").as("seed")).distinct()
    val s0 = Fixpoint.start(seeds.select(col("seed"), col("seed").as("node"),
      lit(0L).as("dist"), lit(true).as("front")))
    def layer(s: DataFrame): DataFrame = {
      def offer(node: Column, dist: Column, old: Boolean) =
        struct(node.cast("long").as("node"), dist.as("dist"),
          lit(old).as("old"))
      val own = offer(col("node"), col("dist"), old = true)
      val next = offer(col("c"), col("dist") + 1L, old = false)
      s.join(und, col("front") && col("node") === col("u"), "left")
        .select(col("seed"), explode(
          when(col("c").isNull, array(own)).otherwise(array(own, next)))
          .as("o"))
        .groupBy(col("seed"), col("o.node").as("node"))
        .agg(min(col("o.dist")).as("dist"), max(col("o.old")).as("old"))
        .select(col("seed"), col("node"), col("dist"),
          (!col("old")).as("front"))
    }
    Fixpoint("bfsRadius", s0, bfsMaxRounds, layers = 4)(layer)
      .groupBy(col("seed")).agg(
        count(lit(1)).as("n_reached"),
        max(col("dist")).as("eccentricity"),
        round(sum(col("dist")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_dist"))
      .orderBy(col("seed"))
  }

  /** k-truss threshold for [[ktruss]] — an edge survives while it
    * sits in at least `ktrussK − 2` triangles among surviving edges.
    * 4 (≥ 2 triangles) is the smallest threshold with REAL peel
    * cascades: at 3, dropping triangle-free edges can never destroy a
    * triangle (a triangle's own edges all have support ≥ 1), so the
    * peel is one round by theorem. Sub-threshold edges are simply
    * ABSENT from the per-round support aggregate on both engines (a
    * support-0 edge produces no wedge row), so no left-join-back is
    * needed inside the loop. */
  val ktrussK = 4

  /** Safety cap on [[ktruss]] peel rounds — same fail-LOUD contract
    * as [[kcoreMaxRounds]] (truss cascades chain like core cascades:
    * dropping one edge can strip its neighbors' last triangle). */
  val ktrussMaxRounds = 64

  /** Unroll depth the DuckDB oracle states for [[ktruss]], with the
    * same `error()` convergence assert as [[kcoreOracleRounds]] —
    * rounds past the fixpoint are no-ops, a too-shallow bound fails
    * loud. */
  val ktrussOracleRounds = 12

  /** k-truss peel to CONVERGENCE over the mutual-kNN graph: repeat
    * "drop every edge in fewer than [[ktrussK]]−2 triangles" until the
    * edge set is stable — the edge-grain sibling of [[kcore]] (a core
    * keeps dense NODES, a truss keeps edges embedded in dense
    * NEIGHBORHOOD OVERLAP), the standard cohesion filter for "which
    * near-dup links are corroborated by a third document". Emits per
    * initial edge: initial support, final support, and the in-truss
    * flag.
    *
    * Scale: per round one wedge join (edge list against the
    * undirected adjacency on both endpoints — fan-out Σ deg², degrees
    * k-bounded on a mutual-kNN graph) + a LEFT SEMI refilter of the
    * edge list (the [[kcorePeel]] lesson: semi-join stats stay linear
    * where an inner join's size estimate would grow 3^round digits
    * and stall the per-round checkpoint). [[graft.Fixpoint]] runs the
    * rounds to convergence by edge count — monotone shrink, count
    * equality is set equality. Distributed rounds only: no workload
    * measures a single-task form. */
  def ktruss(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame =
    ktrussPeel(mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b")))

  /** The convergent truss peel over ANY (vec_a, vec_b) edge frame
    * (vec_a < vec_b, deduplicated) — split from [[ktruss]] for
    * deep-cascade specs, like [[kcorePeel]]. */
  def ktrussPeel(edges0: DataFrame): DataFrame = {
    val s0 = Fixpoint.start(edges0.select(col("vec_a"), col("vec_b")))
    val e0 = s0.frame
    // support = triangles through each edge: common neighbors of the
    // endpoints in the undirected adjacency
    def support(e: DataFrame): DataFrame = {
      val und = e.select(col("vec_a").as("u"), col("vec_b").as("c"))
        .unionAll(e.select(col("vec_b").as("u"), col("vec_a").as("c")))
        .pin()
      e.as("e")
        .join(und.as("na"), col("e.vec_a") === col("na.u"))
        .join(und.as("nb"), col("e.vec_b") === col("nb.u") &&
          col("na.c") === col("nb.c"))
        .groupBy(col("e.vec_a").as("vec_a"), col("e.vec_b").as("vec_b"))
        .agg(count(lit(1)).as("support"))
    }
    val sup0 = support(e0)
      .select(col("vec_a"), col("vec_b"), col("support").as("sup0"))
      .pin(eager = true)
    // One layer per round, unlike kcoreEdges (2) and bfsCensus (4):
    // measured in round 13 (3 alternating A/B pairs), two truss layers
    // per pinned execution read jobs 43→47, tasks 47→53, task-s
    // 2.2→3.2 — the unpinned mid layer is consumed on DIFFERENT keys
    // (wedge join on each endpoint vs the semi-join pair key), so
    // nothing below it is reused and the whole wedge front recomputes
    // per consumer — the same shape that made the round-12 und-pin
    // drop regress.
    val edges = Fixpoint("ktruss peel", s0, ktrussMaxRounds) { e =>
      val qual = support(e)
        .filter(col("support") >= ktrussK - 2)
        .select(col("vec_a"), col("vec_b"))
      e.join(qual, Seq("vec_a", "vec_b"), "left_semi")
    }
    val supF = support(edges)
      .select(col("vec_a"), col("vec_b"), col("support").as("sup_final"))
    e0.join(sup0, Seq("vec_a", "vec_b"), "left")
      .join(supF, Seq("vec_a", "vec_b"), "left")
      .select(col("vec_a"), col("vec_b"),
        coalesce(col("sup0"), lit(0L)).as("sup0"),
        coalesce(col("sup_final"), lit(0L)).as("sup_final"),
        col("sup_final").isNotNull.as("in_truss"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Shared-nearest-neighbor graph (Jarvis–Patrick / SNN clustering's
    * edge weight): for every pair of vectors whose kNN lists overlap,
    * the shared-neighbor count and the SNN Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — the density-robust similarity that
    * downweights hub-inflated cosine (two points are SNN-close only if
    * their NEIGHBORHOODS agree, the standard fix for hubness in
    * high-dim kNN graphs, cf. [[hubness]]).
    *
    * Scale: candidates come from an equi-join of the adjacency list on
    * the SHARED NEIGHBOR id — candidate volume is Σ indeg(v)², the
    * in-degree concentration [[hubness]] measures (out-degree is
    * k-bounded; in-degree is NOT). That sum is the true output bound
    * for any exact SNN — no join strategy shrinks it. The per-key
    * straggler risk (one hub key's indeg² pairs in one task) is
    * handled at RUNTIME by AQE's skew-join split, and a past hub-axis
    * scaling probe (BASELINE.md) measured that as the better plan: an
    * explicit hot/cold broadcast split ([[snnSharedCounts]] with
    * hotK = [[snnHotKeys]]) ran 15–40 % SLOWER than the plain join +
    * AQE at every probe point (2k/8k/16k nodes, single 2M–128M-pair
    * hub), because the split pays an extra degree scan, pin and
    * broadcast for parallelism AQE already provides. So the default
    * is the plain self-join; the split stays available as an explicit
    * knob for deployments where AQE is off (SnnHotColdSpec proves any
    * hotK is row-for-row identical). */
  def snnGraph(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells, hotK: Int = 0): DataFrame = {
    val g = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id"), col("neighbor_id")).pin(eager = true)
    val outdeg = g.groupBy(col("vec_id")).agg(count(lit(1)).as("deg"))
    val shared = snnSharedCounts(g, hotK)
    shared
      .join(outdeg.select(col("vec_id").as("vec_a"), col("deg").as("da")),
        Seq("vec_a"))
      .join(outdeg.select(col("vec_id").as("vec_b"), col("deg").as("db")),
        Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"), col("shared"),
        round(col("shared").cast("double") /
          (col("da") + col("db") - col("shared")), 6).as("snn_jaccard"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Hot-key count for [[snnSharedCounts]]'s explicit split —
    * performance knob only, any value yields identical rows
    * (SnnHotColdSpec proves it across splits). */
  val snnHotKeys = 64

  /** Shared-neighbor pair counts. hotK = 0 (the [[snnGraph]] default):
    * one shuffle self-join on the shared-neighbor id, hub keys
    * runtime-split by AQE. hotK > 0: the explicit hot/cold split —
    * the hotK highest-in-degree neighbor ids pair through a BROADCAST
    * build side (the hub's indeg² candidate work spreads across every
    * probe-side partition by plan, not by AQE), the tail through the
    * shuffle join. Hot and cold partition the adjacency on the join
    * key, so the union is row-for-row the plain join — use it where
    * AQE is unavailable; measured slower than AQE's split where AQE
    * is on (see [[snnGraph]]). */
  private[graft] def snnSharedCounts(g: DataFrame,
      hotK: Int = 0): DataFrame = {
    def pairs(a: DataFrame, b: DataFrame): DataFrame =
      a.as("a").join(b.as("b"),
        col("a.neighbor_id") === col("b.neighbor_id") &&
          col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val cand =
      if (hotK <= 0) pairs(g, g)
      else {
        val hot = g.groupBy(col("neighbor_id"))
          .agg(count(lit(1)).as("indeg"))
          .orderBy(col("indeg").desc, col("neighbor_id").asc)
          .limit(hotK) // TakeOrderedAndProject: no global sort
          .select(col("neighbor_id"))
        val gHot = g.join(broadcast(hot), Seq("neighbor_id"))
          .pin(eager = true)
        val gCold = g.join(broadcast(hot), Seq("neighbor_id"), "left_anti")
        pairs(gHot, broadcast(gHot)).unionByName(pairs(gCold, gCold))
      }
    cand.groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("shared"))
  }

  /** PQ codebook utilization census: per subspace, how many of the
    * [[kmK]] codewords the corpus actually uses, the Shannon entropy
    * of the code distribution (vs the ln k ceiling a balanced codebook
    * attains), and the hottest code's share — the index-health
    * diagnostic for [[pqBuild]] (a collapsed codebook quantizes to
    * garbage long before MSE shows it; cf. [[pqDistortion]] for the
    * reconstruction-error view).
    *
    * Determinism: entropy terms ride the [[TextAnalysis]] recipe —
    * round(−p·ln p, 12) on exact count ratios, DECIMAL-summed. Scale:
    * one hash aggregate to the (subspace × code) grain — ≤ pqM·k rows
    * — off the map-side code table; nothing downstream is data-sized. */
  def pqCodeEntropy(embeddings: DataFrame): DataFrame = {
    val (codes, _) = pqBuild(embeddings)
    val long = codes.select(posexplode(array(
        (0 until pqM).map(s => col(s"c$s")): _*)).as(Seq("sub", "code")))
    val hist = long.groupBy(col("sub"), col("code"))
      .agg(count(lit(1)).as("n"))
    val tots = hist.groupBy(col("sub"))
      .agg(sum(col("n")).as("tot"), count(lit(1)).as("n_codes_used"),
        max(col("n")).as("n_max"))
    val p = col("n").cast("double") / col("tot")
    hist.join(broadcast(tots), Seq("sub"))
      .select(col("sub"), col("n_codes_used"), col("tot"), col("n_max"),
        round(-p * log(p), 12).cast("decimal(18,12)").as("term"))
      .groupBy(col("sub"))
      .agg(max(col("n_codes_used")).as("n_codes_used"),
        round(sum(col("term")).cast("double"), 6).as("code_entropy"),
        round(max(col("n_codes_used")).cast("double") / kmK, 6)
          .as("utilization"),
        round(max(col("n_max")).cast("double") / max(col("tot")), 6)
          .as("max_code_share"))
      .select(col("sub").cast("long").as("sub"), col("n_codes_used"),
        col("code_entropy"), col("utilization"), col("max_code_share"))
      .orderBy(col("sub"))
  }

  /** HNSW layer-draw salt / level cap / inverse-ln(M) multiplier —
    * shared with the oracle generator. mL = 1/ln 2 is the paper's
    * default for M = 2 branching. */
  val hnswSalt = "graft-hnsw:"
  val hnswMaxLevel = 8
  val hnswMl: Double = 1.0 / math.log(2.0)

  /** HNSW layer-assignment census: every vector draws its maximum
    * layer from the geometric distribution level =
    * ⌊−ln(u)·mL⌋ (Malkov–Yashunin 2016) with u a DETERMINISTIC salted-
    * hash uniform — the same sealed-RNG-for-reproducibility seam as
    * [[graft.operators.Relational.dpRelease]]. Emits per level: node
    * count, the cumulative hierarchy size (nodes with level ≥ L — the
    * set a level-L search graph contains), and shares — the capacity-
    * planning table an HNSW build reads to size its upper layers
    * before constructing anything.
    *
    * Scale: one map-side hash + floor per vector, one hash aggregate
    * to the ≤ [[hnswMaxLevel]]+1-row grid, one tiny cumulative window
    * over that grid. */
  def hnswLayers(embeddings: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val u = (graft.functions.Portable.hash32(
      concat(lit(hnswSalt), col("vec_id").cast("string")))
      .cast("double") + 0.5) / 4294967296.0
    val lvl = least(floor(-log(u) * hnswMl), lit(hnswMaxLevel.toLong))
      .cast("long")
    val hist = embeddings.select(lvl.as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
    val tot = hist.agg(sum(col("n_nodes")).as("n_total"))
    // cumulative over a ≤ 9-row grid — bounded, not a data-sized window
    val w = Window.orderBy(col("level").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.crossJoin(broadcast(tot))
      .select(col("level"), col("n_nodes"),
        sum(col("n_nodes")).over(w).as("hierarchy_size"),
        round(col("n_nodes").cast("double") / col("n_total"), 6)
          .as("share"))
      .orderBy(col("level"))
  }

  /** Directed-kNN reciprocity: the share of kNN edges whose reverse
    * edge also exists — the global asymmetry gauge (a low rate says
    * cosine neighborhoods are hub-dominated: many vectors choose the
    * hub, the hub chooses few back — the scalar summary of what
    * [[hubness]] itemizes and [[mutualKnnGraph]] filters on).
    *
    * Scale: one self-equi-join of the edge list on BOTH endpoint ids
    * (edge-volume-bounded, nodes ≤ n·k rows), two scalar aggregates. */
  def knnReciprocity(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val g = knnGraphEdges(embeddings, k, cells)
      .select(col("vec_id"), col("neighbor_id")).pin(eager = true)
    val mutualPairs = g.as("a").join(g.as("b"),
        col("a.vec_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.vec_id") &&
          col("a.vec_id") < col("a.neighbor_id"))
      .agg(count(lit(1)).as("n_pairs"))
    val totals = g.agg(
      countDistinct(col("vec_id")).as("n_nodes"),
      count(lit(1)).as("n_edges"))
    totals.crossJoin(broadcast(mutualPairs))
      .select(col("n_nodes"), col("n_edges"),
        (col("n_pairs") * 2).as("n_reciprocal_edges"),
        round((col("n_pairs") * 2).cast("double") / col("n_edges"), 6)
          .as("reciprocity"))
  }

  /** Power-iteration count for [[spectralRadius]] — shared with the
    * oracle generator (which unrolls the same iterations). */
  val SpecIters = 3

  /** Spectral radius (dominant eigenvalue) of the mutual-kNN
    * adjacency, by [[SpecIters]] unrolled power iterations from the
    * uniform unit vector — the one-number graph-connectivity gauge
    * (λ₁ sits between the average and maximum degree; λ₁ → k says the
    * graph is near-regular and well-mixed, λ₁ ≪ k says fragmentation —
    * the spectral sibling of [[knnComponents]]). The estimate is the
    * Rayleigh-free norm ‖A v_t‖ after the last matvec of a unit v_t.
    *
    * Determinism: each matvec accumulates neighbor values as
    * DECIMAL(28,10) (order-independent; the oracle states the same
    * sums through VARCHAR crossings — the iterated-kernel convention);
    * each normalization is one decimal-summed norm with the
    * NULL-divisor guard. Scale: O(iters) edge-list joins + node-grain
    * aggregates — the [[knnPageRank]] plan shape exactly; degrees ≤ k
    * bound the matvec fan-out. */
  def spectralRadius(embeddings: DataFrame, k: Int = 3,
      cells: Int = autoCells): DataFrame = {
    val med = mutualKnnEdges(embeddings, k, cells)
      .select(col("vec_a"), col("vec_b"))
    val edges = med.select(col("vec_a").as("src"), col("vec_b").as("dst"))
      .unionByName(
        med.select(col("vec_b").as("src"), col("vec_a").as("dst")))
      .pin(eager = true)
    val nodes = edges.select(col("src").as("node")).distinct()
      .pin(eager = true)
    val totals = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(nodes.agg(count(lit(1)).as("n_nodes"))))
    val n = nodes.count()
    var v = nodes.withColumn("x",
      lit(if (n > 0) 1.0 / math.sqrt(n.toDouble) else 0.0))
    var lastNorm = v.limit(0)
      .select(lit(0.0).as("nrm")) // replaced in the loop
    for (i <- 1 to SpecIters) {
      val wv = edges
        .join(v.select(col("node").as("src"), col("x")), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("x").cast("decimal(28,10)")).cast("double").as("wx"))
        .pin()
      val nrm = wv.agg(sqrt(
        sum(round(col("wx") * col("wx"), 12).cast("decimal(28,12)"))
          .cast("double")).as("nrm"))
      lastNorm = nrm
      v = wv.crossJoin(broadcast(nrm))
        .select(col("node"),
          (col("wx") / when(col("nrm") =!= 0.0, col("nrm"))).as("x"))
        .pin(eager = i == SpecIters)
    }
    lastNorm.crossJoin(broadcast(totals))
      .select(col("n_nodes"), col("n_edges"),
        round(col("nrm"), 6).as("spectral_radius"))
  }

  def nearDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
      dim: Int = 64): DataFrame = {
    val sig = unitized(embeddings).withColumn("sig", srpSignature(col("unit"), dim))
    val banded = sig
      .select(col("vec_id"), col("unit"), explode(array(
        struct(lit(0).as("band"), (col("sig") % 256).as("key")),
        struct(lit(1).as("band"), expr("sig div 256").as("key")))).as("bb"))
      .select(col("vec_id"), col("unit"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosineUnit(col("a.unit"), col("b.unit")).as("cosine"))
      .filter(col("cosine") >= threshold) // before distinct: shrink first
      .distinct()
      .orderBy(col("vec_a"), col("vec_b"))
  }
}
