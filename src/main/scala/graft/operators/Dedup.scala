package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Fixpoint
import graft.functions.Portable
import graft.Materialize.PinOps

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table: exact (fingerprint groupBy), MinHash+LSH
  * (shingle → minhash → band → bucket-join → Jaccard verify), SimHash
  * (hamming-distance pairs), and plain n-gram Jaccard. Embedding-cosine
  * near-dup lives in [[Similarity]].
  *
  * All hashes are the portable md5/universal-hash family
  * ([[Portable]]) so the DuckDB oracle reproduces every stage exactly.
  *
  * Scale notes (100 TB):
  *   - Exact dedup is one hash-shuffle on the 128-bit fingerprint —
  *     optimal, no alternative at any scale.
  *   - MinHash: the shingle explode is map-side; signatures are one
  *     groupBy(doc_id) with partial min() combine; LSH banding turns the
  *     O(n²) all-pairs problem into equi-joins on (band, key) — the
  *     shuffles are all on high-cardinality keys. Candidate verification
  *     touches only bucket collisions (~linear for realistic corpora).
  *   - SimHash pair generation bands the 64-bit signature into 4
  *     disjoint 16-bit slices and equi-joins on any matching slice
  *     (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal), which
  *     [[simhashPairs]] implements; 65,536 buckets per band keeps
  *     in-bucket pairing linear as the corpus grows.
  */
object Dedup {

  val numHashes = 16
  val numBands = 4 // 4 rows per band
  val rowsPerBand: Int = numHashes / numBands
  val coeffs: Seq[(Long, Long)] = Portable.hashCoeffs(numHashes)

  /** Exact dedup: group by normalized-text fingerprint, keep the min
    * doc_id as representative (deterministic, unlike dropDuplicates). */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(TextAnalysis.normalizedText(col("text"))).as("fingerprint"))
      .agg(min(col("doc_id")).as("rep_doc_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("rep_doc_id"))

  /** Word-3-gram shingle rows per doc, pre-distinct: (doc_id, shingle).
    * Docs with fewer than 3 tokens produce no shingles. The single place
    * the shingle definition lives — [[shingles]] and [[jaccardPairs]]
    * both build on it. */
  private[operators] def shingleRows(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", Portable.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))")).as("shingle"))

  /** Distinct word-3-gram shingles per doc: (doc_id, shingle) (same as
    * the oracle's empty `range` for short docs). */
  def shingles(documents: DataFrame): DataFrame =
    shingleRows(documents).distinct()

  /** Shingles with their 32-bit portable hash: (doc_id, h). */
  def shingleHashes(documents: DataFrame): DataFrame =
    hashesOf(shingles(documents))

  private def hashesOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), Portable.hash32(col("shingle")).as("h"))

  /** Winnowing parameters (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * fingerprinting scheme): token k-gram size, selection window, the
    * fingerprint document-frequency cap for pairing, and the minimum
    * shared-fingerprint count that makes a candidate pair. Shared with
    * the oracle generator. */
  val winnowW = 4
  val winnowMaxDf = 16L
  val winnowMinShared = 2L
  /** Positions are packed with the hash into one 52-bit key
    * (h·2^20 + (2^20−1−pos)) so a single integer MIN is an argmin by
    * (hash asc, position desc) — the winnowing rightmost-minimum rule
    * — identically on both engines. Caps docs at 2^20 grams. */
  val winnowPosCap = 1048576L

  /** Winnowing fingerprints per document: the word-3-gram hashes
    * selected as the (rightmost) minimum of every [[winnowW]]-wide
    * sliding window over the gram sequence. Guarantees every match of
    * length ≥ k+w−1 tokens shares a fingerprint while keeping only
    * ~2/(w+1) of the grams — the robust substring-dedup sketch.
    * (doc_id, h, sel_pos), distinct. Docs with fewer than k+w−1
    * tokens (no complete window) produce no fingerprints. */
  def winnowFingerprints(documents: DataFrame): DataFrame = {
    val grams = documents
      .withColumn("toks", Portable.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(toks) - 3), " +
          "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
        .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        Portable.hash32(col("gram")).as("h"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(winnowW - 1), Window.currentRow)
    grams
      .withColumn("key",
        col("h") * winnowPosCap + (lit(winnowPosCap - 1) - col("pos")))
      .withColumn("sel", min(col("key")).over(w))
      .filter(col("pos") >= winnowW - 1)
      .select(col("doc_id"),
        expr(s"sel div $winnowPosCap").as("h"),
        (lit(winnowPosCap - 1) - pmod(col("sel"), lit(winnowPosCap)))
          .as("sel_pos"))
      .distinct()
  }

  /** Winnowing candidate pairs: documents sharing ≥ [[winnowMinShared]]
    * selected fingerprints (hot fingerprints with document frequency >
    * [[winnowMaxDf]] — boilerplate phrases — are excluded from pairing,
    * the same df-cap discipline as the shingle Jaccard path, so the
    * fingerprint equi-join's per-key fan-out is bounded). Overlap is
    * counted on distinct hashes; `containment` divides by the smaller
    * doc's full (uncapped) fingerprint count.
    *
    * Scale: fingerprints are ~2/(w+1) of the gram volume at rest; the
    * pair join is an equi-join on fingerprint hash with ≤ df-cap²
    * rows per key; everything else is hash aggregates. */
  def winnowingPairs(documents: DataFrame): DataFrame = {
    val fps = winnowFingerprints(documents)
      .select(col("doc_id"), col("h")).distinct().pin()
    val counts = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val kept = fps.join(
      fps.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= winnowMaxDf)
        .select(col("h")),
      Seq("h"))
    val pairs = kept.select(col("h"), col("doc_id").as("doc_a"))
      .join(kept.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= winnowMinShared)
    pairs
      .join(counts.select(col("doc_id").as("doc_a"),
        col("n_fp").as("n_fp_a")), Seq("doc_a"))
      .join(counts.select(col("doc_id").as("doc_b"),
        col("n_fp").as("n_fp_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"),
        round(col("n_shared").cast("double") /
          least(col("n_fp_a"), col("n_fp_b")).cast("double"), 6)
          .as("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** MinHash signature, one column per seed: (doc_id, mh_0 .. mh_15). */
  def minhashSignatures(documents: DataFrame): DataFrame =
    signaturesOf(shingles(documents))

  private def signaturesOf(sh: DataFrame): DataFrame = {
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(Portable.universalHash(col("h"), a, b)).as(s"mh_$i")
    }
    hashesOf(sh).groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** LSH bucket rows: (doc_id, band, key) — key concatenates the band's
    * minhash rows. Docs sharing (band, key) are candidate pairs. */
  private def bucketsOf(sh: DataFrame): DataFrame = {
    val sigs = signaturesOf(sh)
    val bandCols = (0 until numBands).map { b =>
      val ks = (0 until rowsPerBand).map(r => s"mh_${b * rowsPerBand + r}")
      struct(lit(b).as("band"),
        concat_ws(",", ks.map(col): _*).as("key")).as(s"b$b")
    }
    sigs.select(col("doc_id") +: bandCols: _*)
      .select(col("doc_id"), explode(array((0 until numBands)
        .map(b => col(s"b$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from LSH bucket collisions: (doc_a, doc_b), a < b. */
  def lshCandidates(documents: DataFrame): DataFrame =
    candidatesOf(shingles(documents))

  private def candidatesOf(sh: DataFrame): DataFrame = {
    val bk = bucketsOf(sh)
    val a = bk.as("a")
    val b = bk.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard over the given distinct shingle sets for the given
    * pairs df (doc_a, doc_b). Returns (doc_a, doc_b, jaccard rounded 6). */
  private def withJaccard(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") &&
        col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("ca.n_sh") + col("cb.n_sh") - col("n_common")), 6).as("jaccard"))
  }

  /** Character budget for [[editPairs]]'s exact verifier — Levenshtein
    * is O(m·n) per pair, so the verifier reads a bounded prefix and
    * the per-pair cost is a constant at any corpus size. Shared with
    * the oracle generator. */
  val editMaxChars = 1000

  /** Edit-distance verification of the LSH candidate pairs: exact
    * Levenshtein distance and normalized similarity
    * (1 − dist/max(len)) over the first [[editMaxChars]] characters —
    * the precision tail stage a dedup pipeline runs when shingle
    * Jaccard is too coarse (near-identical templates with small
    * substitutions). Affordable at scale only because it runs on the
    * band-collision candidate set, never all pairs, and each
    * comparison is prefix-bounded; both engines' `levenshtein` is the
    * same integer DP metric, so rows are exact. Two empty prefixes
    * are identical by definition (similarity 1), stated identically
    * by the oracle. */
  def editPairs(documents: DataFrame): DataFrame = {
    val txt = documents.select(col("doc_id"),
      substring(col("text"), 1, editMaxChars).as("t"))
    lshCandidates(documents)
      .join(txt.as("ta"), col("doc_a") === col("ta.doc_id"))
      .join(txt.as("tb"), col("doc_b") === col("tb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        length(col("ta.t")).cast("long").as("len_a"),
        length(col("tb.t")).cast("long").as("len_b"),
        levenshtein(col("ta.t"), col("tb.t")).cast("long")
          .as("edit_distance"))
      .select(col("doc_a"), col("doc_b"), col("len_a"), col("len_b"),
        col("edit_distance"),
        when(greatest(col("len_a"), col("len_b")) > 0,
          round(lit(1.0) - col("edit_distance").cast("double") /
            greatest(col("len_a"), col("len_b")), 6))
          .otherwise(lit(1.0)).as("edit_sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shingle document-frequency profile — the histogram that SIZES the
    * [[jaccardMaxDf]] cap: how many distinct shingles occur in exactly
    * df documents, cumulative share included. A heavy df head means
    * boilerplate (cap bites, fan-out bounded); a pure power-law tail
    * means the cap is free. Two integer hash aggregates (shingle → df,
    * df → count) plus a histogram-sized cumulative window — nothing
    * data-sized past the first aggregate at any corpus. */
  def dfProfile(documents: DataFrame): DataFrame = {
    val df = shingleHashes(documents)
      .groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
    val hist = df.groupBy(col("df")).agg(count(lit(1)).as("n_shingles"))
    val tot = hist.agg(sum(col("n_shingles")).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("df"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    hist.crossJoin(broadcast(tot))
      .select(col("df"), col("n_shingles"),
        sum(col("n_shingles")).over(w).as("cum_shingles"),
        round(sum(col("n_shingles")).over(w).cast("double") /
          col("n_total"), 6).as("cum_share"),
        (col("df") <= jaccardMaxDf).as("under_cap"))
      .orderBy(col("df"))
  }

  /** MinHash estimator calibration report — the evaluation every LSH
    * deployment owes its tuning decisions: over the band-collision
    * candidate set, compare the SIGNATURE-estimated Jaccard (fraction
    * of agreeing minhash components — the quantity LSH actually
    * thresholds on at scale) against the exact shingle Jaccard, and
    * report candidate volume, verified-pair precision at the 0.5
    * threshold, and the estimator's MAE and bias. Cost is bounded by
    * the candidate set (never all-pairs); the error sums go through
    * round-6 DECIMAL so the one global aggregate is order-independent
    * under any partitioning (a raw float sum across partials would
    * not be). */
  def lshCalibration(documents: DataFrame): DataFrame = {
    val sh = shingles(documents)
    val sigs = signaturesOf(sh)
    val cand = candidatesOf(sh)
    val matchSum = (0 until numHashes)
      .map(i => when(col(s"sa.mh_$i") === col(s"sb.mh_$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (matchSum / lit(numHashes.toDouble)).as("est_j"))
    val pairs = est.join(withJaccard(sh, cand), Seq("doc_a", "doc_b"))
    pairs.agg(
        count(lit(1)).as("n_candidates"),
        count(when(col("jaccard") >= 0.5, 1)).as("n_verified"),
        round(count(when(col("jaccard") >= 0.5, 1)).cast("double") /
          count(lit(1)), 6).as("cand_precision"),
        round(sum(round(abs(col("est_j") - col("jaccard")), 6)
            .cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("est_mae"),
        round(sum(round(col("est_j") - col("jaccard"), 6)
            .cast("decimal(18,6)")).cast("double") / count(lit(1)), 6)
          .as("est_bias"))
  }

  /** MinHash+LSH near-duplicate pairs, Jaccard-verified. */
  def minhashPairs(documents: DataFrame, threshold: Double = 0.5): DataFrame =
    minhashPairsOf(shingles(documents), threshold)

  /** [[minhashPairs]] over a precomputed distinct-shingle set — lets a
    * composing pipeline ([[Curation.curatedCorpus]]) share one shingle
    * materialization across its dedup/decontamination branches. */
  private[operators] def minhashPairsOf(sh: DataFrame,
      threshold: Double = 0.5): DataFrame =
    withJaccard(sh, candidatesOf(sh))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))

  /** Jaccard thresholds for [[thresholdSweep]] — shared with the
    * oracle generator. */
  val SweepThresholds = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Near-dup threshold sweep: verified-pair volume, docs-affected
    * count, and candidate precision at each Jaccard cutoff — the
    * calibration table that turns "pick a threshold" from folklore
    * into a read-off (tighten until the pair volume elbow). One
    * LSH+Jaccard pass (candidate-bounded); the sweep itself is five
    * conditional aggregates over the SAME verified pair set, so the
    * cost is one pair scan regardless of how many thresholds are
    * probed. */
  def thresholdSweep(documents: DataFrame): DataFrame = {
    val sh = shingles(documents)
    val jacShared = withJaccard(sh, candidatesOf(sh)).pin(eager = true)
    val perT = SweepThresholds.map { t =>
      jacShared
        .agg(count(lit(1)).as("n_candidates"),
          count(when(col("jaccard") >= t, 1)).as("n_pairs"),
          countDistinct(when(col("jaccard") >= t, col("doc_b")))
            .as("n_docs_dropped"))
        .select(lit(t).as("threshold"), col("n_candidates"),
          col("n_pairs"),
          col("n_docs_dropped"),
          round(col("n_pairs").cast("double") / col("n_candidates"), 6)
            .as("cand_precision"))
    }
    perT.reduce(_ unionAll _).orderBy(col("threshold"))
  }

  /** Canonical selection within duplicate clusters: for every clustered
    * document, WHICH copy survives — the keeper is the longest member
    * (max `n_chars`, ties to the smallest doc_id; "keep the longest" is
    * the standard near-dup canonicalization heuristic: the fullest copy
    * of a templated/reposted text). The decision layer between pair
    * discovery ([[minhashPairs]]) and the delete list a pipeline
    * actually executes.
    *
    * Determinism: the keeper is `min(struct(−n_chars, doc_id))` — exact
    * integer comparisons, a stated tie rule, no arg_max luck. Scale:
    * rides the verified-pair → connected-components chain, then one
    * cluster-grain aggregate and one equi-join back to members —
    * nothing beyond the shared shingle front touches text. */
  def keepBest(documents: DataFrame): DataFrame = {
    val members = clustersBigStar(minhashPairs(documents))
      .join(documents.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val keepers = members.groupBy(col("cluster_id"))
      .agg(min(struct((-col("n_chars")).as("neg"), col("doc_id").as("d")))
        .getField("d").as("keeper_id"))
    members.join(keepers, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("keeper_id"),
        (col("doc_id") === col("keeper_id")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-cluster size histogram: how many near-dup clusters
    * exist at each size, singletons included — the one-page shape
    * report a dedup deployment is judged by (a heavy large-cluster
    * tail means template spam; mostly pairs means organic
    * re-posting). Composes the verified pair → connected-components
    * chain, then two cluster-sized hash aggregates; the singleton row
    * is the corpus count minus the clustered count — no scan touches
    * text beyond the shared shingle front. */
  def clusterSizes(documents: DataFrame): DataFrame = {
    val cl = clustersBigStar(minhashPairs(documents))
    val bySize = cl.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val nClustered = cl.agg(count(lit(1)).as("n_clustered"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val singles = nDocs.crossJoin(nClustered)
      .select(lit(1L).as("cluster_size"),
        (col("n_docs") - col("n_clustered")).as("n_clusters"))
      .filter(col("n_clusters") > 0)
    bySize.unionAll(singles)
      .groupBy(col("cluster_size"))
      .agg(sum(col("n_clusters")).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))
  }

  /** Cross-source duplication matrix: the verified near-dup pairs
    * rolled up to (source, source) cells — the provenance map that
    * says which sources copy from which (a hot off-diagonal cell
    * means two crawls overlap; a hot diagonal means one source
    * re-publishes itself). Pure composition: the LSH+Jaccard verified
    * pairs (candidate-bounded, never all-pairs) joined twice against
    * the slim (doc_id, source) projection, then a source²-bounded
    * hash aggregate — nothing new touches the text. */
  def sourceMatrix(documents: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val pairs = minhashPairs(documents, threshold)
      .select(col("doc_a"), col("doc_b"))
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Batch boundary for [[incremental]] — docs with id below this are
    * the "already indexed" corpus; at/above are the new batch. Shared
    * with the oracle generator. */
  val incBatchMinId = 400L

  /** Incremental dedup: classify a NEW batch of documents (doc_id >=
    * `batchMinId`) against the already-ingested corpus (doc_id below
    * it) — the daily-crawl-versus-index operation every growing corpus
    * runs. Per batch doc:
    *   - `exact_dup`: its normalized fingerprint was already seen (in
    *     the corpus, or earlier in the batch — min doc_id wins);
    *   - `near_dup`: a MinHash+LSH candidate verified at Jaccard >=
    *     `threshold` against any earlier doc;
    *   - `new`: neither. `dup_of` = the matched earlier doc_id (exact
    *     match preferred), NULL for new docs.
    *
    * Scale (100 TB): in production the corpus side is the persisted
    * dedup index — fingerprints and LSH band keys only, two narrow
    * columns, never the document text; here both sides derive from one
    * table because the sandbox ships one. What matters is the join
    * structure: everything is an equi-join on fingerprint / (band,
    * key), and the batch-side filter lands BEFORE the Jaccard
    * verification, so only candidate pairs touching the new batch are
    * verified — cost scales with the batch, not the corpus. */
  def incremental(documents: DataFrame, batchMinId: Long = incBatchMinId,
      threshold: Double = 0.5): DataFrame = {
    val fps = documents.select(col("doc_id"),
      md5(TextAnalysis.normalizedText(col("text"))).as("fingerprint"))
    val firstByFp = fps.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("first_doc"))
    val exactDup = fps.join(firstByFp, Seq("fingerprint"))
      .filter(col("doc_id") >= batchMinId && col("first_doc") < col("doc_id"))
      .select(col("doc_id"), col("first_doc").as("exact_dup_of"))
    val sh = shingles(documents)
    val nearDup = withJaccard(sh,
        candidatesOf(sh).filter(col("doc_b") >= batchMinId))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_b"))
      .agg(min(col("doc_a")).as("near_dup_of"))
      .withColumnRenamed("doc_b", "doc_id")
    documents.filter(col("doc_id") >= batchMinId).select(col("doc_id"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_dup_of").isNotNull, lit("exact_dup"))
          .when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_dup_of"), col("near_dup_of")).as("dup_of"))
      .orderBy(col("doc_id"))
  }

  /** Plain n-gram Jaccard pairs: every pair sharing ≥1 shingle, exact
    * Jaccard ≥ threshold. (Inverted-index join, no LSH — the oracle
    * baseline for [[minhashPairs]]; at scale prefer the LSH variant.)
    *
    * Single pass: the shingle self-join's groupBy *is* the intersection
    * count (|A∩B| = number of shared shingles), so no separate
    * candidate-distinct + re-join round trip.
    *
    * Skew bound: shingles with document frequency > `maxDf` are dropped
    * from the universe before the self-join (a shingle in d docs fans
    * out d²/2 join rows — ubiquitous shingles are both the skew bomb
    * and the least informative signal, standard inverted-index
    * practice). Jaccard is computed over the capped universe on both
    * sides of the contract: the oracle states the identical df filter. */
  val jaccardMaxDf = 50

  /** Shared front of [[jaccardPairs]] and [[containmentPairs]]: the
    * hashed, df-capped shingle universe, per-doc set sizes, and the
    * inverted-index intersection counts. Hashed-shingle form (the
    * at-scale shape): shingles are hashed to 32 bits map-side, BEFORE
    * the first shuffle, so every shuffled row in the distinct / df-cap
    * / self-join stages is two longs, not a 3-word string. The oracles
    * state the identical hashing, so the (astronomically rare)
    * hash-collision semantics are shared exactly. Returns
    * (counts (doc_id, n_sh), common (doc_a, doc_b, n_common)). */
  private def cappedCommon(documents: DataFrame,
      maxDf: Int): (DataFrame, DataFrame) = {
    val allSh = shingleRows(documents)
      .select(col("doc_id"), Portable.hash32(col("shingle")).as("h"))
      .distinct()
    val rareSh = allSh.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("h"))
    val sh = allSh.join(rareSh, Seq("h"))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    (counts, common)
  }

  def jaccardPairs(documents: DataFrame, threshold: Double = 0.3,
      maxDf: Int = jaccardMaxDf): DataFrame = {
    val (counts, common) = cappedCommon(documents, maxDf)
    common
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") /
          (col("ca.n_sh") + col("cb.n_sh") - col("n_common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Containment threshold for [[containmentPairs]] — shared with the
    * oracle generator. */
  val containmentThreshold = 0.5

  /** ASYMMETRIC near-dup detection: containment C(A→B) = |A∩B| / |A| —
    * the measure that catches a short document wholly quoted inside a
    * long one, which symmetric Jaccard structurally misses (a 50-shingle
    * doc inside a 5000-shingle doc has containment 1.0 but Jaccard
    * 0.01 — DedupSpec plants exactly that shape). Emits both directions
    * per pair plus the Jaccard for calibration; a pair reports when
    * either direction clears `threshold`. Same capped hashed universe
    * and single-pass inverted-index intersection as [[jaccardPairs]] —
    * the extra measure is two more divisions on the already-grouped
    * counts, no new shuffle. */
  def containmentPairs(documents: DataFrame,
      threshold: Double = containmentThreshold,
      maxDf: Int = jaccardMaxDf): DataFrame = {
    val (counts, common) = cappedCommon(documents, maxDf)
    common
      .join(counts.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(counts.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("n_common").cast("double") / col("ca.n_sh"), 6)
          .as("containment_a"),
        round(col("n_common").cast("double") / col("cb.n_sh"), 6)
          .as("containment_b"),
        round(col("n_common").cast("double") /
          (col("ca.n_sh") + col("cb.n_sh") - col("n_common")), 6).as("jaccard"))
      .filter(greatest(col("containment_a"), col("containment_b")) >= threshold)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Connected components over near-duplicate pairs — the step that
    * turns pairwise matches into dedup clusters (cluster_id = min doc_id
    * in the component; the cluster representative to keep). Plain
    * min-label propagation to fixpoint, run by [[graft.Fixpoint]]: each
    * round is one join + aggregation, pinned so lineage stays flat, and
    * stops when the (node, label) checksum repeats — labels only ever
    * decrease, so an unchanged checksum is an unchanged labelling.
    * Components from near-dup detection have tiny diameters, so this
    * converges in a few rounds; the web-scale variant is the
    * large-star/small-star alternation with the identical per-round
    * plan shape. */
  def clusters(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b")))
      .distinct()
      .pin(eager = true)
    val labels0 = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    val labels = Fixpoint("label propagation",
        Fixpoint.start(labels0, Fixpoint.checksum(col("node"), col("label"))),
        ccMaxRounds) { labels =>
      val neighborMin = edges
        .join(labels.select(col("node").as("b"), col("label").as("blabel")), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(min(col("blabel")).as("nlabel"))
      labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
    }
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Edge-count threshold below which a convergent graph operator
    * finishes in one task instead of distributed rounds — the CC analog
    * of Spark's broadcast-join threshold. It gates two operators:
    * [[clustersBigStar]] (union-find) and the k-core peel
    * ([[Similarity.kcorePeel]], a linear degree peel). The candidate-
    * pair sets that near-dup banding emits and the k-bounded mutual-kNN
    * graphs are usually FAR smaller than the corpus, and at that size
    * the distributed rounds are pure scheduling latency (∼15 tiny
    * jobs). 4M edges ≈ 64 MB of longs — one comfortable task. Above it,
    * the distributed rounds run unchanged. */
  val ccLocalMaxEdges: Long = 4L * 1024 * 1024

  /** Safety cap on [[clusters]] and [[clustersBigStar]] rounds:
    * label propagation needs O(diameter) rounds, the star alternation
    * O(log n); past the cap the loop fails loud instead of stalling. */
  val ccMaxRounds = 256

  /** Connected components via large-star/small-star alternation (the
    * web-scale variant of [[clusters]]): converges in O(log n) rounds on
    * ANY graph shape — label propagation needs O(diameter) rounds, which
    * a chain-shaped near-dup corpus turns into a long serial tail. Each
    * round is two (join + aggregation) passes over the edge set, edges
    * only ever re-point toward smaller node ids, and the fixpoint is a
    * star forest: every non-minimal node points at its component's min
    * id.
    *
    *   - large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u),
    *     v > u — strictly-larger neighbors re-point at the local min.
    *   - small-star(u) on (u > v)-oriented edges: m = min(N(u)); emit
    *     (v, m) for v ∈ N(u) \ {m}, plus (u, m).
    *
    * [[graft.Fixpoint]] runs the rounds and detects convergence by an
    * order-insensitive checksum (count + bit_xor of per-edge hashes)
    * observed in each round's pin — no driver-side edge
    * materialization at any point. Up to `localMaxEdges` distinct edges
    * (see [[ccLocalMaxEdges]]; 0 forces the distributed rounds) one
    * task computes the same star forest by union-find
    * ([[starForestLocal]]). Output schema equals [[clusters]]:
    * (doc_id, cluster_id = component min). */
  def clustersBigStar(pairs: DataFrame,
      localMaxEdges: Long = ccLocalMaxEdges): DataFrame = {
    val oriented = pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
    def largeStar(e: DataFrame): DataFrame = {
      val und = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      und.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u").filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    val star = Fixpoint("big-star CC",
        Fixpoint.start(oriented, Fixpoint.checksum(col("u"), col("v"))),
        ccMaxRounds,
        local = Some(Fixpoint.Local(localMaxEdges, starForestLocal)))(
      e => smallStar(largeStar(e)))
    // in a star forest the component mins are exactly the edge targets
    // (a min never points anywhere), and every node of the input sits
    // in a component of at least two nodes
    val roots = star.select(col("v")).distinct()
    star.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(roots.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .orderBy(col("doc_id"))
  }

  /** Single-task union-find over a (u, v) edge frame that fits one
    * partition — the [[clustersBigStar]] fast path. Union-by-min with
    * path compression: the smaller root always absorbs the larger, so
    * each set's root IS its minimum id, and the emitted (node, root)
    * edges for every non-root node are exactly the distributed star
    * forest, independent of edge order (ClusterProps proves both paths
    * identical on random graphs). The single task streams the edge
    * iterator; nothing is materialized on the driver. */
  private def starForestLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val out = edges.select(col("u"), col("v")).coalesce(1).rdd
      .mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) {
            val n = parent(c); parent(c) = r; c = n
          }
          r
        }
        // node set as a second LongMap (unboxed keys), not a TreeSet:
        // boxed Long + red-black overhead at the 4M-edge ceiling is
        // several hundred MB where this stays within the task budget;
        // ordering is the caller's orderBy, not this iterator's
        val nodes = scala.collection.mutable.LongMap.empty[Unit]
        it.foreach { row =>
          val (u, v) = (row.getLong(0), row.getLong(1))
          nodes(u) = (); nodes(v) = ()
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            if (ru < rv) parent(rv) = ru else parent(ru) = rv
          }
        }
        nodes.keysIterator.map(n => (n, find(n))).filter(p => p._1 != p._2)
          .map(p => org.apache.spark.sql.Row(p._1, p._2))
      }
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("u",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** Span width (tokens) for [[spanDedup]] — shared with the oracle. */
  val spanTokens = 8

  /** Span-level (paragraph-grade) exact dedup — the Dolma/RefinedWeb
    * within-corpus repetition remover: documents are cut into fixed
    * `w`-token spans (the whitespace-free analog of paragraph splits;
    * this corpus has no newlines), each span is fingerprinted, and a
    * span is a duplicate iff the same fingerprint appeared EARLIER in
    * the corpus — earlier doc, or earlier offset of the same doc (so
    * within-document repetition dedups too). Output per document: span
    * counts and the cleaned text reassembled from surviving spans in
    * original order.
    *
    * Scale (100 TB): the explode is map-side (O(tokens) rows, each a
    * 16-byte hash + two ids after the md5 — the text never shuffles);
    * first-occurrence is ONE hash aggregation on the fingerprint
    * (min(struct(doc, idx)) — no window, no sort); reassembly is one
    * hash aggregation back on doc_id with a bounded per-doc sort of its
    * own spans. Two shuffles total, both on high-cardinality keys. */
  /** Fixed-width span rows with fingerprints: (doc_id, span_idx,
    * span_text, hh) — shared by [[spanDedup]] and the streaming ingest
    * twin ([[graft.streaming.StreamingPipeline.ingestSpanBatch]]). */
  private[graft] def spanRows(documents: DataFrame,
      w: Int = spanTokens): DataFrame =
    documents
      .withColumn("toks", Portable.tokens(col("text")))
      // guard the empty/null-token case: sequence(0, -1) is the
      // DESCENDING array [0, -1] in Spark (two phantom spans), while the
      // oracle's range((len+w-1)//w) is empty for len 0 — the filter
      // keeps only indices whose span actually starts inside the doc,
      // which is the empty set exactly when the token array is
      .select(col("doc_id"), posexplode(expr(
        s"transform(filter(sequence(0, greatest((size(toks) + $w - 1) div $w - 1, 0)), " +
          s"i -> i * $w < size(toks)), " +
          s"i -> concat_ws(' ', slice(toks, i * $w + 1, $w)))"))
        .as(Seq("span_idx", "span_text")))
      .withColumn("hh", md5(col("span_text")))

  /** Mark each span row with whether it is its fingerprint's
    * lexicographically-first (doc_id, span_idx) occurrence — the ONE
    * definition of the first-occurrence rule, shared by [[spanDedup]]
    * and the streaming ingest twin so the batch/stream semantics can
    * never drift. One min(struct) hash aggregation; no window. */
  private[graft] def withSpanFirstFlag(spans: DataFrame): DataFrame = {
    val firsts = spans.groupBy(col("hh"))
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"))
    spans.join(firsts, Seq("hh"))
      .withColumn("is_first",
        struct(col("doc_id"), col("span_idx")) === col("first"))
      .drop("first")
  }

  /** Ordered span reassembly: `rowExpr` selects (span_idx, span_text)
    * structs (or NULL to drop a span); surviving spans concatenate in
    * span order. Shared with the streaming ingest twin. */
  private[graft] def orderedSpanConcat(rowExpr: String)
      : org.apache.spark.sql.Column =
    array_join(expr(
      s"transform(array_sort(collect_list($rowExpr)), s -> s.span_text)"),
      " ")

  def spanDedup(documents: DataFrame, w: Int = spanTokens): DataFrame =
    withSpanFirstFlag(spanRows(documents, w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(!col("is_first"), 1L).otherwise(0L)).as("n_dup_spans"),
        orderedSpanConcat(
          "CASE WHEN is_first THEN struct(span_idx, span_text) END")
          .as("clean_text"))
      .orderBy(col("doc_id"))

  /** Window width (tokens) for [[substringDedup]] — shared with the
    * oracle. */
  val subW = 8

  /** Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): unlike [[spanDedup]]'s
    * ALIGNED spans, every `w`-token window at EVERY offset is a
    * candidate — a passage repeated at a different offset in another
    * document is still caught (the suffix-array semantics at window
    * granularity). A window that appeared earlier in the corpus
    * ((doc_id, offset) lexicographic) marks all `w` of its token
    * positions covered; covered tokens are removed and the document
    * reassembles from the survivors in order. Docs shorter than `w`
    * have no windows and pass through untouched.
    *
    * Scale (100 TB): windows are a map-side explode (O(tokens) rows,
    * fingerprinted BEFORE the first shuffle so window text never
    * shuffles); first-occurrence is one hash aggregation on the
    * fingerprint; coverage expansion is a map-side explode of w
    * offsets; the survivor filter is a left_anti equi-join on
    * (doc, pos); reassembly is one hash aggregation on doc_id. Every
    * shuffle key is high-cardinality. */
  def substringDedup(documents: DataFrame, w: Int = subW): DataFrame = {
    val toked = documents
      .withColumn("toks", Portable.tokens(col("text")))
      .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
    val wins = toked.filter(col("n") >= w)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, n - $w), " +
          s"i -> md5(concat_ws(' ', slice(toks, i + 1, $w))))"))
        .as(Seq("i", "hh")))
    val firsts = wins.groupBy(col("hh"))
      .agg(min(struct(col("doc_id"), col("i"))).as("first"))
    val covered = wins.join(firsts, Seq("hh"))
      .filter(struct(col("doc_id"), col("i")) =!= col("first"))
      .select(col("doc_id"), explode(expr(s"sequence(i, i + $w - 1)")).as("pos"))
      .distinct()
    val tokens = toked
      .select(col("doc_id"), col("n"), posexplode(col("toks")).as(Seq("pos", "tok")))
    val kept = tokens.join(covered, Seq("doc_id", "pos"), "left_anti")
    toked.select(col("doc_id"), col("n").cast("long").as("n_tokens"))
      .join(kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(expr(
            "transform(array_sort(collect_list(struct(pos, tok))), s -> s.tok)"),
            " ").as("clean_text")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** 64-bit SimHash over distinct tokens: (doc_id, sim_lo, sim_hi).
    * Stored as two 32-bit halves (sim_lo = bits 0..31 from md5 hex chars
    * 1-8 of each token, sim_hi = bits 32..63 from chars 9-16) so no
    * assembled value ever touches a BIGINT sign bit on either engine.
    * Bit j is set iff Σ_tokens (2·bit_j(hash(token)) − 1) > 0.
    *
    * 64 bits (vs the earlier 32) is the scale fix: 16-bit bands give
    * 65,536 buckets per band, so in-bucket occupancy — and the quadratic
    * in-bucket pairing cost of [[simhashPairs]] — stays flat as the
    * corpus grows 100×. */
  def simhash(documents: DataFrame): DataFrame = {
    val tokenHashes = documents
      .select(col("doc_id"), explode(Portable.tokens(col("text"))).as("token"))
      .distinct()
      .select(col("doc_id"),
        Portable.hash32(col("token")).as("h1"),
        Portable.hash32Hi(col("token")).as("h2"))
    def bitSums(h: String, p: String) = (0 until 32).map(j =>
      sum(shiftright(col(h), j) % 2 * 2 - 1).as(s"${p}_$j"))
    def assemble(p: String) = (0 until 32).map(j =>
        when(col(s"${p}_$j") > 0, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    val aggs = bitSums("h1", "lo") ++ bitSums("h2", "hi")
    tokenHashes.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        assemble("lo").as("sim_lo"), assemble("hi").as("sim_hi"))
  }

  /** SimHash near-dup pairs at hamming distance ≤ maxHamming, found via
    * 16-bit banding of the 64-bit signature (hamming ≤ 3 over 4 disjoint
    * bands ⇒ some band equal — the pigeonhole trick that replaces the
    * O(n²) self-join at scale). 65,536 buckets per band keeps in-bucket
    * pair generation linear in corpus size. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    // 4-band pigeonhole is complete only up to hamming 3; a larger
    // radius would silently lose pairs.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs: 4-band pigeonhole guarantees recall only for maxHamming <= 3, got $maxHamming")
    val sigs = simhash(documents)
    // bands 0,1 = low/high 16 bits of sim_lo; bands 2,3 = of sim_hi
    val slices = Seq(
      col("sim_lo") % 65536, shiftright(col("sim_lo"), 16),
      col("sim_hi") % 65536, shiftright(col("sim_hi"), 16))
    val banded = sigs.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(array(slices.zipWithIndex.map { case (k, b) =>
        struct(lit(b).as("band"), k.as("key")) }: _*)).as("bb"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("bb.band").as("band"), col("bb.key").as("key"))
    banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.key") === col("b.key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(expr("a.sim_lo ^ b.sim_lo")) +
          bit_count(expr("a.sim_hi ^ b.sim_hi"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // before distinct: shrink first
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** b-bit MinHash fidelity panel (Li–König 2010, b = 1): every LSH
    * candidate pair scored by the 1-bit signature — each of the 16
    * minhash values keeps only its LOW BIT, agreement A over the 16
    * bits estimates Jaccard as max(2A/16 − 1, 0) — beside the exact
    * shingle Jaccard and the absolute error. 1-bit signatures are 32×
    * smaller at rest than the 32-bit minhashes (the storage argument
    * for b-bit at 100 TB: the whole corpus's signatures fit in memory
    * tiers the full sketch never could); this panel is the measured
    * answer to "what accuracy does that compression cost on OUR
    * corpus".
    *
    * Determinism: bit agreement is integer parity compares; the
    * estimator and error are exact small-integer ratios rounded once.
    * Scale: candidate-bounded (the LSH band join), two broadcast-sized
    * signature joins — no new pair front. */
  def bbitMinhash(documents: DataFrame): DataFrame = {
    val sh = shingles(documents)
    val jac = withJaccard(sh, candidatesOf(sh))
    val sigs = signaturesOf(sh)
    val agree = (0 until coeffs.length).map(i =>
      when(pmod(col(s"a_mh_$i"), lit(2L)) === pmod(col(s"b_mh_$i"), lit(2L)),
        lit(1L)).otherwise(lit(0L))).reduce(_ + _)
    val est = greatest(
      lit(2.0) * (col("agree_bits").cast("double") / coeffs.length) - 1.0,
      lit(0.0))
    jac
      .join(sigs.select(col("doc_id").as("doc_a") +:
        coeffs.indices.map(i => col(s"mh_$i").as(s"a_mh_$i")): _*),
        Seq("doc_a"))
      .join(sigs.select(col("doc_id").as("doc_b") +:
        coeffs.indices.map(i => col(s"mh_$i").as(s"b_mh_$i")): _*),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        agree.as("agree_bits"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("agree_bits"),
        round(est, 6).as("jaccard_bbit"),
        round(abs(est - col("jaccard")), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Content-defined chunking parameters — shared with the oracle
    * generator. An 8-byte rolling window whose salted hash masks to 0
    * mod 64 marks a chunk boundary: expected chunk ≈ 64 bytes, and the
    * boundary depends only on LOCAL content, so an insertion re-chunks
    * one neighborhood instead of shifting every downstream chunk — the
    * property that makes CDC the storage-dedup standard (LBFS/rsync
    * lineage) where fixed-size blocks lose all alignment after one
    * edit. This is the unconstrained-gear variant (no min/max chunk
    * clamp) — boundary-set semantics both engines can state exactly. */
  val CdcWindow = 8
  val CdcDivisor = 64L
  val CdcSalt = "graft-cdc:"

  /** Content-defined-chunking census per source: chunk count, mean
    * chunk size, and the chunk-grain dedup rate (share of chunk
    * occurrences whose content hash already appeared) — the
    * storage-planning view of duplication (the [[exact]]/
    * [[docChunkDedup]] siblings count whole docs and fixed
    * paragraph-ish chunks; CDC finds shared SUBSTRINGS at shifted
    * offsets those grains miss).
    *
    * Scale: the window explode emits one slim (doc_id, pos, 8-byte
    * window) row per byte — O(corpus bytes) map-side, the same grain
    * [[winnowFingerprints]] already sustains; boundary rows are
    * ~1/64 of that; chunk extents shuffle WITHOUT payloads and join
    * back to the doc table once, so the text crosses the wire exactly
    * once; the census is one hash aggregate. Windows are per-doc
    * (partitioned — bounded by doc length). */
  def cdcChunks(documents: DataFrame): DataFrame = {
    val wpos = documents
      .filter(length(col("text")) >= CdcWindow)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, length(text) - ${CdcWindow - 1}), " +
          s"i -> substr(text, i, $CdcWindow))")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0").cast("long") + 1).as("i"), col("w"))
    val bends = wpos
      .filter(pmod(Portable.hash32(concat(lit(CdcSalt), col("w"))),
        lit(CdcDivisor)) === 0)
      .select(col("doc_id"), (col("i") + (CdcWindow - 1)).as("e"))
    val lastEnd = documents.filter(length(col("text")) >= 1)
      .select(col("doc_id"), length(col("text")).cast("long").as("e"))
    val ends = bends.unionByName(lastEnd).distinct()
    val w = Window.partitionBy(col("doc_id")).orderBy(col("e"))
    val ext = ends
      .withColumn("s", coalesce(lag(col("e"), 1).over(w), lit(0L)) + 1)
    val ch = ext
      .join(documents.select(col("doc_id"), col("source"), col("text")),
        Seq("doc_id"))
      .select(col("source"), col("doc_id"),
        (col("e") - col("s") + 1).as("clen"),
        md5(expr("substr(text, CAST(s AS INT), CAST(e - s + 1 AS INT))"))
          .as("chash"))
    ch.groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        countDistinct(col("chash")).as("n_distinct_chunks"),
        sum(col("clen")).as("total_bytes"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("n_distinct_chunks"),
        round(col("total_bytes").cast("double") / col("n_chunks"), 2)
          .as("avg_chunk_len"),
        round((col("n_chunks") - col("n_distinct_chunks")).cast("double") /
          col("n_chunks"), 6).as("dedup_rate"))
      .orderBy(col("source"))
  }
}
