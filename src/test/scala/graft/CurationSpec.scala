package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Curation

/** Semantics tests for the curation operators on hand-checkable
  * fixtures: rule booleans fire for the right reasons, repetition
  * ratios match hand counts, sampling is deterministic and exact. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.toSeq.map { case (id, t) => (id, t, if (id % 2 == 0) "en" else "es",
        "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("quality filter: each rule fires for its own failure mode") {
    val good = "the cat and the hat is a cat of the house and it is warm"
    val short = "too short"                        // < 10 tokens
    val noStop = "cat hat mat bat rat sat fat vat pat chat splat" // no stopwords
    val punct = "$$$ %%% ^^^ &&& *** $$$ %%% ^^^ &&& *** !!! ???" // symbols
    val q = Curation.qualityFilter(docs(
      (1L, good), (2L, short), (3L, noStop), (4L, punct))).collect()
    val byId = q.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).getAs[Boolean]("keep"))
    assert(!byId(2L).getAs[Boolean]("r_token_count") && !byId(2L).getAs[Boolean]("keep"))
    assert(!byId(3L).getAs[Boolean]("r_stopwords") && !byId(3L).getAs[Boolean]("keep"))
    assert(!byId(4L).getAs[Boolean]("r_punct_ratio") && !byId(4L).getAs[Boolean]("keep"))
  }

  test("lengthAdaptive: per-lang bounds; the one extreme doc is dropped") {
    // en docs (even ids): many length-3 docs and one length-30 outlier;
    // with >20 length-3 docs, p5 = p95 = 3 and only the outlier drops
    val base = (0L until 40L by 2L).map(i => (i, "a b c"))
    val d = docs((base :+ (100L, Seq.fill(30)("x").mkString(" "))): _*)
    val out = graft.operators.Curation.lengthAdaptive(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out(100L) === false)
    assert(out(0L) === true && out(38L) === true)
  }

  test("repetition: hand-checked ratios on a boilerplate document") {
    // 6 tokens: "buy now buy now buy now" -> tokens: buy x3, now x3
    // dup_token_ratio = (6-2)/6, top_token_ratio = 3/6
    // bigrams (5): "buy now" x3, "now buy" x2
    // dup_bigram_ratio = (5-2)/5 = 0.6, top_bigram_ratio = 3/5
    val r = Curation.repetition(docs((1L, "buy now buy now buy now"))).collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("n_token") === 6L)
    assert(r(0).getAs[Double]("dup_token_ratio") === math.rint((4.0 / 6) * 1e6) / 1e6)
    assert(r(0).getAs[Double]("top_token_ratio") === 0.5)
    assert(r(0).getAs[Long]("n_bigram") === 5L)
    assert(r(0).getAs[Double]("dup_bigram_ratio") === 0.6)
    assert(r(0).getAs[Double]("top_bigram_ratio") === 0.6)
  }

  test("repetition: single-token doc has null bigram metrics (left join)") {
    val r = Curation.repetition(docs((1L, "lonely"))).collect()
    assert(r.length === 1)
    assert(r(0).isNullAt(r(0).fieldIndex("n_bigram")))
  }

  test("perplexity: hand-computed bigram-LM scores") {
    // corpus bigrams: (a,b) x3 (kept, count >= 2), (b,a) x1 and (b,c) x1
    // (pruned -> unseen). left-context counts: a:3, b:2. vocab {a,b,c,x}
    // = 4. k = 0.5: P(b|a) = 3.5/5 = 0.7, unseen after b = 0.5/4 = 0.125
    val r = graft.operators.TextAnalysis.perplexity(docs(
        (1L, "a b a b"), (2L, "a b c"), (3L, "x")))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r.keySet === Set(1L, 2L))           // "x" has no bigrams
    assert(r(1L).getAs[Long]("n_bigrams") === 3L)
    assert(r(2L).getAs[Long]("n_bigrams") === 2L)
    val exp1 = math.exp(-(2 * math.log(0.7) + math.log(0.125)) / 3)
    val exp2 = math.exp(-(math.log(0.7) + math.log(0.125)) / 2)
    assert(math.abs(r(1L).getAs[Double]("perplexity") - exp1) < 1e-6)
    assert(math.abs(r(2L).getAs[Double]("perplexity") - exp2) < 1e-6)
  }

  test("decontamination: eval-contained train doc flagged, unrelated doc clean") {
    val evalDoc = "the quick brown fox jumps over the lazy dog today"
    val contaminated = "intro words here " + evalDoc + " outro trailer words"
    val clean = "completely different text about sailing ships across wide oceans"
    val r = Curation.decontaminate(docs(
        (1L, evalDoc), (25L, contaminated), (30L, clean)))
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(!r.contains(1L)) // eval docs are not scored
    assert(r(25L).getAs[Boolean]("flagged"))
    assert(r(25L).getAs[Double]("contamination") > 0.5)
    assert(r(30L).getAs[Double]("contamination") === 0.0)
    assert(!r(30L).getAs[Boolean]("flagged"))
  }

  test("curated corpus: keep is exactly the conjunction of its criteria") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Curation.curatedCorpus(d).collect()
    assert(rows.length === d.count())
    rows.foreach { r =>
      val expected = r.getAs[Boolean]("q_keep") &&
        r.getAs[Boolean]("is_exact_rep") &&
        r.getAs[Boolean]("near_dup_rep") &&
        r.getAs[Boolean]("decontaminated")
      assert(r.getAs[Boolean]("keep") === expected, r.toString)
    }
    // the pipeline must actually filter something and keep something
    val kept = rows.count(_.getAs[Boolean]("keep"))
    assert(kept > 0 && kept < rows.length)
  }

  test("pii scan: injected contacts detected and fully redacted") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Curation.piiScan(d).collect()
    rows.foreach { r =>
      val injected = r.getAs[Long]("doc_id") % 3 == 0
      assert(r.getAs[Boolean]("has_pii") === injected, r.toString)
      if (injected) {
        assert(r.getAs[Long]("n_emails") === 1L, r.toString)
        assert(r.getAs[Long]("n_phones") === 1L, r.toString)
        assert(r.getAs[Long]("n_ips") === 1L, r.toString)
        val red = r.getAs[String]("redacted")
        assert(red.contains("<EMAIL>") && red.contains("<PHONE>") &&
          red.contains("<IP>"), red)
        // nothing digit-bearing survives redaction
        assert(!red.exists(_.isDigit), red)
      }
    }
  }

  test("mixture sampling: weights drive copy counts; deterministic") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val rows = Curation.sampleMixture(d).collect()
    // src0 at 150%: every doc appears at least once, some twice
    val src0 = rows.filter(_.getAs[String]("source") == "src0")
    val src0Docs = src0.map(_.getAs[Long]("doc_id")).distinct
    // at 150% no src0 doc is dropped: every one survives with >= 1 copy
    assert(src0Docs.length === d.filter(col("source") === "src0").count())
    assert(src0.exists(_.getAs[Long]("n_copies") == 2L))
    assert(src0.forall(r => r.getAs[Long]("n_copies") >= 1L))
    // a 10% source keeps only a strict subset
    val src4Kept = rows.count(_.getAs[String]("source") == "src4")
    val src4Total = d.filter(col("source") === "src4").count()
    assert(src4Kept < src4Total)
    // copy_id enumerates 1..n_copies
    rows.groupBy(r => r.getAs[Long]("doc_id")).foreach { case (_, rs) =>
      val n = rs.head.getAs[Long]("n_copies")
      assert(rs.map(_.getAs[Long]("copy_id")).sorted.toSeq === (1L to n).toSeq)
    }
    // partition-layout invariant
    val re = Curation.sampleMixture(d.repartition(7))
      .orderBy("doc_id", "copy_id").collect()
    assert(re.toSeq === Curation.sampleMixture(d)
      .orderBy("doc_id", "copy_id").collect().toSeq)
  }

  test("signal ensemble: keep implies every gate, both branches populated, " +
      "roughly half fail the median fluency gate") {
    val dir = "/root/testdata/sf0.001"
    val out = Curation.signalEnsemble(
      graft.sources.Tables.documents(spark, dir),
      graft.sources.Tables.embeddings(spark, dir)).collect()
    assert(out.length === 500)
    val kept = out.filter(_.getBoolean(5))
    assert(kept.nonEmpty && kept.length < out.length, "both branches populated")
    kept.foreach { r =>
      assert(r.getBoolean(1), s"kept doc ${r.getLong(0)} must pass quality")
      assert(!r.isNullAt(2), "kept doc must have a perplexity score")
      assert(!r.isNullAt(4), "kept doc must have an embedding signal")
    }
    // the median gate admits about half the scored docs, so keeps are
    // well under the quality-only count
    assert(kept.length < out.count(_.getBoolean(1)),
      "ensemble is stricter than the quality gate alone")
  }

  test("corpus checksum: invariant under row order and partitioning; " +
      "flips on any edit; id-coupled xor catches swaps") {
    val d = docs(1L -> "aa bb cc", 2L -> "dd ee ff", 3L -> "gg hh")
    val base = Curation.corpusChecksum(d).head()
    val shuffled = Curation.corpusChecksum(
      d.orderBy(org.apache.spark.sql.functions.rand(7)).repartition(5)).head()
    assert(base === shuffled, "layout/order must not change the manifest")
    val edited = Curation.corpusChecksum(
      docs(1L -> "aa bb cx", 2L -> "dd ee ff", 3L -> "gg hh")).head()
    assert(edited.getLong(2) !== base.getLong(2), "content xor flips on edit")
    // swap content between ids: plain xor blind, id-coupled xor catches it
    val swapped = Curation.corpusChecksum(
      docs(2L -> "aa bb cc", 1L -> "dd ee ff", 3L -> "gg hh")).head()
    assert(swapped.getLong(2) === base.getLong(2))
    assert(swapped.getLong(3) !== base.getLong(3))
  }

  test("bloom decontamination: plan carries the native bloom filter and " +
      "rows equal the exact form") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val bloom = Curation.decontaminateBloom(d)
    val plan = bloom.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("might_contain"),
      s"expected the BloomFilterMightContain probe in the plan:\n$plan")
    // no false negatives: the bloom-prefiltered result is row-for-row
    // the exact operator's result
    val exact = Curation.decontaminate(d).collect().map(_.toString)
    assert(bloom.collect().map(_.toString).toSeq === exact.toSeq)
    assert(exact.nonEmpty)
  }

  test("bloom splice: pinned to the Spark line whose internal ctor " +
      "arities it was verified against") {
    // decontaminateBloom splices private Catalyst internals
    // (BloomFilterAggregate / BloomFilterMightContain / ScalarSubquery)
    // whose constructor signatures have shifted across Spark minor
    // releases. The splice is value-verified against the exact plain-SQL
    // oracle, so breakage is loud — this pin makes the dependency
    // explicit at upgrade time instead of deep in a stack trace.
    assert(org.apache.spark.SPARK_VERSION.startsWith("4."),
      "decontaminateBloom's Catalyst splice was verified on Spark 4.x; " +
        "re-check BloomFilterAggregate/BloomFilterMightContain/" +
        "ScalarSubquery constructor arities before moving off that line")
  }

  test("pii scan runs unchanged on a stream (batch/stream shared op)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq((3L, "reach me at a@b.io"), (4L, "clean text"))
    val stream = MemoryStream[(Long, String)]
    val streamDocs = stream.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    val q = Curation.piiScan(streamDocs).writeStream
      .format("memory").queryName("pii_sink").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      assert(spark.table("pii_sink").orderBy("doc_id").collect().toSeq ===
        Curation.piiScan(docs(rows: _*)).orderBy("doc_id").collect().toSeq)
    } finally q.stop()
  }

  test("quality filter runs unchanged on a stream (batch/stream shared op)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = Seq(
      (1L, "the cat and the hat is a cat of the house and it is warm"),
      (2L, "too short"),
      (3L, "$$$ %%% ^^^ &&& *** $$$ %%% ^^^ &&& *** !!! ???"))
    val stream = MemoryStream[(Long, String)]
    val streamDocs = stream.toDF()
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        lit("en").as("lang"), lit("src0").as("source"),
        length(col("_2")).cast("long").as("n_chars"))
    // stateless map-side op: the SAME transform accepts a streaming DF
    val q = Curation.qualityFilter(streamDocs).writeStream
      .format("memory").queryName("quality_sink").outputMode("append").start()
    try {
      stream.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("quality_sink").orderBy("doc_id").collect()
      val batch = Curation.qualityFilter(docs(rows: _*)).collect()
      assert(streamed.length === batch.length && batch.length === 3)
      streamed.zip(batch).foreach { case (s, b) => assert(s === b) }
    } finally q.stop()
  }

  test("sampling: deterministic, partition-invariant, bounded") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Curation.sampleBernoulli(d).collect()
    val b = Curation.sampleBernoulli(d.repartition(7)).orderBy("doc_id").collect()
    assert(a.toSeq === b.toSeq) // same docs regardless of layout
    assert(a.forall(_.getAs[Long]("sample_bucket") < 20L))
    // ~20% +- wide slack (hash uniformity, small n)
    val frac = a.length.toDouble / d.count()
    assert(frac > 0.08 && frac < 0.35, s"fraction $frac")
  }

  test("budgetSelect: two-level score-band scan equals the naive global " +
      "window; greedy boundary is exact") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val budget = 2000L
    val out = Curation.budgetSelect(d, budget = budget).collect()
    // naive reference: one global window in (score desc, doc_id) order
    val sorted = out.sortBy(r =>
      (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
    var cum = 0L
    sorted.foreach { r =>
      cum += r.getAs[Long]("n_subwords")
      assert(r.getAs[Long]("cum_subwords") === cum,
        s"doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Boolean]("selected") === (cum <= budget))
    }
    // the boundary is non-degenerate: something selected, something not
    assert(out.exists(_.getAs[Boolean]("selected")))
    assert(out.exists(!_.getAs[Boolean]("selected")))
    // partition-layout invariance
    val b = Curation.budgetSelect(d.repartition(7), budget = budget)
      .collect()
    assert(out.toSeq === b.toSeq)
  }

  test("curriculumOrder: two-level band rank equals the naive global " +
      "rank; stages are equal deciles") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.curriculumOrder(d).collect()
    val n = out.length
    // naive reference rank in (score desc, doc_id) order
    val naive = out.sortBy(r =>
      (-r.getAs[Double]("score"), r.getAs[Long]("doc_id")))
      .zipWithIndex.map { case (r, i) => r.getAs[Long]("doc_id") -> (i + 1L) }
      .toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("rank") === naive(id), s"doc $id")
      assert(r.getAs[Long]("stage") ===
        (naive(id) - 1) * Curation.curriculumStages / n)
    }
    // every stage is hit and sizes differ by at most one
    val sizes = out.groupBy(_.getAs[Long]("stage")).view.mapValues(_.length)
    assert(sizes.keys.toSeq.sorted ===
      (0L until Curation.curriculumStages).toSeq)
    assert(sizes.values.max - sizes.values.min <= 1)
    // partition-layout invariance
    val b = Curation.curriculumOrder(d.repartition(7)).collect()
    assert(out.toSeq === b.toSeq)
  }

  test("sampleWeighted: acceptance rate tracks the mean score; " +
      "deterministic under repartitioning") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.sampleWeighted(d).collect()
    val meanScore = out.map(_.getAs[Double]("score")).sum / out.length
    val rate = out.count(_.getAs[Boolean]("accepted")).toDouble / out.length
    // E[rate] = mean score; +-0.2 slack at n=50 (hash uniformity)
    assert(math.abs(rate - meanScore) < 0.2, s"rate $rate mean $meanScore")
    val b = Curation.sampleWeighted(d.repartition(7)).collect()
    assert(out.toSeq === b.toSeq)
  }

  test("lexicalDiversity: hand-counted types, hapax and ratios") {
    // "a b a c": 4 tokens, 3 types (a,b,c), 2 hapax (b,c)
    val out = graft.operators.TextAnalysis.lexicalDiversity(
      docs((1L, "a b a c"))).collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("n_tokens") === 4L)
    assert(out(0).getAs[Long]("n_types") === 3L)
    assert(out(0).getAs[Long]("n_hapax") === 2L)
    assert(out(0).getAs[Double]("ttr") === 0.75)
    assert(out(0).getAs[Double]("hapax_ratio") === 0.5)
  }

  test("novelty: unique shingles score 1, cloned docs score 0, shared " +
      "prefix scores the hand count") {
    val clone = "aa bb cc dd ee"            // docs 1,2: every shingle df=2
    val fresh = "pp qq rr ss tt"            // doc 3: every shingle df=1
    val mixed = "aa bb cc xx yy zz"         // doc 4: 'aa bb cc' is df=2
    val out = graft.operators.TextAnalysis.novelty(
      docs((1L, clone), (2L, clone), (3L, fresh), (4L, mixed)))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
          r.getAs[Double]("novelty"))).toMap
    assert(out(1L) === ((3L, 0L, 0.0)) && out(2L) === ((3L, 0L, 0.0)))
    assert(out(3L) === ((3L, 3L, 1.0)))
    // mixed: shingles {aa bb cc, bb cc xx, cc xx yy, xx yy zz};
    // only 'aa bb cc' also occurs in the clones -> 3/4 unique
    assert(out(4L) === ((4L, 3L, 0.75)))
  }

  test("splitLeakFree: near-dup clusters land wholly in one split; " +
      "singletons keep the per-doc assignment") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.splitLeakFree(d).collect()
    // every cluster is split-atomic: one split per group_id
    val perGroup = out.groupBy(_.getAs[Long]("group_id"))
      .view.mapValues(_.map(_.getAs[String]("split")).distinct)
    perGroup.foreach { case (g, splits) =>
      assert(splits.length === 1, s"group $g straddles $splits")
    }
    // the clustered mass is non-trivial on this corpus (else the test
    // is vacuous) and singletons agree with the plain per-doc split
    val clustered = out.filter(r =>
      r.getAs[Long]("group_id") != r.getAs[Long]("doc_id"))
    assert(clustered.nonEmpty)
    val plain = graft.operators.Packing.splitAssign(d).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    out.filter(r => r.getAs[Long]("group_id") == r.getAs[Long]("doc_id"))
      .foreach { r =>
        val id = r.getAs[Long]("doc_id")
        // a singleton that is its own group hashes identically iff it
        // is also the cluster MIN of itself — always true here
        assert(r.getAs[String]("split") === plain(id), s"doc $id")
      }
  }

  test("stratified sampling: exactly k per stratum, deterministic order") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val s = Curation.sampleStratified(d, k = 5)
    val counts = s.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val langSizes = d.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    langSizes.foreach { case (lang, n) =>
      assert(counts(lang) === math.min(n, 5L), s"lang $lang")
    }
    assert(s.collect().toSeq === Curation.sampleStratified(d.repartition(5), k = 5)
      .collect().toSeq)
  }

  test("ccnetBuckets: per-language terciles split roughly in thirds, " +
      "and every bucketed doc's perplexity respects its bucket's " +
      "threshold side") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.TextAnalysis.ccnetBuckets(d).collect()
      .map(r => (r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).filter(_._2.length >= 9).foreach {
      case (lang, rows) =>
        val byBucket = rows.groupBy(_._3).view.mapValues(_.length).toMap
        assert(byBucket.keySet === Set("head", "middle", "tail"),
          s"$lang: $byBucket")
        // each tercile holds between 1/6 and 1/2 of the language
        byBucket.values.foreach { n =>
          assert(n >= rows.length / 6 && n <= rows.length / 2 + 1,
            s"$lang: $byBucket")
        }
        // ordering: every head ppl ≤ every tail ppl
        val headMax = rows.filter(_._3 == "head").map(_._2).max
        val tailMin = rows.filter(_._3 == "tail").map(_._2).min
        assert(headMax <= tailMin, s"$lang: head/tail overlap")
    }
  }

  test("dedupRates: near-dup copies count against their segment, " +
      "singletons and representatives are kept") {
    // 1 and 3 are near-identical (share almost all shingles) but land
    // in DIFFERENT langs (odd/even ids); 2 is unrelated
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the long day finally ends in the quiet field"
    val d = docs(
      (2L, base), (3L, base + " extra"),
      (4L, "completely different content about ships and harbors and " +
        "storms at sea with nothing shared at all here"))
    val out = Curation.dedupRates(d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // totals conserve and kept = docs − non-representative members
    val clustered = graft.operators.Dedup.clustersBigStar(
      graft.operators.Dedup.minhashPairs(d)).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val nonReps = clustered.count { case (id, cl) => id != cl }
    assert(out.values.map(_._1).sum === 3L)
    assert(out.values.map(_._3).sum === 3L - nonReps)
    // the es segment holds ONLY the non-representative copy → its
    // entire content is duplicate (share exactly 1.0, kept 0)
    assert(out(("es", "src0")) === ((1L, 1L, 0L, 1.0)))
    out.values.foreach { case (n, _, kept, share) =>
      assert(kept <= n && share >= 0.0 && share <= 1.0)
    }
  }

  test("dsirScores: target-looking documents outrank raw-looking ones, " +
      "and a hand-computed score matches") {
    // target (en) docs repeat the word 'alpha'; the raw-only (es) docs
    // use 'omega' — alpha buckets get positive log-ratio, omega negative
    val d = docs(
      (2L, "alpha alpha alpha alpha"), (4L, "alpha alpha alpha alpha"),
      (1L, "omega omega omega omega"), (3L, "omega omega omega omega"),
      (6L, "alpha omega alpha omega"))
    val out = Curation.dsirScores(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(2L)._1 === 4L)
    // hand computation: B buckets, target = en docs (ids 2, 4, 6)
    val b = Curation.dsirBuckets
    val nAlpha = 10.0; val nOmega = 10.0 // raw counts
    val tAlpha = 10.0; val tOmega = 2.0  // target (en) counts
    val (rtot, ttot) = (20.0, 12.0)
    def lw(tc: Double, rc: Double) =
      math.log((tc + 1) / (ttot + b)) - math.log((rc + 1) / (rtot + b))
    val expAlpha = math.rint(lw(tAlpha, nAlpha) * 1e6) / 1e6
    assert(math.abs(out(2L)._2 - expAlpha) < 2e-6,
      s"got ${out(2L)._2}, want $expAlpha")
    // ordering: pure-alpha docs above mixed above pure-omega
    assert(out(2L)._2 > out(6L)._2 && out(6L)._2 > out(1L)._2)
    // same content → same score (content-hashed, id-independent)
    assert(out(2L)._2 === out(4L)._2 && out(1L)._2 === out(3L)._2)
  }

  test("vocabGrowth: monotone non-decreasing, final step equals the " +
      "full vocabulary, prefix counts match direct recomputation") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.TextAnalysis.vocabGrowth(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq === (1L to 10L).toSeq)
    out.map(_._3).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b); case _ => ()
    }
    val fullVocab = d.select(explode(
        graft.functions.Portable.tokens(col("text"))).as("t"))
      .distinct().count()
    assert(out.last._3 === fullVocab)
    // cross-check one middle checkpoint directly
    val (_, cutoff, v5) = out(4)
    val direct = d.filter(col("doc_id") <= cutoff)
      .select(explode(graft.functions.Portable.tokens(col("text"))).as("t"))
      .distinct().count()
    assert(v5 === direct)
  }

  test("jsDivergence: single-source corpus scores 0, real corpus " +
      "bounded by ln 2, and one source matches a direct recomputation") {
    val one = docs((1L, "a b c"), (2L, "a b d"))
    val z = graft.operators.TextAnalysis.jsDivergence(one).collect()
    assert(z.length === 1 && z.head.getDouble(3) === 0.0)

    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.TextAnalysis.jsDivergence(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    val nSources = d.select("source").distinct().count()
    assert(out.length === nSources)
    out.foreach { case (_, _, _, jsd) =>
      assert(jsd >= 0.0 && jsd <= math.log(2.0) + 1e-9)
    }
    // direct recomputation for the lexicographically first source,
    // on the identical rounding grid
    val toksOf = d.select(col("source"),
        explode(graft.functions.Portable.tokens(col("text"))).as("t"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val corpus = toksOf.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val totC = toksOf.length.toDouble
    val src = out.map(_._1).min
    val mine = toksOf.filter(_._1 == src).groupBy(_._2).view
      .mapValues(_.length.toLong).toMap
    val totS = mine.values.sum.toDouble
    val sum12 = corpus.toSeq.map { case (t, nT) =>
      val p = mine.getOrElse(t, 0L) / totS
      val q = nT / totC
      val m = (p + q) / 2
      val term = ((if (p > 0) p * math.log(p / m) else 0.0) +
        q * math.log(q / m)) * 0.5
      BigDecimal(term).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    val expect = BigDecimal(sum12.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.find(_._1 == src).get._4 === expect)
  }

  test("bootstrapCi: one row per replicate, effective sizes hover " +
      "around the corpus size, replicate means bracket the true mean " +
      "and match a direct hash recomputation") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.Curation.bootstrapCi(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._1).toSeq ===
      (0L until graft.operators.Curation.BootstrapReps.toLong).toSeq)
    val n = d.count()
    out.foreach { case (_, ne, _) =>
      assert(ne > n / 2 && ne < n * 2, s"Poisson(1) mass sanity: $ne")
    }
    // replicate means scatter around the truth
    val lens = d.select(col("doc_id"),
        size(graft.functions.Portable.tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val trueMean = lens.map(_._2).sum.toDouble / lens.length
    val means = out.map(_._3)
    assert(means.min < trueMean && trueMean < means.max)
    // exact recomputation of replicate 0
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(rep: Long, id: Long): Double = {
      val h = md.digest(
        s"${graft.operators.Curation.bootSalt}$rep:$id".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16).toDouble / 4294967296.0
    }
    val cum = graft.operators.Curation.poissonCum
    def wOf(uu: Double): Long = {
      val i = cum.indexWhere(uu < _)
      if (i < 0) cum.length.toLong else i.toLong
    }
    val ws = lens.map { case (id, l) => (wOf(u(0L, id)), l) }
    val neff = ws.map(_._1).sum
    val expect = BigDecimal(
        ws.map { case (w, l) => w * l }.sum.toDouble / neff)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out.head._2 === neff)
    assert(out.head._3 === expect)
  }

  test("neymanAllocation: a zero-variance stratum allocates 0, " +
      "shares normalize, and a varied stratum matches the direct " +
      "N_h*S_h computation") {
    // srcFlat: every doc 4 tokens (sd 0); srcVar: lengths 2 and 10
    val rows =
      (0L until 10L).map(i => (i, "a b c d", "en", "srcFlat", 7L)) ++
      (10L until 15L).map(i => (i, "a b", "en", "srcVar", 3L)) ++
      (15L until 20L).map(i =>
        (i, "a b c d e f g h i j", "en", "srcVar", 19L))
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Curation.neymanAllocation(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val (nF, sdF, propF, neyF, allocF) = out("srcFlat")
    assert(nF === 10L && sdF === 0.0 && neyF === 0.0 && allocF === 0.0)
    assert(propF === 0.5)
    val (nV, sdV, _, neyV, allocV) = out("srcVar")
    assert(nV === 10L)
    // lengths 2(x5), 10(x5): mean 6, var = 16, sd = 4
    assert(sdV === 4.0)
    assert(neyV === 1.0)
    assert(allocV ===
      graft.operators.Curation.NeymanSampleSize.toDouble)
    // real corpus: both share columns normalize
    val real = graft.operators.Curation.neymanAllocation(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(math.abs(real.map(_.getDouble(3)).sum - 1.0) < 1e-4)
    assert(math.abs(real.map(_.getDouble(4)).sum - 1.0) < 1e-4)
  }

  test("tokenEpochs: weights normalize to ~1, allocations sum to the " +
      "budget, and a tiny source's epoch count flags the repeat cap") {
    // srcSmall: 5 tokens vs srcBig: 500 -> tempered weight of the
    // small source is sqrt-inflated, its allocation implies massive
    // epochs -> over_cap
    val rows = (0L until 50L).map(i => (i,
        ("w " * 10).trim, "en", "srcBig", 20L)) :+
      (99L, "a b c d e", "en", "srcSmall", 9L)
    val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.Curation.tokenEpochs(d).collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getDouble(4),
        r.getDouble(6), r.getBoolean(7))).toMap
    assert(out.keySet === Set("srcBig", "srcSmall"))
    assert(math.abs(out.values.map(_._2).sum - 1.0) < 1e-5)
    val budget = graft.operators.Curation.EpochTokenBudget.toDouble
    out.foreach { case (_, (nt, w, ep, cap)) =>
      // w is the 6-decimal-rounded weight; its half-ulp scales by
      // budget/nt in the epoch recomputation
      assert(math.abs(ep - w * budget / nt) <= 0.5e-6 * budget / nt + 1e-9)
      assert(cap === ep > graft.operators.Curation.EpochRepeatCap)
    }
    assert(out("srcSmall")._4, "tiny source must flag the repeat cap")
    // real corpus: shares sum to 1, every row self-consistent
    val real = graft.operators.Curation.tokenEpochs(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect()
    assert(math.abs(real.map(_.getDouble(3)).sum - 1.0) < 1e-4)
  }

  test("entropyRate: a fully deterministic chain has conditional " +
      "entropy 0 and the unigram entropy matches the closed form") {
    val d = docs((1L, "a b a b a"))
    val out = graft.operators.TextAnalysis.entropyRate(d).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(0) === 5L && r.getLong(1) === 2L)
    def g12(x: Double) =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val hu = Seq(3.0 / 5, 2.0 / 5)
      .map(p => g12(-p * math.log(p))).sum
    val expectHu = BigDecimal(hu.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(2) === expectHu)
    assert(r.getDouble(3) === 0.0)
    assert(r.getDouble(4) === expectHu) // MI = full unigram entropy
    // real corpus: 0 <= entropy_rate <= unigram_entropy <= ln(vocab)
    val real = graft.operators.TextAnalysis.entropyRate(
      graft.sources.Tables.documents(spark, "/root/testdata/sf0.001"))
      .collect().head
    val (vocab, uh, er) =
      (real.getLong(1), real.getDouble(2), real.getDouble(3))
    assert(er >= 0.0 && er <= uh + 1e-9)
    assert(uh <= math.log(vocab.toDouble) + 1e-9)
  }

  test("liftTable: deciles partition the corpus, capture is monotone " +
      "to 1, the bottom row's lift is exactly 1, and counts match a " +
      "direct score-threshold recomputation") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.Curation.liftTable(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.nonEmpty && out.map(_._1).toSet.subsetOf((0L to 9L).toSet))
    // rows ordered decile DESC; capture monotone non-decreasing down
    out.map(_._5).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b + 1e-9); case _ => ()
    }
    assert(out.last._5 === 1.0)
    assert(out.last._6 === 1.0)
    assert(out.map(_._2).sum === d.count())
    // keep-count partition: per-decile positives sum to the filter's
    // total keepers
    val totKeep = graft.operators.Curation.qualityFilter(d)
      .filter(col("keep")).count()
    assert(out.map(_._3).sum === totKeep)
    out.foreach { case (_, n, pos, rate, _, _) =>
      val expect = BigDecimal(pos.toDouble / n)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(rate === expect)
    }
  }

  test("lengthPsi: identical halves give PSI ~0, a shifted half is " +
      "strictly positive, and totals partition the corpus") {
    // doc_ids 0..9, every doc identical -> one bucket, p == q == 1
    // after smoothing -> PSI exactly 0
    val same = (0L to 9L).map(i => (i, "a b c d e"))
    val flat = graft.operators.Curation.lengthPsi(docs(same: _*))
      .collect()
    assert(flat.map(_.getDouble(6)).distinct.toSeq === Seq(0.0))
    assert(flat.map(r => r.getLong(1) + r.getLong(2)).sum === 10L)

    // second half systematically longer -> positive PSI
    val shifted = (0L to 9L).map(i => (i,
      if (i <= 4L) "a b" else ("x " * 120).trim))
    val out = graft.operators.Curation.lengthPsi(docs(shifted: _*))
      .collect()
    assert(out.map(_.getDouble(6)).distinct.length === 1)
    assert(out.head.getDouble(6) > 0.1)
    // real corpus: one psi_total everywhere, halves partition n_docs
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val real = graft.operators.Curation.lengthPsi(d).collect()
    assert(real.map(_.getDouble(6)).distinct.length === 1)
    assert(real.map(r => r.getLong(1) + r.getLong(2)).sum === d.count())
  }

  test("lengthGini: uniform lengths give 0; a skewed corpus is " +
      "strictly positive and matches the naive formula") {
    val uniform = docs((1L, "a b c"), (2L, "d e f"), (3L, "g h i"))
    val g0 = Curation.lengthGini(uniform).collect().head.getDouble(2)
    assert(g0 === 0.0)
    val skew = docs((1L, "a"), (2L, "b"),
      (3L, Seq.fill(98)("x").mkString(" ")))
    val row = Curation.lengthGini(skew).collect().head
    assert(row.getLong(0) === 3L && row.getLong(1) === 100L)
    // naive: lengths 1,1,98 ranks 1,2,3 → 2·(1+2+294)/(3·100) − 4/3
    val expected = 2.0 * 297 / 300 - 4.0 / 3
    assert(math.abs(row.getDouble(2) -
      math.rint(expected * 1e6) / 1e6) < 1e-9)
  }

  test("sourceKeywords: a source-exclusive token outranks shared " +
      "vocabulary; shared-by-all scores zero") {
    val d = Seq(
      (1L, "shared uniqueA uniqueA", "en", "sA", 1L),
      (2L, "shared uniqueB", "en", "sB", 1L),
      (3L, "shared filler", "en", "sC", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextAnalysis.sourceKeywords(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getDouble(5)))
    val sa = out.filter(_._1 == "sA")
    assert(sa.head._3 === "uniqueA")
    // score = tf(2) · ln(3/1)
    assert(math.abs(sa.head._4 - 2 * math.log(3.0)) < 1e-5)
    // 'shared' appears in every source → idf 0 → score 0
    out.filter(_._3 == "shared").foreach(x => assert(x._4 === 0.0))
  }

  test("pmiCollocations: a bound pair scores ln(N/c) exactly, an " +
      "independent pair scores near zero") {
    // 'aa bb' always adjacent (true collocation); 'xx' and 'yy' appear
    // across docs independently
    val d = docs(
      (1L, "aa bb xx yy"), (2L, "aa bb yy xx"),
      (3L, "aa bb xx yy"), (4L, "aa bb yy xx"))
    val out = graft.operators.TextAnalysis.pmiCollocations(d).collect()
      .map(r => ((r.getString(1), r.getString(2)),
        (r.getLong(3), r.getDouble(4)))).toMap
    val (c, pmi) = out(("aa", "bb"))
    assert(c === 4L)
    // c12=4, c1•(aa)=4, c•2(bb)=4, N=12 → PMI = ln(4·12/16) = ln 3
    assert(math.abs(pmi - math.log(3.0)) < 1e-6)
  }

  test("burstiness: clumped token has VMR above the evenly-spread one, " +
      "and values match a hand computation") {
    // 'even' appears once in each of 4 docs; 'burst' 4 times in one doc
    val d = docs(
      (1L, "even burst burst burst burst"), (2L, "even filler"),
      (3L, "even filler"), (4L, "even filler"))
    val out = graft.operators.TextAnalysis.burstiness(d).collect()
      .map(r => r.getString(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val (tc, df, vmrE) = out("even")
    assert(tc === 4L && df === 4L)
    // even: counts (1,1,1,1) over D=4 → mean 1, E[c²] 1 → vmr 0
    assert(vmrE === 0.0)
    // burst: counts (4,0,0,0) → mean 1, E[c²] = 16/4 = 4 → vmr 3
    val (tcB, dfB, vmrB) = out("burst")
    assert(tcB === 4L && dfB === 1L)
    assert(vmrB === 3.0)
  }

  test("dsirSelect: ranks descend by score with doc_id ties, and the " +
      "selection is exactly the top-N of the full score table") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val n = 25
    val sel = Curation.dsirSelect(d, n).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3)))
    assert(sel.length === n)
    assert(sel.map(_._3).toSeq === (1L to n).toSeq)
    sel.toSeq.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      case _ => ()
    }
    val all = Curation.dsirScores(d).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .sortBy(x => (-x._2, x._1)).take(n).map(_._1)
    assert(sel.map(_._1).toSeq === all.toSeq)
  }

  test("sourceOverlap: hand-checked Jaccard on literal vocabularies, " +
      "upper-triangle pairs only") {
    val d = Seq(
      (1L, "aa bb cc", "en", "s1", 1L),
      (2L, "bb cc dd", "en", "s2", 1L),
      (3L, "xx yy", "en", "s3", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextAnalysis.sourceOverlap(d).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    // s1 ∩ s2 = {bb, cc}: J = 2/(3+3-2) = 0.5; s3 is disjoint → absent
    assert(out.keySet === Set(("s1", "s2")))
    assert(out(("s1", "s2")) === ((3L, 3L, 2L, 0.5)))
  }

  test("langEntropy: monolingual source → 0, uniform two-lang source " +
      "→ ln 2; counts are right") {
    val d = Seq(
      (1L, "x", "en", "mono", 1L), (2L, "x", "en", "mono", 1L),
      (3L, "x", "en", "duo", 1L), (4L, "x", "es", "duo", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = graft.operators.TextAnalysis.langEntropy(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out("mono") === ((1L, 2L, 0.0)))
    val (nl, nd, h) = out("duo")
    assert(nl === 2L && nd === 2L)
    assert(math.abs(h - math.log(2.0)) < 1e-6)
  }

  test("classifierCalibration: buckets partition all docs, keep " +
      "counts agree with a direct join of the two operators") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = graft.operators.Curation.classifierCalibration(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    assert(out.map(_._1).forall(b => b >= 0 && b <= 9))
    assert(out.map(_._2).sum === d.count())
    out.foreach { case (_, n, k, rate) =>
      assert(k <= n)
      assert(math.abs(rate - k.toDouble / n) < 1e-6)
    }
    // cross-check one bucket against a direct recomputation
    val direct = graft.operators.TextAnalysis.classifierScore(d)
      .select(col("doc_id"),
        least(floor(col("score") * 10), lit(9L)).cast("long").as("b"))
      .join(graft.operators.Curation.qualityFilter(d)
        .select(col("doc_id"), col("keep")), Seq("doc_id"))
      .collect().map(r => (r.getLong(1), r.getBoolean(2)))
    val byBucket = direct.groupBy(_._1).view
      .mapValues(v => (v.length.toLong, v.count(_._2).toLong)).toMap
    out.foreach { case (b, n, k, _) =>
      assert(byBucket(b) === ((n, k)))
    }
  }

  test("fertility: per-lang sums equal the per-doc BPE counts summed " +
      "by hand; ratios are their exact quotients") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val perDoc = d.select(col("lang"),
        size(graft.functions.Portable.tokens(col("text"))).cast("long")
          .as("nt"),
        graft.functions.BpeExprs.bpeCount(col("text")).as("ns"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val out = graft.operators.TextAnalysis.fertility(d).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out.keySet === perDoc.keySet)
    perDoc.foreach { case (lang, rows) =>
      val (nd, nt, ns, fert) = out(lang)
      assert(nd === rows.length.toLong)
      assert(nt === rows.map(_._2).sum)
      assert(ns === rows.map(_._3).sum)
      assert(math.abs(fert - ns.toDouble / nt) < 1e-6)
      assert(fert >= 1.0, "a subword never spans a whitespace boundary")
    }
  }

  test("lshCalibration: one-row report with coherent counts; verified " +
      "count equals the registered minhash-pairs roster query") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val r = graft.operators.Dedup.lshCalibration(d).collect().head
    val (nc, nv, prec, mae, bias) = (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(nc > 0 && nv <= nc)
    assert(prec >= 0.0 && prec <= 1.0)
    assert(mae >= 0.0 && mae <= 1.0)
    assert(math.abs(bias) <= mae + 1e-9,
      "bias can never exceed mean absolute error")
    val pairs = graft.operators.Dedup.minhashPairs(d).count()
    assert(nv === pairs,
      "verified count must equal the Jaccard-verified pair roster query")
  }

  test("zipf: ranks follow (freq desc, token), shares are exact " +
      "count ratios, zipf_share halves at rank 2") {
    val d = docs(
      (1L, "aa aa aa aa bb bb cc dd"),
      (2L, "aa aa bb cc"))
    val out = graft.operators.TextAnalysis.zipf(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // counts: aa=6, bb=3, cc=2, dd=1; total=12
    assert(out.map(x => (x._1, x._2, x._3)).toSeq === Seq(
      (1L, "aa", 6L), (2L, "bb", 3L), (3L, "cc", 2L), (4L, "dd", 1L)))
    assert(out(0)._4 === 0.5)           // 6/12
    assert(out(0)._5 === 0.5)           // f1/1/12
    assert(out(1)._5 === 0.25)          // f1/2/12
    assert(out(3)._4 === math.rint(1.0 / 12 * 1e6) / 1e6)
  }

  test("readability: counts and scores match hand computation; " +
      "fragment without terminator gets the sentence floor") {
    val d = docs(
      (2L, "The cat sat. The dog ran! Did it?"),
      (4L, "no terminator here"))
    val out = graft.operators.TextAnalysis.readability(d).collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    val (s2, w2, y2, f2) = out(2L)
    assert(s2 === 3L) // three [.!?] runs
    assert(w2 === 8L)
    // vowel runs in "the cat sat. the dog ran! did it?":
    // e,a,a,e,o,a,i,i → 8
    assert(y2 === 8L)
    val expected = math.rint(
      (206.835 - 1.015 * (8.0 / 3) - 84.6 * (8.0 / 8)) * 1e4) / 1e4
    assert(math.abs(f2 - expected) < 1e-9)
    assert(out(4L)._1 === 1L) // sentence floor
  }

  test("temperatureMix: weights are proper distributions that flatten " +
      "toward uniform as alpha drops, and match direct recomputation") {
    val d = Seq(
      (1L, Seq.fill(100)("tok").mkString(" ")),
      (2L, Seq.fill(10)("tok").mkString(" ")),
      (3L, Seq.fill(1)("tok").mkString(" ")))
      .map { case (id, t) => (id, t, "en", s"src$id", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.temperatureMix(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.size === 3)
    def col(i: Int) = out.values.map(_.getDouble(i)).toSeq
    // each weight column sums to ~1 (1e-6-grid rounding slack)
    Seq(4, 5, 6).foreach { i =>
      assert(math.abs(col(i).sum - 1.0) < 1e-4, s"col $i sums ${col(i).sum}")
    }
    // temperature flattens: the dominant source's weight shrinks
    // monotonically as alpha drops 0.7 -> 0.5 -> 0.3, and every weight
    // ordering still follows size
    val big = out("src1")
    assert(big.getDouble(6) > big.getDouble(5) &&
      big.getDouble(5) > big.getDouble(4))
    // direct recomputation of w_t05 on the 1e-6 grid
    def m(n: Long) = BigDecimal(math.rint(
      math.exp(0.5 * math.log(n.toDouble)) * 1e6) / 1e6)
    val t = m(100) + m(10) + m(1)
    val expect = BigDecimal((m(100) / t).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(big.getDouble(5) - expect) < 2e-6)
  }

  test("hapaxReport: hand-checkable counts - TTR, hapax share and " +
      "Honore R match closed forms; an all-hapax language degenerates") {
    import graft.operators.TextAnalysis
    val d = Seq(
      // en: tokens x x y -> N=3, V=2, V1=1
      (2L, "x x y", "en"),
      // es: every token unique -> V1 = V -> honore NULL
      (3L, "a b c", "es"))
      .map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.hapaxReport(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert((en.getLong(1), en.getLong(2), en.getLong(3)) === ((3L, 2L, 1L)))
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(en.getDouble(4) === r6(2.0 / 3.0))
    assert(en.getDouble(5) === 0.5)
    assert(en.getDouble(6) === r6(100.0 * math.log(3.0) / (1.0 - 1.0 / 2.0)))
    val es = out("es")
    assert((es.getLong(2), es.getLong(3)) === ((3L, 3L)))
    assert(es.isNullAt(6), "V1 = V diverges -> NULL")
    assert(es.getDouble(4) === 1.0 && es.getDouble(5) === 1.0)
  }

  test("reservoirSample: deterministic bottom-k - ranks are 1..k, " +
      "priorities non-decreasing, and two runs agree exactly (sf0.001)") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val a = Curation.reservoirSample(d).collect()
    assert(a.length === math.min(Curation.ReservoirK, d.count()).toInt)
    assert(a.map(_.getLong(4)).toSeq === (1L to a.length).toSeq)
    val pris = a.map(_.getLong(3)).toSeq
    assert(pris === pris.sorted, "priorities must be non-decreasing")
    val b = Curation.reservoirSample(d).collect()
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq,
      "the sample must be reproducible")
  }

  test("streaming reservoir (transformWithState) merges to the exact " +
      "batch bottom-k across split triggers - associative sampling is " +
      "streaming-exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.{ResDoc, ReservoirState}
    import org.apache.spark.sql.functions._
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val resDocs = d.select(col("doc_id"), col("lang"), col("source"),
        graft.functions.Portable.hash32(concat(lit(Curation.sampleSalt),
          col("doc_id").cast("string"))).as("priority"))
      .as[ResDoc].collect()
    val chunks = resDocs.grouped(math.max(resDocs.length / 4, 1)).toSeq
    withConf(rocksDbStore) {
      val stream =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[ResDoc]
      val q = ReservoirState.attach(stream.toDS()).writeStream
        .format("memory").queryName("res_tws_sink")
        .outputMode("append").start()
      try {
        chunks.foreach { c =>
          stream.addData(c.toSeq: _*); q.processAllAvailable()
        }
        val streamed = ReservoirState
          .mergedSample(spark.table("res_tws_sink")).collect()
        val batch = Curation.reservoirSample(d).collect()
        assert(streamed.length === batch.length && batch.nonEmpty)
        streamed.zip(batch).foreach { case (s, b) =>
          assert(s.toSeq === b.toSeq, s"stream $s vs batch $b")
        }
      } finally q.stop()
    }
  }

  test("dedupSavings: token mass is conserved - kept + saved = total, " +
      "unclustered docs always kept, shares consistent (sf0.001)") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.dedupSavings(d).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(2) === r.getLong(3) + r.getLong(4),
        s"kept + saved must equal total: $r")
      assert(r.getLong(4) >= 0L)
      if (!r.isNullAt(5))
        assert(r.getDouble(5) >= 0.0 && r.getDouble(5) < 1.0)
    }
    // global consistency vs keepBest: total saved = sum of non-keeper
    // member tokens
    val kb = graft.operators.Dedup.keepBest(d)
      .filter(!org.apache.spark.sql.functions.col("keep"))
      .select("doc_id")
    val dropped = d.join(kb, Seq("doc_id"))
      .select(org.apache.spark.sql.functions.size(
        graft.functions.Portable.tokens(
          org.apache.spark.sql.functions.col("text"))).cast("long"))
      .collect().map(_.getLong(0)).sum
    assert(out.map(_.getLong(4)).sum === dropped)
  }

  test("ece: matches a local binned recomputation, brier matches the " +
      "mean squared error, all in [0,1] (sf0.001)") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.ece(d).collect()
    assert(out.length === 1)
    val r = out.head
    val pairs = graft.operators.TextAnalysis.classifierScore(d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("score"))
      .join(Curation.qualityFilter(d).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("keep")), Seq("doc_id"))
      .collect().map(x => (x.getDouble(1), x.getBoolean(2)))
    val n = pairs.length
    assert(r.getLong(0) === n)
    val bins = pairs.groupBy(t => math.min(math.floor(t._1 * 10).toLong, 9L))
    assert(r.getLong(1) === bins.size)
    val ece = bins.values.map { b =>
      val acc = b.count(_._2).toDouble / b.length
      val conf = b.map(_._1).sum / b.length
      (b.length.toDouble / n) * math.abs(acc - conf)
    }.sum
    assert(math.abs(r.getDouble(2) - ece) < 1e-5,
      s"ece ${r.getDouble(2)} vs local $ece")
    val brier = pairs.map { case (s, k) =>
      val e = s - (if (k) 1.0 else 0.0); e * e }.sum / n
    assert(math.abs(r.getDouble(4) - brier) < 1e-5)
    Seq(2, 3, 4).foreach(i =>
      assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0))
  }

  test("auc: matches a local rank-sum recomputation, bounded in [0,1], " +
      "gini = 2*auc - 1 (sf0.001)") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.auc(d).collect()
    assert(out.length === 1)
    val r = out.head
    val pairs = graft.operators.TextAnalysis.classifierScore(d)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("score"))
      .join(Curation.qualityFilter(d).select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("keep")), Seq("doc_id"))
      .collect().map(x => (x.getDouble(1), x.getBoolean(2)))
    val pos = pairs.filter(_._2).map(_._1)
    val neg = pairs.filterNot(_._2).map(_._1)
    assert(r.getLong(0) === pos.length && r.getLong(1) === neg.length)
    assert(r.getLong(2) === pairs.map(_._1).distinct.length)
    // O(n_pos*n_neg) exact reference: wins + half-ties
    var num2 = 0L
    pos.foreach { p => neg.foreach { q =>
      if (p > q) num2 += 2 else if (p == q) num2 += 1 } }
    val auc = num2.toDouble / (2.0 * pos.length * neg.length)
    assert(math.abs(r.getDouble(3) - auc) < 1e-6,
      s"auc ${r.getDouble(3)} vs exact $auc")
    assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    assert(math.abs(r.getDouble(4) - (2 * auc - 1)) < 2e-6)
  }

  test("kappa: cells partition the corpus, marginals match the " +
      "standalone label passes, kappa consistent with po/pe (sf0.001)") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val out = Curation.kappa(d).collect()
    assert(out.length === 1)
    val r = out.head
    val (n, a, b, c, dd) = (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))
    assert(a + b + c + dd === n, "2x2 cells must partition the corpus")
    assert(n === d.count())
    // marginals vs the standalone label passes
    val nRuleKeep = Curation.qualityFilter(d)
      .filter(org.apache.spark.sql.functions.col("keep")).count()
    assert(a + c === nRuleKeep, "rule-keep marginal")
    val nClsKeep = graft.operators.TextAnalysis.classifierScore(d)
      .filter(org.apache.spark.sql.functions.col("score") >=
        Curation.kappaClsThreshold).count()
    assert(a + b === nClsKeep, "classifier-keep marginal")
    // kappa consistent with its own po/pe (to rounding)
    val po = (a + dd).toDouble / n
    val pe = ((a + b) * (a + c) + (c + dd) * (b + dd)).toDouble / (n.toDouble * n)
    if (!r.isNullAt(7))
      assert(math.abs(r.getDouble(7) - (po - pe) / (1.0 - pe)) < 1e-5)
    assert(r.getDouble(7) <= 1.0 + 1e-9)
  }
}
