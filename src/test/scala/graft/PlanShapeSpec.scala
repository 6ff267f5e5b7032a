package graft

/** Plan-shape regression locks for the registered queries: the shapes
  * the engine was tuned to (shuffle counts, no quadratic joins, custom
  * operators in place) are asserted so a refactor that silently
  * re-plans a scale-killer fails CI, not the next 100 TB run. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def countOf(s: String, pattern: String): Int =
    pattern.r.findAllIn(s).length

  test("stock_join: at most 2 hash-partition shuffles (minute agg + window fan-in)") {
    val p = plan("stock_join")
    assert(countOf(p, "Exchange hashpartitioning") <= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q1_dashboard / q6_momentum: GroupedTopK, no row_number window") {
    Seq("q1_dashboard", "q6_momentum").foreach { q =>
      val p = plan(q)
      assert(p.contains("GroupedTopK"), s"$q:\n$p")
      assert(!p.contains("row_number()"), s"$q:\n$p")
    }
  }

  test("sim_dbscan / stock_granger: cell/bucket equi-joins only, no " +
      "quadratic join operator") {
    Seq("sim_dbscan", "stock_granger").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("rel_weibull_fit: banded rank, no unpartitioned data-sized sort") {
    val p = plan("rel_weibull_fit")
    // the two-level band scan: the only global window input is the
    // <=128-row band-offset aggregate (__bucket grouping)
    assert(p.contains("__bucket"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_rake: vocab join is hot/cold split (broadcast head + " +
      "shuffled tail), top-k is TakeOrdered") {
    val p = plan("text_rake")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_neardup_pairs / dedup_jaccard_pairs: no quadratic join operator") {
    Seq("sim_neardup_pairs", "dedup_jaccard_pairs").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
    }
  }

  test("sim_binary_topk / sim_rerank_topk / sim_knn_graph_mp: " +
      "GroupedTopK selection, no quadratic join, broadcast small sides") {
    Seq("sim_binary_topk", "sim_rerank_topk", "sim_knn_graph_mp").foreach { q =>
      val p = plan(q)
      assert(p.contains("GroupedTopK"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // every join in these plans is either a broadcast of a bounded
      // side (queries / centroids / codebooks / probe sets) or an
      // equi-join — a SortMergeJoin of two corpus-sized sides would be
      // a re-plan worth failing on
      assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
        s"$q:\n$p")
    }
  }

  test("dedup_containment_pairs: shares jaccardPairs' single-pass " +
      "inverted-index shape (no re-join round trip, no quadratic join)") {
    val p = plan("dedup_containment_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("stock_ohlc_5m: single hash aggregation, no sort-based fallback") {
    val p = plan("stock_ohlc_5m")
    // fixed-width min_by/max_by buffers must keep the bars in
    // HashAggregate; a string in the buffer demotes to SortAggregate
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("SortAggregate"), p)
  }

  test("text_tfidf_top / sample_stratified: top-k through the custom operator") {
    Seq("text_tfidf_top", "sample_stratified").foreach { q =>
      assert(plan(q).contains("GroupedTopK"), q)
    }
  }

  test("text_tfidf_top / text_perplexity: vocab join is hot/cold split, " +
      "never a full-vocab broadcast") {
    Seq("text_tfidf_top", "text_perplexity").foreach { q =>
      val p = plan(q)
      // the hot branch is a bounded TakeOrdered limit; the two branches
      // union — the shape Skew.hotColdJoin plants. A full-df broadcast
      // would show neither.
      assert(p.contains("TakeOrderedAndProject"), q)
      assert(p.contains("Union"), q)
    }
  }

  test("q4_health / q2_trend_signals: one pipeline instance + cheap clock") {
    // one pipeline instance is now guaranteed BY MATERIALIZATION: the
    // round-11 spike fix pins the minute table once (Scan ExistingRDD),
    // so the only parquet scan left in the plan is the injected clock's
    // bare scan+max branch — a second "Scan parquet" would mean the
    // minute pipeline is being re-run for the clock again
    Seq("q4_health", "q2_trend_signals").foreach { q =>
      val p = plan(q)
      assert(countOf(p, "Scan parquet") == 1, s"$q:\n$p")
      assert(countOf(p, "Scan ExistingRDD") >= 1, s"$q:\n$p")
    }
    // and the window fan-out itself stays single: the pinned plan hides
    // the Generate inside the LogicalRDD, so re-plan with the identity
    // pin to keep the original Generate == 1 lock (a regression that
    // duplicates the explode would pass the scan counts above)
    withProp(Materialize.modeProp -> "none") {
      Seq("q4_health", "q2_trend_signals").foreach { q =>
        val p = plan(q)
        assert(countOf(p, "Generate") == 1, s"$q (mode=none):\n$p")
        assert(countOf(p, "Scan parquet") == 2, s"$q (mode=none):\n$p")
      }
    }
  }

  test("dedup_paragraphs / dedup_substrings: first-occurrence is a hash " +
      "aggregation, never a per-fingerprint window sort") {
    Seq("dedup_paragraphs", "dedup_substrings").foreach { q =>
      val p = plan(q)
      assert(!p.contains("WindowExec") && !p.contains("row_number"),
        s"$q must use min(struct) hash agg, not a window:\n$p")
      assert(p.contains("HashAggregate"), s"$q:\n$p")
    }
  }

  test("rel_funnel: every per-user argmin goes through GroupedTopK") {
    val p = plan("rel_funnel")
    assert(countOf(p, "GroupedTopK") >= 6, // 3 stages x (partial + final)
      s"expected 3 bounded-heap stage argmins:\n$p")
    assert(!p.contains("WindowExec"), p)
  }

  test("rel_price_deciles: no percentile buffer over the raw column") {
    val p = plan("rel_price_deciles")
    // exact boundaries must come from the bounded distinct-price
    // aggregate (groupBy(price) + two-level scan), never the Percentile
    // TypedImperativeAggregate whose buffer holds every raw value on a
    // single reducer — the 100 TB OOM this query was rewritten to avoid
    assert(!p.toLowerCase.contains("percentile"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("exact percentiles over raw columns go through the distinct-value scan") {
    // every exact percentile on an unbounded-domain raw column was
    // migrated to Quantiles.exactPercentiles(By); `percentile(` in
    // these plans would mean the one-buffer-per-group aggregate is
    // back. (percentile_approx in rel_approx_stats is the product
    // sketch, not the reference path — match the exact fn only.)
    Seq("rel_quantiles", "text_length_adaptive", "corpus_signal_ensemble")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("percentile("),
          s"$q must not use the exact percentile aggregate:\n$p")
      }
    val pa = plan("rel_approx_stats")
    assert(!pa.replace("percentile_approx", "PA").contains("percentile("),
      s"rel_approx_stats exact-median reference must use the scan:\n$pa")
  }

  test("stock_analysis: the only nested-loop join is the broadcast 1-row clock") {
    val p = plan("stock_analysis")
    // crossJoin(broadcast(1-row nowDf)) is the intended exception
    assert(countOf(p, "BroadcastNestedLoopJoin") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
