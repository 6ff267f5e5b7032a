package graft

/** Roster-wide physical-plan audit: every registered query's executed
  * plan is scanned for the operators that kill clusters at scale.
  *
  *  - `CartesianProduct` (unbroadcast O(n·m) join): never allowed.
  *  - Non-cross `BroadcastNestedLoopJoin` (a non-equi join that streams
  *    one side against a broadcast): allowed only where the build side
  *    is a BOUNDED query set by construction — the brute-force/LSH
  *    similarity probes, whose broadcast side is ≤ nQueries rows
  *    regardless of corpus size. (Cross BNLJ of 1-row scalar aggregates
  *    — injected clocks, bounds, vocab sizes — is the intended
  *    broadcast pattern and not flagged.)
  *
  * A new operator that accidentally plans a quadratic join fails here
  * before it ever reaches the bench.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Every registered query's executed plan, by name, planned once for
    * the three roster audits: planning runs each eager pin's prefix, so
    * the roster takes minutes to plan. */
  private lazy val plans: Seq[(String, org.apache.spark.sql.execution.SparkPlan)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, dir).queryExecution.executedPlan
    }

  /** Queries whose INNER nested-loop join is the documented bounded-
    * broadcast probe, not an accident. */
  private val boundedProbeWhitelist = Set(
    "sim_bruteforce_topk", // brute force IS all-pairs: the baseline
    "sim_hard_negatives",  // label-filtered scan vs the 20-query broadcast
    "sim_lsh_topk",        // band0-OR-band1 candidate match vs 20 queries
    "sim_quantized_topk",  // reconstructed-cosine brute force
    "sim_pq_topk",         // ADC scan vs the 20-query broadcast
    "sim_binary_topk",     // hamming scan vs the 20-query broadcast
    "sim_rerank_topk",     // stage-1 ADC scan vs the 20-query broadcast
    "sim_matryoshka",      // 1+|dims| brute-force scans vs 20 queries
    "sim_range_search",    // radius scan vs the 20-query broadcast
    "sim_recall_report",   // composes binary/ivf/ivfpq probes, each the
                           // same ≤ 20-query broadcast as its own row
    "sim_jl_projection",   // fidelity eval scores the brute-force
                           // pairs: same ≤ 20-query broadcast scan as
                           // sim_bruteforce_topk, which it composes
    "sim_quality_separation", // keep/reject centroid pair: both sides
                              // are the TWO-row verdict-centroid agg
    "sim_label_separation", // centroid×centroid pair table: BOTH sides
                            // are the ≤ #labels centroid aggregate —
                            // metadata-sized by construction, the
                            // members scan never joins non-equi
    "rel_mann_kendall")     // i<j pair table over the calendar-month
                            // revenue grid: BOTH sides are the ~80-row
                            // month aggregate — metadata-sized at any
                            // SF, the orders scan never joins non-equi

  // Spark 4 prints "BroadcastNestedLoopJoin BuildLeft/BuildRight, <type>"
  // — the build side comes BEFORE the join type (an earlier form of this
  // regex omitted it and never matched anything, making the audit
  // vacuous; pinned by the self-test below).
  private val bnljNonCross =
    "BroadcastNestedLoopJoin Build(Left|Right), (Inner|LeftOuter|RightOuter|LeftSemi|LeftAnti|FullOuter)".r

  test("audit self-test: the BNLJ pattern matches a real non-equi plan") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("a")
    val b = Seq(3, 4).toDF("b")
    val plan = a.join(org.apache.spark.sql.functions.broadcast(b),
      org.apache.spark.sql.functions.col("a") =!=
        org.apache.spark.sql.functions.col("b"))
      .queryExecution.executedPlan.toString
    assert(bnljNonCross.findFirstIn(plan).isDefined, plan)
  }

  test("the RDD API appears only in the whitelisted imperative seams") {
    // The engine is declarative end-to-end: leaving Catalyst via .rdd
    // silently drops codegen + the columnar path for every downstream
    // consumer (round 6 retired the last registered-path hop, the old
    // indexedBars zipWithIndex). The two legitimate exceptions:
    //  - plans/GroupedTopK.scala: a physical operator — SparkPlan's
    //    doExecute contract IS RDD[InternalRow];
    //  - operators/Dedup.scala: the documented single-task union-find
    //    fast path (per-partition imperative state, mapPartitions-shaped).
    val allowed = Set("plans/GroupedTopK.scala", "operators/Dedup.scala")
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val rddUse = """\.rdd\b""".r
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter { p =>
        val rel = root.relativize(p).toString
        !allowed(rel) &&
          rddUse.findFirstIn(java.nio.file.Files.readString(p)).isDefined
      }
      .map(root.relativize(_).toString).toSeq
    assert(offenders.isEmpty,
      s"unexpected .rdd use (add to whitelist only with a scale argument): " +
        offenders.mkString(", "))
  }

  /** Grouping keys the engine declares BOUNDED by construction — a
    * fixed grid whose cardinality does not grow with the data. An
    * aggregate grouped solely on these keys emits a metadata-sized
    * frame, so a global window over it is the documented two-level-
    * scan exception (exclusivePrefix / bandedRank pattern), not a
    * scale-killer. Add a key only with a boundedness argument:
    *  - bucket/__bucket/band: equal-width band grids (≤ nBands/nBuckets)
    *  - decile: the fixed 10-row lift/gains grid
    *  - month: calendar months in the data's date range
    *  - duration: distinct customer lifetimes in days (date-range bound)
    *  - df: document-frequency histogram values (≤ df cap)
    *  - hamming: pHash Hamming distances (≤ 65)
    *  - z: z-order curve values (≤ 4^zorderBits)
    *
    * This is a NAMING CONTRACT, not a proof: the audit trusts that
    * these column names are reserved for bounded grids engine-wide
    * (true cardinality lives in the operator, which the audit can't
    * see). Never reuse a listed name for a data-sized grouping key —
    * an unbounded per-user "bucket" would silently pass; conversely an
    * anonymous bounded grouping (inline expression →
    * `_groupingexpression`) FAILS until materialized as a named
    * column, which is the intended pressure (see monthlyGrowth).
    */
  private val boundedGroupKeys = Set(
    "bucket", "__bucket", "band", "decile", "month", "duration", "df",
    "hamming", "z", "level",
    "punct_ratio") // round(x,4) of a [0,1] ratio: ≤ 10001 distinct values

  test("no registered query plans an unpartitioned Window over an " +
      "unbounded input (global windows single-task the data at scale)") {
    import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    // A window input is BOUNDED iff every data path below it passes
    // through a limit or a bounded-grid (or scalar) aggregate before
    // reaching a scan. Broadcast build sides are bounded by the
    // engine's broadcast discipline (scalar aggs / probe sets — the
    // BNLJ audit below owns that claim), so joins descend the
    // streamed/ non-broadcast children only.
    def bounded(p: SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        h.groupingExpressions.isEmpty ||
          h.groupingExpressions.forall(g => boundedGroupKeys(g.name))
      case s: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        s.groupingExpressions.isEmpty ||
          s.groupingExpressions.forall(g => boundedGroupKeys(g.name))
      case o: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        o.groupingExpressions.isEmpty ||
          o.groupingExpressions.forall(g => boundedGroupKeys(g.name))
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        val dataKids = j.children.filterNot {
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
          case q: QueryStageExec => q.plan.isInstanceOf[
            org.apache.spark.sql.execution.exchange.BroadcastExchangeExec]
          case _ => false
        }
        dataKids.forall(bounded)
      case a: AdaptiveSparkPlanExec => bounded(a.executedPlan)
      case q: QueryStageExec => bounded(q.plan)
      case leaf if leaf.children.isEmpty => false // scans: data-sized
      case other => other.children.forall(bounded) // pass-through
    }

    def offendingWindows(p: SparkPlan): Seq[String] = {
      val here = p match {
        case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) =>
          Seq("Window[" +
            w.windowExpression.map(_.name).mkString(",").take(60) + "]")
        case g: WindowGroupLimitExec
            if g.partitionSpec.isEmpty && !bounded(g.child) =>
          Seq("WindowGroupLimit")
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case o => o.children
      }
      here ++ (kids ++ p.subqueries).flatMap(offendingWindows)
    }

    val offenders = plans.flatMap { case (name, plan) =>
      val hits = offendingWindows(plan)
      if (hits.isEmpty) Nil else Seq(s"$name: ${hits.mkString("; ")}")
    }
    assert(offenders.isEmpty,
      "unpartitioned Window over an unbounded input (rewrite with the " +
        "two-level band scan, or pre-limit): " + offenders.mkString(" | "))
  }

  /** Structurally-LOW-CARDINALITY dimension columns — the repo's known
    * dimension vocabulary (symbols, languages, sources, labels). A
    * window PARTITIONED solely by these over an EVENT-GRAIN input is
    * the round-10 `tickSides` defect class: the hash exchange sends
    * every row of one ticker/language to ONE task, whose sort grows
    * with data volume while parallelism stays capped at the
    * dimension's cardinality — the existing unpartitioned-window audit
    * passed it because the window WAS partitioned. Same naming
    * contract as [[boundedGroupKeys]]: these names are reserved for
    * bounded dimensions engine-wide. */
  private val lowCardDims = Set(
    "ticker", "symbol", "lang", "source", "split", "label",
    "event_type", "lang_pred", "side", "verdict")

  /** Time/bucket-GRAIN column names: an aggregate grouped by
    * (lowCardDim..., one of these) emits a bar-grain frame whose
    * per-dimension row count is bounded by the data's TIME SPAN (or a
    * fixed grid), not its event volume — the documented safe input for
    * per-dimension lag-chain windows (the indicator kernels). A pinned
    * frame (LogicalRDD) carrying one of these columns is classified
    * bar-grain by the same contract. */
  private val grainCols = Set(
    "minute", "window", "bucket", "__bucket", "day", "date", "month",
    "week", "hour", "bar_ts", "ts_min")

  /** True iff every data path below `p` passes a grain reducer before
    * reaching a data-sized leaf: a limit/top-k, an aggregate whose
    * grouping keys are all dimension/grain/bounded-grid names, or a
    * bar-grain pin. Broadcast build sides are bounded by the engine's
    * broadcast discipline (the BNLJ audit owns that claim). */
  private def grainReduced(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val groupable = lowCardDims ++ grainCols ++ boundedGroupKeys
    p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec => true
      case a: aggregate.BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(g => groupable(g.name)) ||
          // inline grouping expressions are pulled out as
          // `_groupingexpression#N`; the user-facing alias survives on
          // the aggregate's OUTPUT — a grain column there means the
          // grouping included a time/bucket grid (bar-grain). The
          // contract cuts both ways: never alias an AGGREGATE VALUE to
          // a grain-column name over an unreduced grain.
          a.output.exists(o => grainCols(o.name))
      case g: graft.plans.GroupedTopKExec =>
        g.partitionExprs.forall {
          case attr: org.apache.spark.sql.catalyst.expressions.Attribute =>
            groupable(attr.name)
          case _ => false
        }
      case r: RDDScanExec => // a pin: classify by schema (grain contract)
        r.output.exists(a => grainCols(a.name))
      case j: joins.BaseJoinExec =>
        j.children.filterNot {
          case _: exchange.BroadcastExchangeExec => true
          case q: QueryStageExec =>
            q.plan.isInstanceOf[exchange.BroadcastExchangeExec]
          case _ => false
        }.forall(grainReduced)
      case a: AdaptiveSparkPlanExec => grainReduced(a.executedPlan)
      case q: QueryStageExec => grainReduced(q.plan)
      case leaf if leaf.children.isEmpty => false // scans: event-grain
      case other => other.children.forall(grainReduced)
    }
  }

  /** The offending shapes: a Window (or sort-backed window group
    * limit) partitioned ONLY by low-cardinality dimensions over a
    * non-grain-reduced input. GroupedTopKExec is exempt — its partial
    * stage prunes per-task heaps before the shuffle, so no single task
    * ever sorts a whole dimension's history. */
  private def eventGrainLowCardWindows(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    def allLowCard(spec: Seq[Expression]): Boolean =
      spec.nonEmpty && spec.forall {
        case a: Attribute => lowCardDims(a.name)
        case _ => false
      }
    val here = p match {
      case w: WindowExec
          if allLowCard(w.partitionSpec) && !grainReduced(w.child) =>
        Seq("Window[" + w.partitionSpec.collect {
          case a: Attribute => a.name }.mkString(",") + "]")
      case g: WindowGroupLimitExec
          if allLowCard(g.partitionSpec) && !grainReduced(g.child) =>
        Seq("WindowGroupLimit[" + g.partitionSpec.collect {
          case a: Attribute => a.name }.mkString(",") + "]")
      case _ => Nil
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    here ++ (kids ++ p.subqueries).flatMap(eventGrainLowCardWindows)
  }

  test("audit self-test: an event-grain window partitioned only by a " +
      "low-card dimension is flagged; bar-grain inputs are not") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables.documents(spark, dir)
    // (a) the planted tickSidesGlobal shape: per-language lag chain
    // directly over the document scan — one task per language
    val planted = docs.withColumn("prev",
      lag(col("n_chars"), 1).over(W.partitionBy(col("lang"))
        .orderBy(col("doc_id"))))
    assert(eventGrainLowCardWindows(
      planted.queryExecution.executedPlan).nonEmpty,
      "the audit must flag a per-dimension window over a raw scan")
    // (b) the same window over a pinned EVENT-grain frame still flags
    // (the pin's schema carries no grain column)
    import graft.Materialize.PinOps
    val plantedPinned = docs.select("doc_id", "lang", "n_chars").pin()
      .withColumn("prev", lag(col("n_chars"), 1)
        .over(W.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(eventGrainLowCardWindows(
      plantedPinned.queryExecution.executedPlan).nonEmpty,
      "an event-grain pin must not launder the window's input grain")
    // (c) bar-grain negative: the same lag over a (lang, bucket)
    // aggregate — rows per language bounded by the bucket grid
    val barGrain = docs.groupBy(col("lang"),
        (col("n_chars") / 100).cast("int").as("bucket"))
      .agg(sum(col("n_chars")).as("mass"))
      .withColumn("prev", lag(col("mass"), 1)
        .over(W.partitionBy(col("lang")).orderBy(col("bucket"))))
    assert(eventGrainLowCardWindows(
      barGrain.queryExecution.executedPlan).isEmpty,
      "a bar-grain aggregate input must pass")
    // (d) bar-grain PIN negative: same frame pinned first — classified
    // by the grain column in the pin's schema
    val barPinned = docs.groupBy(col("lang"),
        (col("n_chars") / 100).cast("int").as("bucket"))
      .agg(sum(col("n_chars")).as("mass")).pin()
      .withColumn("prev", lag(col("mass"), 1)
        .over(W.partitionBy(col("lang")).orderBy(col("bucket"))))
    assert(eventGrainLowCardWindows(
      barPinned.queryExecution.executedPlan).isEmpty,
      "a pinned bar-grain frame must pass via the schema contract")
  }

  test("no registered query plans an event-grain Window partitioned " +
      "only by low-cardinality dimensions (the tickSides class)") {
    val offenders = plans.flatMap { case (name, plan) =>
      val hits = eventGrainLowCardWindows(plan)
      if (hits.isEmpty) Nil else Seq(s"$name: ${hits.mkString("; ")}")
    }
    assert(offenders.isEmpty,
      "per-dimension window over an event-grain input — one task sorts " +
        "a whole dimension's history at scale; bucket the window " +
        "(tickSidesBucketed pattern) or reduce the grain first: " +
        offenders.mkString(" | "))
  }

  test("no registered query plans a cartesian or unbounded nested-loop join") {
    val offenders = plans.flatMap { case (name, executed) =>
      val plan = executed.toString
      val cartesian = plan.contains("CartesianProduct")
      val nonCrossBnlj = bnljNonCross.findFirstIn(plan).isDefined &&
        !boundedProbeWhitelist(name)
      (if (cartesian) Seq(s"$name: CartesianProduct") else Nil) ++
        (if (nonCrossBnlj) Seq(s"$name: unbounded non-equi BNLJ") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
