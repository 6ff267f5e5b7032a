package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.Materialize.PinOps

/** Relational analytics over the TPC-H-ish star schema — the join /
  * aggregate / window / semi / anti / rollup surface the reference
  * delegates to BigQuery (SURVEY.md §2.9, §4), exercised at scale on the
  * driver's test tables.
  *
  * Determinism convention: money aggregates are summed as DECIMAL(18,4)
  * (exact, order-independent — a double sum over 600 k rows differs
  * between partition-parallel Spark and sequential DuckDB by ~1e-3) and
  * cast back to DOUBLE for the output schema. Per-row double arithmetic
  * (price × (1−disc)) is deterministic and stays double.
  *
  * Scale notes (100 TB): the star joins shuffle the fact tables on their
  * join keys once each; region/nation (25 rows) and the filtered
  * dimension sides are explicitly `broadcast()` so the big scans never
  * shuffle for them. Semi/anti joins use Spark's left_semi/left_anti
  * (no row multiplication, map-side with broadcast). All top-k sorts
  * lower to TakeOrderedAndProject.
  */
object Relational {

  // Scale 6, not 4: money expressions here have at most 6 true decimal
  // places (2dp price × 2dp discount × 2dp tax), so every double is
  // ~1e-11 from a 6dp grid point and both engines round it identically.
  // At scale 4 the true values sit EXACTLY on rounding midpoints, where
  // Spark (decimal-string half-up) and DuckDB (binary nearest) disagree.
  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** TPC-H Q1-style pricing summary: the canonical wide aggregate. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax"))).as("sum_charge"),
        (decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (decSum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (decSum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** TPC-H Q5-style: revenue per nation for one region, 6-way star join
    * with broadcast dimensions. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(spark, dir)
    val supplier = Tables.supplier(spark, dir)
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q3-style: top-10 customers by revenue in one segment. */
  def topCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  /** TPC-H Q4-style: order-priority counts via a left-semi join (EXISTS
    * with a non-equi conjunct). */
  def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(spark, dir)
    orders
      .join(lineitem, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Customers with no orders — left-anti join (NOT EXISTS). */
  def customersNoOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** Per-customer running order total + sequence number (window funcs on
    * the fact table; explicit ROWS frame so RANGE-vs-ROWS defaults can't
    * diverge between engines). */
  def orderRunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wSum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        round(sum(col("o_totalprice")).over(wSum), 4).as("running_total"),
        row_number().over(w).cast("long").as("order_seq"))
      .orderBy(col("o_custkey"), col("order_seq"))
  }

  /** The ranked-window-function family in one statement — ntile,
    * percent_rank, cume_dist, lag/lead — per customer over order time.
    * percent_rank/cume_dist are exact small-integer ratios (one IEEE
    * division, no accumulation), so no rounding is needed for oracle
    * parity. All tie-free: (o_orderdate, o_orderkey) is unique. */
  def orderWindowFuncs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pct_rank"),
        cume_dist().over(w).as("cume"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Top-3 parts per brand by retail price — the row_number-≤-k pattern,
    * planned through the custom [[graft.plans.GroupedTopK]] operator
    * (bounded per-key heap; no partition sort). Same semantics as
    * `row_number().over(Window...)` + filter, and the DuckDB oracle
    * states it in exactly that classic form — so the oracle check IS the
    * custom operator's correctness proof. */
  def partTopPerBrand(spark: SparkSession, dir: String): DataFrame =
    TopK.perKey(Tables.part(spark, dir), Seq("p_brand"),
        Seq("p_retailprice" -> true, "p_partkey" -> false), 3)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("rn").cast("long").as("rn"))
      .orderBy(col("p_brand"), col("rn"))

  /** Exact interpolated percentiles per return flag (Spark's `percentile`
    * = DuckDB's `quantile_cont`: index p·(n−1), linear interpolation) —
    * computed on the distributed distinct-value aggregate
    * ([[Quantiles.exactPercentilesBy]]), not the per-group value→count
    * buffer the `percentile` aggregate merges on one reducer. */
  def pricingQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
    val pq = Quantiles.exactPercentilesBy(
      li.select(col("l_returnflag"), col("l_extendedprice").as("v")),
      Seq("l_returnflag"), Seq(0.25, 0.5, 0.75, 0.95))
    val dq = Quantiles.exactPercentilesBy(
      li.select(col("l_returnflag"), col("l_discount").as("v")),
      Seq("l_returnflag"), Seq(0.5))
      .select(col("l_returnflag"), col("bs").as("dbs"))
    pq.join(dq, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(element_at(col("bs"), 1), 6).as("p25_price"),
        round(element_at(col("bs"), 2), 6).as("p50_price"),
        round(element_at(col("bs"), 3), 6).as("p75_price"),
        round(element_at(col("bs"), 4), 6).as("p95_price"),
        round(element_at(col("dbs"), 1), 6).as("median_discount"))
      .orderBy(col("l_returnflag"))
  }

  /** Range (interval) join over the events stream, batch form: each
    * purchase joined to the same user's clicks in the preceding 10
    * minutes — the batch twin of
    * [[graft.streaming.StreamingPipeline.purchaseClickJoin]]. Catalyst
    * plans the user_id equi-conjunct as the hash key with the range as
    * a post-join filter, so this shuffles on user_id (high cardinality),
    * not a cross product. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
    purchases.join(clicks,
        col("user_id") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(col("user_id"), col("p_event"), col("p_ts"),
        col("c_event"), col("c_ts"))
      .orderBy(col("p_event"), col("c_event"))
  }

  /** TPC-H Q14-shape promo revenue share: one broadcast dim join, then
    * BOTH the promo and total sums in a single conditional aggregation
    * pass (no second scan, no join of two aggregates) — the
    * join-elimination pattern the stock pipeline uses, applied
    * relationally. Monthly grain; decimal-exact sums; the share is one
    * double division. */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(
        decSum(when(col("p_type") === "PROMO",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0))).as("promo_revenue"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue"))
      .select(col("month"), col("promo_revenue"), col("total_revenue"),
        round(col("promo_revenue") / col("total_revenue") * 100, 6)
          .as("promo_pct"))
      .orderBy(col("month"))

  /** TPC-H Q7-shape volume shipping: revenue by (supplier nation,
    * customer nation, ship year). Fact-to-fact orders⋈lineitem shuffles
    * on the order key; every dimension (customer, supplier, nation×2)
    * broadcasts; the aggregate output is O(nations² × years). */
  def volumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
    Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("c_nationkey") === col("c_nkey"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n2), col("s_nationkey") === col("s_nkey"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }

  /** User-journey sessionization with conversion: Spark's native
    * `session_window` (30-minute inactivity gap) keyed by user, with
    * per-session event and purchase counts and a converted flag — the
    * funnel table every event warehouse derives. Same engine path as
    * the stock session windows (stream-safe: the identical transform
    * runs under readStream with a watermark); the oracle states the
    * batch semantics as gaps-and-islands SQL. Shuffles once on the
    * (user, session) grain; per-session state is bounded by the gap. */
  def userSessions(spark: SparkSession, dir: String,
      gap: String = "30 minutes"): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("n_purchases"),
        (col("n_purchases") > 0).as("converted"))
      .orderBy(col("user_id"), col("session_start"))

  /** Concurrency timeline (interval sweep): how many user sessions are
    * simultaneously open at every session boundary — the classic
    * "peak concurrent users" capacity question, answered with the
    * +1/−1 delta sweep. Equal-timestamp deltas merge to one NET delta
    * per instant (convention-free), and the running concurrency is
    * the banded two-level prefix sum (equal-width time bands from a
    * broadcast bounds aggregate, per-band running sums, metadata-sized
    * exclusive band offsets — the `packAssign` pattern), so no global
    * single-partition window exists at any scale. Integer arithmetic
    * end to end; `is_peak` marks the global maximum instants. */
  def concurrency(spark: SparkSession, dir: String,
      bands: Int = 64): DataFrame = {
    val s = userSessions(spark, dir)
    val deltas = s.select(col("session_start").as("t"), lit(1L).as("d"))
      .unionAll(s.select(col("session_end").as("t"), lit(-1L).as("d")))
      .groupBy(col("t")).agg(sum(col("d")).as("net_delta"))
    val e = deltas.withColumn("tu", unix_micros(col("t").cast("timestamp")))
    val bounds = e.agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
    val banded = e.crossJoin(broadcast(bounds))
      .withColumn("band",
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(expr(s"((tu - lo) * $bands) div (hi - lo + 1)")))
      .drop("lo", "hi", "tu")
    val wo = Window.orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("band"))
      .agg(sum(col("net_delta")).as("part"))
      .withColumn("offset", coalesce(sum(col("part")).over(wo), lit(0L)))
      .select(col("band"), col("offset"))
    val wb = Window.partitionBy(col("band")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val timeline = banded.join(broadcast(offsets), Seq("band"))
      .withColumn("concurrency",
        col("offset") + sum(col("net_delta")).over(wb))
      .select(col("t"), col("net_delta"), col("concurrency"))
    val peak = timeline.agg(max(col("concurrency")).as("mx"))
    timeline.crossJoin(broadcast(peak))
      .select(col("t"), col("net_delta"), col("concurrency"),
        (col("concurrency") === col("mx")).as("is_peak"))
      .orderBy(col("t"))
  }

  /** TPC-H Q3-shape shipping priority: the canonical SELECTIVE star
    * join — the segment-filtered customer dim broadcasts into the
    * orders⋈lineitem shuffle join, both date predicates push down to
    * the parquet scans (PushedFilters), revenue partial-aggregates
    * map-side on the high-cardinality (orderkey, date) key, and the
    * global top-10 plans as TakeOrderedAndProject — no full sort at
    * any scale. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING")
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
    val lineitem = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1997-06-30").cast("timestamp"))
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** As-of join: for each purchase, the same user's LATEST click at or
    * before it (ties broken by highest event id — stated identically in
    * the oracle's row_number form).
    *
    * Time-bucketed two-level form (the carry pattern of
    * `StockPipeline.withSpikeBucketed` / the Packing two-level scan),
    * replacing the earlier purchases×all-prior-clicks fan-out whose
    * join output was quadratic for hot users:
    *  1. in-bucket: purchases equi-join clicks on (user, bucket) —
    *     output is O(purchases × clicks-per-bucket), bounded by time
    *     density, NOT by a user's full click history; per-purchase
    *     argmax via the engine's [[graft.plans.GroupedTopK]] (k=1,
    *     hash-clustered, bounded heap, no sort);
    *  2. cross-bucket carry: best click per (user, bucket) — again
    *     GroupedTopK over raw clicks — then a running max over the
    *     per-user BUCKET SUMMARIES (#buckets rows per user, not
    *     #clicks) gives "best click in any strictly earlier bucket";
    *  3. assemble: each purchase takes the greater of its in-bucket
    *     best and its bucket's carry (struct compare = (ts, event)
    *     lexicographic, the exact tie rule).
    * Every stage is an equi-shuffle on (user, bucket) or a summary-
    * sized window; nothing scales with clicks-per-user. Exactness at
    * any `bucketSeconds` is property-tested against the single-window
    * form (AsofParitySpec). */
  def asofJoinOn(events: DataFrame, bucketSeconds: Long = 3600): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_event"),
        expr(s"unix_timestamp(ts) div $bucketSeconds").as("bucket"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("c_event"),
        expr(s"unix_timestamp(ts) div $bucketSeconds").as("bucket"))

    // (2a) best click per (user, bucket): bounded heap, no sort
    val bucketBest = TopK.perKey(clicks, Seq("user_id", "bucket"),
        Seq("c_ts" -> true, "c_event" -> true), 1)
      .select(col("user_id"), col("bucket"),
        col("c_ts").as("bb_ts"), col("c_event").as("bb_event"))

    // (2b) carry: running max over per-user bucket summaries, on the
    // grid of every (user, bucket) either side touches — so a purchase
    // bucket with no clicks still sees the carry from older buckets
    val grid = purchases.select(col("user_id"), col("bucket"))
      .union(clicks.select(col("user_id"), col("bucket"))).distinct()
    val wPrev = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = grid.join(bucketBest, Seq("user_id", "bucket"), "left")
      .withColumn("carry", max(when(col("bb_ts").isNotNull,
        struct(col("bb_ts").as("c_ts"), col("bb_event").as("c_event"))))
        .over(wPrev))
      .select(col("user_id"), col("bucket"), col("carry"))

    // (1) in-bucket candidates + per-purchase argmax
    val c2 = clicks.select(col("user_id").as("cu"), col("bucket").as("cb"),
      col("c_ts"), col("c_event"))
    val inCand = purchases.join(c2,
        col("user_id") === col("cu") && col("bucket") === col("cb") &&
          col("c_ts") <= col("p_ts"))
      .select(col("p_event"), col("c_ts"), col("c_event"))
    val inBest = TopK.perKey(inCand, Seq("p_event"),
        Seq("c_ts" -> true, "c_event" -> true), 1)
      .select(col("p_event"), col("c_ts").as("i_ts"), col("c_event").as("i_event"))

    // (3) assemble; purchases with no prior click drop (inner-join contract)
    purchases
      .join(inBest, Seq("p_event"), "left")
      .join(carry, Seq("user_id", "bucket"), "left")
      .withColumn("best", greatest(
        when(col("i_ts").isNotNull,
          struct(col("i_ts").as("c_ts"), col("i_event").as("c_event"))),
        col("carry")))
      .filter(col("best").isNotNull)
      .select(col("user_id"), col("p_event"), col("p_ts"),
        col("best.c_event").as("c_event"), col("best.c_ts").as("c_ts"))
      .orderBy(col("p_event"))
  }

  def asofJoin(spark: SparkSession, dir: String): DataFrame =
    asofJoinOn(Tables.events(spark, dir))

  /** Conversion-funnel analysis over the events stream: per user, the
    * FIRST view, then the first click strictly after it, then the first
    * purchase strictly after that — the ordered-sequence semantics a
    * MATCH_RECOGNIZE engine would express, built from three bounded-heap
    * argmins ([[graft.plans.GroupedTopK]] k=1 per user — no per-user
    * sort). "After" compares (ts, event_id) tuples so simultaneous
    * timestamps resolve deterministically. Output: one row per stage
    * with the surviving-user count and conversion from stage 1.
    *
    * Scale (100 TB): each stage is an equi-shuffle on user_id followed
    * by a k=1 bounded heap; the stage tables shrink monotonically, and
    * the stage-2/3 joins carry only (user, first-event) summaries —
    * never a user's full history. */
  def funnelOn(events: DataFrame): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    def firstOf(df: DataFrame): DataFrame =
      TopK.perKey(df, Seq("user_id"),
          Seq("ts" -> false, "event_id" -> false), 1)
        .select(col("user_id"), col("ts"), col("event_id"))
    val v = firstOf(ev.filter(col("event_type") === "view"))
    val c = firstOf(ev.filter(col("event_type") === "click")
      .join(v.select(col("user_id"), col("ts").as("v_ts"),
        col("event_id").as("v_event")), Seq("user_id"))
      .filter(struct(col("ts"), col("event_id")) >
        struct(col("v_ts"), col("v_event"))))
    val p = firstOf(ev.filter(col("event_type") === "purchase")
      .join(c.select(col("user_id"), col("ts").as("c_ts"),
        col("event_id").as("c_event")), Seq("user_id"))
      .filter(struct(col("ts"), col("event_id")) >
        struct(col("c_ts"), col("c_event"))))
    val stages = Seq("1_view" -> v, "2_click" -> c, "3_purchase" -> p)
    val counts = stages.map { case (name, df) =>
      df.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"),
        col("n_users"))
    }.reduce(_.unionByName(_))
    val base = v.agg(count(lit(1)).as("base_users"))
    counts.crossJoin(broadcast(base))
      .select(col("stage"), col("n_users"),
        round(col("n_users").cast("double") / col("base_users"), 6)
          .as("conversion"))
      .orderBy(col("stage"))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame =
    funnelOn(Tables.events(spark, dir))

  /** Time-bounded conversion: per user, the first view and the first
    * purchase within `horizon` AFTER it — attribution with a deadline
    * (the unbounded [[funnelOn]] answers "ever converted"; real
    * attribution windows expire). "After" compares (ts, event_id)
    * tuples (deterministic at equal timestamps); the horizon bound is
    * inclusive. One row per viewing user, converted or not — the
    * denominator stays visible.
    *
    * Scale: first-view via the k=1 bounded heap, then ONE equi-join on
    * user_id carrying (user, first-view) summaries against the
    * purchase slice — the horizon predicate prunes post-join; per-user
    * fan-in is that user's purchase count, never a cross of
    * histories. */
  def funnelWindowed(spark: SparkSession, dir: String,
      horizon: String = "1 hour"): DataFrame =
    funnelWindowedOn(Tables.events(spark, dir), horizon)

  /** [[funnelWindowed]] over an explicit frame — fixture-testable. */
  private[graft] def funnelWindowedOn(events: DataFrame,
      horizon: String): DataFrame = {
    val ev = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val v = TopK.perKey(ev.filter(col("event_type") === "view"),
        Seq("user_id"), Seq("ts" -> false, "event_id" -> false), 1)
      .select(col("user_id"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
    val firstP = TopK.perKey(
        ev.filter(col("event_type") === "purchase")
          .join(v, Seq("user_id"))
          .filter(struct(col("ts"), col("event_id")) >
            struct(col("v_ts"), col("v_event")) &&
            col("ts") <= col("v_ts") + expr(s"INTERVAL $horizon")),
        Seq("user_id"), Seq("ts" -> false, "event_id" -> false), 1)
      .select(col("user_id"), col("ts").as("p_ts"))
    v.join(firstP, Seq("user_id"), "left")
      .select(col("user_id"), col("v_ts"), col("p_ts"),
        col("p_ts").isNotNull.as("converted"))
      .orderBy(col("user_id"))
  }

  /** Daily cohort-retention matrix over the events stream: cohort =
    * each user's first active day; cell (cohort, offset) = how many of
    * that cohort were active `offset` days later. The canonical
    * engagement analysis — two hash aggregations (distinct activity,
    * per-user min) and one matrix aggregation, all on high-cardinality
    * keys; output is O(days²). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    // one events scan: the distinct (user, day) activity grid feeds
    // cohorts, sizes, and the matrix join from a single materialization
    val act = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
      .pin(eager = true)
    val cohorts = act.groupBy(col("user_id")).agg(min(col("d")).as("c"))
    val sizes = cohorts.groupBy(col("c")).agg(count(lit(1)).as("cohort_size"))
    act.join(cohorts, Seq("user_id"))
      .withColumn("day_offset", datediff(col("d"), col("c")).cast("long"))
      .groupBy(col("c"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("c"))
      .select(col("c").as("cohort_date"), col("day_offset"),
        col("n_active"), col("cohort_size"),
        round(col("n_active").cast("double") / col("cohort_size"), 6)
          .as("retention"))
      .orderBy(col("cohort_date"), col("day_offset"))
  }

  /** Heavy-hitter (join-key skew) report — the diagnostic a pipeline
    * runs BEFORE choosing [[Skew.saltedJoin]]/AQE settings: the top-k
    * hottest join keys with their share of all rows and their multiple
    * of the average key's load (a key at 100× average is the one that
    * melts a shuffle task). One count aggregation (map-side combine) on
    * the key; the stats derive from the O(#keys) aggregate,
    * materialized once; the multiple is integer math (rows × keys /
    * total) computed with the cast BEFORE the product — n_rows × n_keys
    * as a BIGINT product silently wraps at the corpus sizes this
    * diagnostic exists for (10^12-row hot key × 10^7 keys), where the
    * double product is exact to 53 bits and the oracle agrees. */
  def keySkew(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val counts = Tables.lineitem(spark, dir)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_rows"))
      .pin(eager = true) // O(#keys); stats + top-k both read it
    val stats = counts.agg(sum(col("n_rows")).as("total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(stats))
      .select(col("l_suppkey"), col("n_rows"),
        round(col("n_rows").cast("double") / col("total"), 6)
          .as("pct_of_total"),
        round(col("n_rows").cast("double") * col("n_keys") / col("total"), 6)
          .as("x_vs_avg"))
      .orderBy(col("n_rows").desc, col("l_suppkey"))
      .limit(k)
  }

  /** Sketch-based approximations (HLL++ count-distinct, GK quantiles) —
    * the constant-memory forms of A6/rel_quantiles for 100 TB cardinality
    * work. Sketch layouts are engine-specific, so the row is registered
    * in SELF-CHECKING form: exact columns the oracle recomputes, plus
    * booleans asserting each estimate landed inside its documented error
    * bound (HLL++ at rsd 2% checked against a 5% bound — the default 5%
    * rsd is a 1-sigma figure and genuinely exceeds 5% on one sf0.01
    * group; GK at accuracy 1000 ⇒ rank error 0.1%, checked as ≤1% of
    * the value). The oracle states the booleans as TRUE — a sketch
    * regression flips a bit and breaks the hash. */
  def approxStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // the exact-median reference comes from the distributed
    // distinct-value scan, not the one-buffer percentile aggregate —
    // at 100 TB the sketches are the product and the reference must
    // not be the thing that OOMs first
    val med = Quantiles.exactPercentilesBy(
        li.select(col("l_returnflag"), col("l_extendedprice").as("v")),
        Seq("l_returnflag"), Seq(0.5))
      .select(col("l_returnflag"), element_at(col("bs"), 1).as("exact_median"))
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median"))
      .join(broadcast(med), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("exact_orders"),
        round(col("exact_median"), 6).as("exact_median_price"),
        (abs(col("approx_orders") - col("exact_orders")) <=
          col("exact_orders") * lit(0.05)).as("hll_within_5pct"),
        (abs(col("approx_median") - col("exact_median")) <=
          col("exact_median") * lit(0.01)).as("gk_median_within_1pct"))
      .orderBy(col("l_returnflag"))
  }

  /** TPC-H Q18-shape large-volume orders: the HAVING-subquery semi-join.
    * The per-order quantity aggregate runs FIRST (one shuffle on
    * l_orderkey, partial map-side combine), its >threshold filter lands
    * on the aggregate output — the classic semi-join reduction that
    * shrinks the probe side to the qualifying orders before either
    * dimension join. Both remaining joins are equi-shuffles on their
    * keys; the global top-100 plans as TakeOrderedAndProject. Reference
    * analog: the dashboard's top-k drill-downs (`app.py:79-95`) composed
    * with a grouped-HAVING predicate. */
  def bigOrders(spark: SparkSession, dir: String,
      minQty: Double = 300.0): DataFrame = {
    val bigKeys = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(decSum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    Tables.orders(spark, dir)
      .join(bigKeys, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** TPC-H Q21-shape "suppliers who kept orders waiting": per supplier,
    * the count of its LATE lines (shipped > `lateDays` after the order
    * date — this schema carries no commit/receipt dates) in
    * multi-supplier orders where it was the ONLY late supplier. The
    * oracle states the classic doubly-correlated form (EXISTS another
    * supplier in the order AND NOT EXISTS another LATE supplier); the
    * engine runs the decorrelated plan — two per-order distinct-count
    * aggregates (all suppliers, late suppliers) equi-joined back to the
    * late lines, with `ns >= 2 AND nl = 1` exactly encoding the two
    * correlated predicates (the late line's own supplier is always in
    * the late set, so nl = 1 ⇔ no OTHER late supplier). Hash equality
    * proves the decorrelation exact. Everything is an equi-join on the
    * high-cardinality orderkey; the supplier dim broadcasts. */
  def lateSuppliers(spark: SparkSession, dir: String,
      lateDays: Int = 90, k: Int = 10): DataFrame =
    lateSuppliersOn(
      Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate")),
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderdate")),
      Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name")),
      lateDays, k)

  /** [[lateSuppliers]] over explicit frames — fixture-testable. */
  private[graft] def lateSuppliersOn(l: DataFrame, o: DataFrame,
      supplier: DataFrame, lateDays: Int, k: Int): DataFrame = {
    val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") >
        col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .pin() // read twice: the per-order agg and the rows
    val orderSupp = l.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("ns"))
    val lateSupp = late.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("nl"))
    late.join(orderSupp, Seq("l_orderkey"))
      .join(lateSupp, Seq("l_orderkey"))
      .filter(col("ns") >= 2 && col("nl") === 1)
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(k)
  }

  /** TPC-H Q22-shape idle high-balance customers: a scalar aggregate
    * subquery (global average balance — one tiny broadcast row) gates
    * the customer scan, then a NOT EXISTS anti-join against recent
    * orders drops anyone who ordered after the cutoff. The anti-join is
    * Spark's left_anti on o_custkey — no row multiplication; the orders
    * side is date-filtered BEFORE the join so the anti probe carries
    * only the recent slice. Output is O(nations). */
  def idleCustomers(spark: SparkSession, dir: String,
      cutoff: String = "1998-01-01"): DataFrame = {
    val customer = Tables.customer(spark, dir)
    // decimal-exact global mean: order-independent, one broadcast row
    val stats = customer.filter(col("c_acctbal") > 0)
      .agg((decSum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey"))
    customer.crossJoin(broadcast(stats))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        decSum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("n_name"))
  }

  /** TPC-H Q17-shape small-quantity revenue: the correlated scalar
    * subquery (per-part average quantity) decorrelated the way every
    * engine's optimizer does it — compute the per-key aggregate once
    * (one shuffle on l_partkey, map-side partial combine), then
    * equi-join it back and filter. The brand-filtered part dim
    * broadcasts as a semi-join reduction BEFORE the aggregate, so the
    * per-part averages are only computed for the ~1/25 of parts that
    * can qualify. The average itself is decimal-exact (sum/count), so
    * the 0.2× threshold is bit-identical across engines. */
  def smallQtyRevenue(spark: SparkSession, dir: String,
      brand: String = "Brand#1"): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") === brand).select(col("p_partkey"))
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
    val avgQ = li.groupBy(col("l_partkey"))
      .agg((decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(avgQ, Seq("l_partkey"))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .agg((decSum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** Supplier revenue through [[Skew.saltedJoin]] — the skew-mitigation
    * technique registered as an oracle row: the DuckDB oracle states the
    * PLAIN join, so the hash check proves salting is value-invisible
    * (rows identical, only the shuffle layout changes). The salt spreads
    * each supplier key's lineitem rows across 8 tasks — the plan shape
    * for a hot key too large for one task where AQE skew-split can't
    * reach (e.g. under a stateful streaming join). */
  def saltedSupplierRevenue(spark: SparkSession, dir: String,
      nSalts: Int = 8): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s_suppkey"), col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val supp = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_name"))
    Skew.saltedJoin(li, supp, "s_suppkey", col("l_orderkey"), nSalts)
      .groupBy(col("s_name"))
      .agg(decSum(col("rev")).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("s_name"))
      .limit(10)
  }

  /** Order counts + revenue by (status, priority) with ROLLUP subtotals. */
  def ordersRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Count-Min Sketch frequency estimation over event user_ids: the
    * constant-memory heavy-key summary (sketch size O(1/eps), collected
    * to the driver — that IS the operator's contract, unlike a
    * collect of the data). Deterministic via fixed seed. Registered in
    * SELF-CHECKING form: the exact counts (oracle-able) plus booleans
    * asserting the CMS contract — estimates never undercount, and
    * overcount ≤ eps·N (eps = 0.001). The oracle states the booleans as
    * TRUE, so a sketch regression breaks the hash. */
  def cmsUserCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
    val sketch = events.stat.countMinSketch("user_id",
      eps = 0.001, confidence = 0.99, seed = 42)
    val epsBound = math.ceil(sketch.totalCount * 0.001).toLong
    val est = (1L to 20L).map(u =>
      (u, sketch.estimateCount(java.lang.Long.valueOf(u))))
      .toDF("user_id", "cms_estimate")
    val exact = events.filter(col("user_id").between(1, 20))
      .groupBy(col("user_id")).agg(count(lit(1)).as("exact_count"))
    est.join(exact, Seq("user_id"), "left")
      .na.fill(0, Seq("exact_count"))
      .select(col("user_id"), col("exact_count"),
        (col("cms_estimate") >= col("exact_count"))
          .as("cms_never_undercounts"),
        (col("cms_estimate") - col("exact_count") <= lit(epsBound))
          .as("cms_within_eps"))
      .orderBy(col("user_id"))
  }

  /** Monthly revenue with lag/first_value analytics (MoM growth, index
    * vs first month). The window is global but runs on POST-aggregation
    * rows (#months), so the single-partition sort is trivially small at
    * any input scale. */
  def monthlyGrowth(spark: SparkSession, dir: String): DataFrame = {
    // the month is materialized as a named column BEFORE the groupBy
    // so the plan audit can see the bounded grouping key by name (an
    // inline expression groups as an anonymous `_groupingexpression`)
    val monthly = Tables.orders(spark, dir)
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .groupBy(col("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy(col("month"))
    val wFirst = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .select(col("month"), col("revenue"), col("n_orders"),
        round((col("revenue") - lag(col("revenue"), 1).over(w)) /
          lag(col("revenue"), 1).over(w) * 100, 6).as("growth_pct"),
        round(col("revenue") / first_value(col("revenue")).over(wFirst), 6)
          .as("vs_first"))
      .orderBy(col("month"))
  }

  /** Equi-width price histogram — the distribution profile behind
    * partition-sizing and skew decisions. The bucket formula is stated
    * explicitly (floor((v−lo)/(hi−lo)·n), top edge clamped) rather than
    * `width_bucket` so both engines evaluate the identical IEEE
    * expression (DuckDB has no width_bucket; an equivalent-but-
    * differently-associated form could flip edge values across
    * buckets). Bounds are a separate O(1) aggregate broadcast into the
    * assignment, so the histogram is two passes at any scale. */
  def priceHistogram(spark: SparkSession, dir: String,
      nBuckets: Int = 10): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    val bounds = li.agg(min(col("l_extendedprice")).as("lo"),
      max(col("l_extendedprice")).as("hi"))
    li.crossJoin(broadcast(bounds))
      // degenerate range (hi == lo, e.g. a single-price partition):
      // the divide is 0/0 — NULL in Spark's non-ANSI mode but NaN
      // through DuckDB's IEEE floor/least, so both engines state the
      // same explicit CASE → bucket 0
      .select(when(col("hi") === col("lo"), lit(0L)).otherwise(least(
        floor((col("l_extendedprice") - col("lo")) /
          (col("hi") - col("lo")) * nBuckets),
        lit(nBuckets - 1)).cast("long")).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_items"))
      .orderBy(col("bucket"))
  }

  /** Equal-FREQUENCY price deciles — the profile dual of the
    * equal-width [[priceHistogram]]: bucket boundaries are the exact
    * 0.1..0.9 quantiles (computed on the BOUNDED distinct-price
    * aggregate, broadcast), and each row's decile is the COUNT OF
    * BOUNDARIES BELOW IT — a map-side sum of nine comparisons, no
    * sort, no ntile window over the data. Boundaries are rounded to
    * the shared 6dp grid before comparison; rows exactly ON a boundary
    * go low (strict >), the same stated rule both engines apply — so
    * decile populations are near-equal, not exactly equal, on tied
    * data. */
  def priceDeciles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_extendedprice"))
    // exact boundaries from the bounded distinct-price aggregate, not
    // the one-reducer `percentile` buffer — see [[Quantiles]]
    // rounded once on the one-row bounds frame, not per fact row
    // (Spark rounds doubles through BigDecimal)
    val bounds = Quantiles.exactPercentiles(
        li.select(col("l_extendedprice").as("v")), (1 to 9).map(_ / 10.0))
      .select(transform(col("bs"), b => round(b, 6)).as("bs"))
    val decile = (1 to 9).map(i =>
      (col("l_extendedprice") > element_at(col("bs"), i)).cast("long"))
      .reduce(_ + _)
    li.crossJoin(broadcast(bounds))
      .select(decile.as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_items"))
      .orderBy(col("decile"))
  }

  /** Set operations — INTERSECT and EXCEPT registered explicitly:
    * customers who ordered in BOTH 1996 and 1997 (intersect) and those
    * who ordered in 1996 but never again after (except). Spark plans
    * both as semi/anti aggregates over the distinct key sets — no row
    * multiplication. */
  def customerSetOps(spark: SparkSession, dir: String): DataFrame = {
    // ONE fact scan: the (custkey, year) distinct grid — O(customers ×
    // years) — materialized once; every cohort derives from it (the
    // set operators otherwise re-plan the orders scan per side, 8
    // scans at this query's shape)
    val byYear = Tables.orders(spark, dir)
      .select(col("o_custkey"), year(col("o_orderdate")).as("yr"))
      .distinct()
      .pin(eager = true)
    def buyers(y: Int) = byYear.filter(col("yr") === y).select(col("o_custkey"))
    val later96 = byYear.filter(col("yr") > 1996)
      .select(col("o_custkey")).distinct()
    val both = buyers(1996).intersect(buyers(1997))
      .select(lit("both_96_97").as("cohort"), col("o_custkey"))
    val churned = buyers(1996).except(later96)
      .select(lit("churned_after_96").as("cohort"), col("o_custkey"))
    both.unionByName(churned)
      .orderBy(col("cohort"), col("o_custkey"))
  }

  /** FULL OUTER join — per-nation customer vs supplier balance totals,
    * nations present on EITHER side retained (the reconciliation-report
    * join shape). Both inputs are O(nations) aggregates, so the outer
    * join runs on summary-sized tables regardless of corpus scale. */
  def nationBalanceSheet(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(decSum(col("c_acctbal")).as("cust_bal"),
        count(lit(1)).as("n_customers"))
    val supp = Tables.supplier(spark, dir)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(decSum(col("s_acctbal")).as("supp_bal"),
        count(lit(1)).as("n_suppliers"))
    cust.join(supp, Seq("nationkey"), "full_outer")
      .join(broadcast(Tables.nation(spark, dir)),
        col("nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("supp_bal"), lit(0.0)).as("supp_bal"))
      .orderBy(col("n_name"))
  }

  /** Explicit GROUPING SETS — the two single-dimension marginals in one
    * pass (the subset of CUBE a dashboard actually wants, at half the
    * aggregation fan-out): per-status totals and per-priority totals,
    * each with the other dimension NULL. */
  def ordersGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** CUBE over (status, priority): all four grouping sets. */
  def ordersCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Trailing-90-day spend per customer order — the RANGE-frame window
    * (frame bounded by ORDER-BY VALUE distance, not row count: however
    * many orders fall in the last 90 days, they're all in). Spark wants
    * a numeric range key, so the frame orders by epoch seconds; the
    * oracle states the identical integral-seconds frame. The windowed
    * money sum goes through DECIMAL so segment-tree (DuckDB) vs
    * running-frame (Spark) addition order can't diverge; peers at the
    * same timestamp get identical totals by RANGE semantics, and the
    * (o_custkey, epoch, o_orderkey) output order is total. */
  def trailingSpend(spark: SparkSession, dir: String,
      days: Int = 90): DataFrame =
    trailingSpendOn(Tables.orders(spark, dir), days)

  /** [[trailingSpend]] over an explicit frame — fixture-testable. */
  private[graft] def trailingSpendOn(orders: DataFrame,
      days: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("order_epoch"))
      .rangeBetween(-days.toLong * 86400L, 0L)
    orders
      .withColumn("order_epoch", unix_timestamp(col("o_orderdate")))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(col("o_totalprice").cast("decimal(18,4)")).over(w)
          .cast("double").as("trailing_spend"),
        count(lit(1)).over(w).as("trailing_orders"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Rolling engagement: DAU and 7-day WAU per observed day. The naive
    * WAU is a 7-way self-join (or a sliding count-distinct window,
    * which no engine does map-side); the scalable rewrite EXPLODES each
    * (user, active-day) into the 7 report days it contributes to, then
    * distinct-counts once — O(7·|activity|) rows, every shuffle on a
    * high-cardinality key, no self-join. The DuckDB oracle states the
    * naive range-join form, so hash equality proves the contribution
    * rewrite exact. Report days are inner-joined back to OBSERVED days
    * (the explode invents days past each activity burst). */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame =
    rollingActiveUsersOn(Tables.events(spark, dir))

  /** [[rollingActiveUsers]] over an explicit frame — fixture-testable. */
  private[graft] def rollingActiveUsersOn(events: DataFrame): DataFrame = {
    val act = events
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
      .distinct()
      .pin() // read three times: days, dau, contributions
    val days = act.select(col("d")).distinct()
    val dau = act.groupBy(col("d"))
      .agg(countDistinct(col("user_id")).as("dau"))
    val wau = act
      .select(col("user_id"), explode(sequence(col("d"),
        col("d") + expr("INTERVAL 6 DAYS"),
        expr("INTERVAL 1 DAY"))).as("rd"))
      .distinct() // a user active twice in one window contributes once
      .join(days, col("rd") === col("d"), "left_semi")
      .groupBy(col("rd"))
      .agg(countDistinct(col("user_id")).as("wau"))
    days.join(dau, Seq("d"))
      .join(wau, col("rd") === col("d"))
      .select(col("d").as("day"), col("dau"), col("wau"))
      .orderBy(col("day"))
  }

  /** TPC-H Q6-shape forecasting-revenue-change: the canonical
    * filter-everything-aggregate-once scan. No join, no shuffle beyond
    * the final single-row combine — at any scale this is one pass with
    * every predicate pushed into the parquet reader (shipdate range,
    * discount band, quantity cap all show in `PushedFilters`). */
  def revenueDelta(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(decSum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q10-shape returned-item reporting: customers ranked by
    * revenue lost to returns (l_returnflag = 'R') for orders placed in
    * one quarter. The orders scan is date-filtered BEFORE the fact join
    * (~1/28 of orders), lineitem filters on the return flag at the scan,
    * the nation dim broadcasts, and the final top-20 lowers to
    * TakeOrderedAndProject — no global sort materializes. */
  def returnedItems(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /** TPC-H Q13-shape customer order-count distribution: how many
    * customers placed exactly N qualifying orders, INCLUDING the
    * zero-order customers — which is why the join must be LEFT OUTER
    * with the order-side predicate in the JOIN CONDITION (a WHERE would
    * silently drop the zero bucket). Two shuffles total: the outer join
    * on custkey, then the O(#distinct-counts) distribution aggregate. */
  def orderCountDist(spark: SparkSession, dir: String): DataFrame =
    orderCountDistOn(
      Tables.customer(spark, dir).select(col("c_custkey")),
      Tables.orders(spark, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey")))

  /** [[orderCountDist]] over explicit frames — fixture-testable. The
    * order-side predicate must already be applied to `orders`:
    * filtering after the outer join would erase the zero bucket. */
  private[graft] def orderCountDistOn(customer: DataFrame,
      orders: DataFrame): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q19-shape disjunctive-predicate revenue: three OR'd
    * (brand, size-range, quantity-band) conjunct groups. The part-only
    * disjunction (brand+size) is applied to the part dim BEFORE the
    * broadcast join and the derivable quantity envelope (1..30, the
    * union of the three bands) is pushed to the lineitem scan — the
    * manual form of the OR-predicate factoring Catalyst can't always
    * derive, so the join probes ~3 brands' parts instead of all. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val partPred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)) ||
      (col("p_brand") === "Brand#3") && col("p_size").between(1, 35)
    val fullPred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(1, 35) &&
        col("l_quantity").between(20, 30))
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").between(1, 30)) // envelope of the 3 bands
      .join(broadcast(Tables.part(spark, dir).filter(partPred)),
        col("l_partkey") === col("p_partkey"))
      .filter(fullPred)
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q15-shape top supplier(s): suppliers whose quarterly revenue
    * equals the maximum — ties kept, which is why this is a scalar-max
    * self-reference rather than LIMIT 1. The per-supplier aggregate is
    * computed ONCE and checkpointed; the global max folds that
    * O(#suppliers) summary to one broadcast row. Revenue equality is
    * exact: both sides reuse the same decimal-summed value. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame =
    topSupplierOn(
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp")),
      Tables.supplier(spark, dir))

  /** [[topSupplier]] over explicit frames — fixture-testable. */
  private[graft] def topSupplierOn(lineitem: DataFrame,
      supplier: DataFrame): DataFrame = {
    val revenue = lineitem
      .groupBy(col("l_suppkey"))
      .agg(decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
      .pin() // read twice: the max fold and the equality probe
    val best = revenue.agg(max(col("total_revenue")).as("max_revenue"))
    revenue.crossJoin(broadcast(best))
      .filter(col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q16-shape supplier diversity: distinct suppliers able to ship
    * each (brand, type, size) part class — with one brand excluded and
    * suppliers in deficit (negative balance, the "complaints" analog)
    * dropped via a broadcast ANTI join BEFORE the count-distinct, so
    * excluded suppliers never inflate the shuffle. Supply relationships
    * are derived from shipped lineitems (this schema has no partsupp). */
  def supplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val badSupp = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val parts = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#5" &&
        col("p_size").isin(1, 9, 19, 29, 39, 49))
    Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(badSupp), col("l_suppkey") === col("s_suppkey"),
        "left_anti")
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q8-shape market share: the target nation's share of ASIA's
    * ECONOMY-part import revenue, per order year. Both numerator and
    * denominator come from ONE pass as conditional decimal sums; the
    * share division is one IEEE op on exact inputs, rounded to the 6dp
    * grid both engines agree on. The tiny dims (nation, region, the
    * type-filtered part slice, supplier) broadcast; the region-filtered
    * customer keys do NOT — that's ~1/5 of a full-size dimension, so it
    * stays a shuffle equi-join on custkey alongside the orders⋈lineitem
    * fact join. */
  def marketShare(spark: SparkSession, dir: String,
      nation: String = "NATION_7"): DataFrame = {
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(Tables.region(spark, dir).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("supp_nation"))
    val ecoParts = Tables.part(spark, dir)
      .filter(col("p_type") === "ECONOMY").select(col("p_partkey"))
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .join(asiaCust, col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(ecoParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        decSum(when(col("supp_nation") === nation,
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .otherwise(lit(0.0))).as("nation_volume"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_volume"))
      .select(col("o_year"),
        round(col("nation_volume") / col("total_volume"), 6).as("mkt_share"),
        col("nation_volume"), col("total_volume"))
      .orderBy(col("o_year"))
  }

  /** Slowly-changing-dimension type-2 history from the events stream:
    * each value-bearing event becomes a versioned dimension row with a
    * half-open validity interval `[valid_from, valid_to)` — `valid_to`
    * is the next version's `valid_from` (LEAD over the per-user
    * timeline), NULL on the current row. The standard warehouse
    * dimension-history build: per-user intervals tile the timeline with
    * no gaps or overlaps by construction.
    *
    * Scale: one window over (user_id) — high-cardinality partitions,
    * each bounded by a user's own event count; no global window, no
    * join. NaN payloads are excluded up front (the P5 rule), so the
    * history only versions real observations. */
  def scd2History(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("valid_from"), col("event_id"))
    events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select("user_id", "version", "event_id", "value", "valid_from",
        "valid_to", "is_current")
      .orderBy(col("user_id"), col("version"))
  }

  /** SCD2 point-in-time (as-at) join — the query the versioned
    * dimension exists FOR: each purchase fact resolves to the dimension
    * version valid at its event time (`valid_from ≤ ts < valid_to`,
    * open current version included). The half-open tiling from
    * [[scd2History]] guarantees exactly one match per fact inside the
    * user's history (facts before the first version drop — inner-join
    * semantics, the warehouse default). Plan: equi-join on the user
    * key with the interval predicate as a post-filter — per-user
    * version counts are bounded by activity, so the candidate fan-out
    * is per-entity history, never corpus². */
  def pitJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    val dim = scd2History(events)
      .select(col("user_id").as("d_user"), col("version"),
        col("value").as("dim_value"), col("valid_from"), col("valid_to"))
    val facts = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("fact_id"), col("ts"))
    facts.join(dim,
        col("user_id") === col("d_user") &&
          col("ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")))
      .select(col("fact_id"), col("user_id"), col("ts"), col("version"),
        col("dim_value"))
      .orderBy(col("fact_id"))
  }

  /** Distributed skyline (Pareto frontier) per brand: the parts no other
    * same-brand part dominates on (p_retailprice ↓ better, p_size ↑
    * better). The multi-objective "best tradeoff set" query.
    *
    * Shape — the banded distinct-value scan (same family as
    * `Quantiles`): aggregate max(size) per DISTINCT (brand, price)
    * (map-side combine collapses duplicates before the shuffle), run the
    * running-max window over those distinct prices only, then join the
    * verdict back to the parts. A row is dominated iff a strictly
    * cheaper part has size ≥ its own (`prev_max`), or an equal-priced
    * part has size strictly greater (`price_max`); exact duplicates stay
    * on the frontier together (standard skyline tie semantics). No
    * global window: everything partitions by brand, and the window input
    * is the distinct-price table, not the data. */
  def partSkyline(spark: SparkSession, dir: String): DataFrame =
    partSkylineOn(Tables.part(spark, dir))

  private[graft] def partSkylineOn(part: DataFrame): DataFrame = {
    val parts = part
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
    val perPrice = parts
      .groupBy(col("p_brand"), col("p_retailprice"))
      .agg(max(col("p_size")).as("price_max"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val verdict = perPrice
      .withColumn("prev_max", max(col("price_max")).over(w))
    parts
      .join(verdict, Seq("p_brand", "p_retailprice"))
      .filter(!(coalesce(col("prev_max") >= col("p_size"), lit(false)) ||
        col("price_max") > col("p_size")))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
        col("p_size"))
      .orderBy(col("p_brand"), col("p_retailprice"), col("p_partkey"))
  }

  /** Market-basket co-occurrence: part pairs ordered together, with
    * support and lift — the association-rule mining primitive.
    *
    * Scale design (apriori pruning): items below the pair-support
    * threshold are filtered BEFORE the quadratic self-join — provably
    * result-invariant (a pair's support is ≤ either item's support), so
    * the oracle states the unpruned join and hash-equality proves the
    * optimization invisible. The per-order distinct-item dedup bounds
    * the join fan-out at (basket size choose 2); both join sides shuffle
    * once on the order key. Lift is computed from exact integer counts
    * at the end (one broadcast scalar for the order total). */
  def basketPairs(spark: SparkSession, dir: String,
      minSupport: Long = 2): DataFrame =
    basketPairsOn(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      minSupport)

  private[graft] def basketPairsOn(lineitem: DataFrame, orders: DataFrame,
      minSupport: Long = 2): DataFrame = {
    val items = lineitem
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val itemCounts = items.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_orders"))
    // apriori prune: only items that could reach the pair threshold
    val hot = items.join(
      itemCounts.filter(col("n_orders") >= minSupport)
        .select(col("l_partkey")),
      Seq("l_partkey"))
    val a = hot.select(col("l_orderkey"), col("l_partkey").as("part_a"))
    val b = hot.select(col("l_orderkey"), col("l_partkey").as("part_b"))
    val pairs = a.join(b, Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("pair_orders"))
      .filter(col("pair_orders") >= minSupport)
    val totalOrders = orders.agg(count(lit(1)).as("total_orders"))
    pairs
      .join(broadcast(itemCounts.select(col("l_partkey").as("part_a"),
        col("n_orders").as("orders_a"))), Seq("part_a"))
      .join(broadcast(itemCounts.select(col("l_partkey").as("part_b"),
        col("n_orders").as("orders_b"))), Seq("part_b"))
      .crossJoin(broadcast(totalOrders))
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"),
        round(col("pair_orders").cast("double") / col("total_orders"), 6)
          .as("support"),
        round(col("pair_orders").cast("double") * col("total_orders") /
          (col("orders_a") * col("orders_b")), 6).as("lift"))
      .orderBy(col("part_a"), col("part_b"))
  }

  /** Directional association rules from the basket pairs: both
    * confidences P(b|a) and P(a|b) beside support and lift — the
    * actionable half of rule mining ([[basketPairs]] reports the
    * symmetric measures; recommendations need the direction). Same
    * apriori-pruned pair counts, two extra exact integer ratios. */
  def basketRules(spark: SparkSession, dir: String,
      minSupport: Long = 2): DataFrame =
    basketPairsOn(Tables.lineitem(spark, dir), Tables.orders(spark, dir),
        minSupport)
      .select(col("part_a"), col("part_b"), col("pair_orders"),
        col("orders_a"), col("orders_b"), col("support"), col("lift"),
        round(col("pair_orders").cast("double") / col("orders_a"), 6)
          .as("conf_a_to_b"),
        round(col("pair_orders").cast("double") / col("orders_b"), 6)
          .as("conf_b_to_a"))
      .orderBy(col("part_a"), col("part_b"))

  /** First-order Markov transition matrix over the event stream: counts
    * and row-normalized probabilities of each consecutive
    * (event_type → next event_type) step per user timeline — the
    * path-analysis primitive behind funnels and next-action models.
    *
    * Scale: one LEAD window partitioned by user (high-cardinality,
    * per-partition size = one user's history), then a 25-row hash
    * aggregate; the probability normalization is a window over the
    * 5-row from_type marginals, not the data. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame =
    eventTransitionsOn(Tables.events(spark, dir))

  private[graft] def eventTransitionsOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val marginal = Window.partitionBy(col("from_type"))
    counts
      .select(col("from_type"), col("to_type"), col("n_transitions"),
        round(col("n_transitions").cast("double") /
          sum(col("n_transitions")).over(marginal), 6).as("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Churn window (days) for [[survivalKm]] — shared with the
    * oracle generator. */
  val KmChurnDays = 90

  /** Kaplan–Meier survival curve of customer lifetime (first→last
    * order): the product-limit estimator with right-censoring — a
    * customer whose last order falls inside the final [[KmChurnDays]]
    * days is censored (still alive), not an event — the churn curve a
    * retention stack reads instead of naive averages (which are
    * biased by exactly those censored customers). The risk set comes
    * from one exclusive cumulative window over the distinct-duration
    * table (bounded by the calendar, not the data); the running
    * product is exp(Σ ln(1−d/n)) with per-step terms on the 1e-12
    * decimal grid, so the curve is order-independent and bit-stable;
    * a step where everyone at risk dies pins the curve to exactly 0
    * from that duration on. */
  def survivalKm(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val cutoff = orders.agg(max(col("o_orderdate")).as("cutoff"))
    val cust = orders.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("f"),
        max(col("o_orderdate")).as("l"))
      .crossJoin(broadcast(cutoff))
      .select(datediff(col("l"), col("f")).cast("long").as("duration"),
        (col("l") < col("cutoff") - expr(s"INTERVAL $KmChurnDays DAYS"))
          .as("event"))
    val byDur = cust.groupBy(col("duration"))
      .agg(count(lit(1)).as("n_dur"),
        count(when(col("event"), 1)).as("n_events"))
    val tot = byDur.agg(sum(col("n_dur")).as("n_total"))
    val wPrev = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("duration"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_total") -
        coalesce(sum(col("n_dur")).over(wPrev), lit(0L)))
      .withColumn("dead_all",
        (col("n_events") === col("n_risk")).cast("int"))
      .withColumn("term", when(col("n_events") < col("n_risk"),
        round(log(lit(1.0) -
          col("n_events").cast("double") / col("n_risk")), 12)
          .cast("decimal(18,12)")))
      .select(col("duration"), col("n_risk"), col("n_events"),
        when(max(col("dead_all")).over(wCum) > 0, lit(0.0))
          .otherwise(round(exp(
            sum(col("term")).over(wCum).cast("double")), 6))
          .as("km_survival"))
      .orderBy(col("duration"))
  }

  /** Candidate periods (days) for [[seasonalityDft]] — shared with
    * the oracle generator. */
  val DftPeriods = Seq(7, 14, 30)

  /** Single-frequency DFT seasonality probe over the daily order
    * series: for each candidate period P, the Goertzel-style
    * projections a = Σ(x−x̄)·cos(2πt/P), b = Σ(x−x̄)·sin(2πt/P) and
    * the share of total variance that frequency captures — the
    * order-book seasonality detector (weekly/fortnightly/monthly
    * cycles) without materializing a full spectrum. The day index is
    * an exact integer from the min date; angles use t mod P so the
    * argument never grows with the time span; every projection term
    * rounds to the 1e-10 grid and decimal-sums (order-independent;
    * cos/sin of bit-identical small arguments agree across engines
    * like the roster's exp/ln do). One date-sized aggregate, one
    * broadcast of (d0, n, mean) — nothing data-sized after the daily
    * rollup. */
  def seasonalityDft(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderdate").as("d"))
      .agg(count(lit(1)).as("x"))
      .pin(eager = true)
    val glob = daily.agg(min(col("d")).as("d0"),
      count(lit(1)).as("nd"), sum(col("x")).as("sx"))
    val based = daily.crossJoin(broadcast(glob))
      .select(col("x"), col("nd"),
        datediff(col("d"), col("d0")).cast("long").as("t"),
        (col("x").cast("double") - col("sx").cast("double") / col("nd"))
          .as("xc"))
    val twoPi = 2 * math.Pi
    val perP = DftPeriods.map { p =>
      val ang = lit(twoPi) * (col("t") % p).cast("double") / lit(p)
      based
        .select(col("nd"),
          round(col("xc") * cos(ang), 10).cast("decimal(28,10)")
            .as("ca"),
          round(col("xc") * sin(ang), 10).cast("decimal(28,10)")
            .as("cb"),
          round(col("xc") * col("xc"), 10).cast("decimal(28,10)")
            .as("ss"))
        .groupBy(col("nd"))
        .agg(sum(col("ca")).cast("double").as("a"),
          sum(col("cb")).cast("double").as("b"),
          sum(col("ss")).cast("double").as("sst"))
        .select(lit(p).cast("long").as("period_days"),
          col("nd").as("n_days"),
          when(col("sst") > 0.0,
            round((col("a") * col("a") + col("b") * col("b")) /
              (col("nd") * col("sst")), 6)).as("power_share"))
    }
    perP.reduce(_ unionAll _).orderBy(col("period_days"))
  }

  /** Theil-T inequality decomposition of customer revenue by nation:
    * within-nation Theil per group, its revenue-share-weighted
    * contribution, and the between-nation term s_g·ln(μ_g/μ) — the
    * decomposable inequality measure (unlike Gini) that answers "is
    * revenue concentration a within-market or a cross-market
    * phenomenon". Per-customer revenues are decimal-exact sums; every
    * (x/μ)·ln(x/μ) term rounds to the 1e-12 grid and decimal-sums per
    * nation (order-independent); group statistics ride a 25-row
    * broadcast back onto the customer table, so the only data-sized
    * shuffles are the revenue aggregate and one join on the customer
    * key. */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("x"))
      .filter(col("x") > 0.0)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
        Seq("o_custkey"))
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name"))),
        Seq("c_nationkey"))
      .pin(eager = true)
    val perNation = rev.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("s_g"))
    val tot = perNation.agg(sum(col("n_g")).as("n_tot"),
      sum(col("s_g").cast("decimal(28,6)")).cast("double").as("s_tot"))
    val stats = perNation.crossJoin(broadcast(tot))
      .select(col("n_name"), col("n_g"), col("s_g"), col("n_tot"),
        col("s_tot"),
        (col("s_g") / col("n_g")).as("mu_g"),
        (col("s_tot") / col("n_tot")).as("mu"))
    val withTerms = rev.join(broadcast(stats), Seq("n_name"))
      .select(col("n_name"), col("n_g"), col("s_g"), col("s_tot"),
        col("mu_g"), col("mu"),
        round((col("x") / col("mu_g")) * log(col("x") / col("mu_g")),
          12).cast("decimal(28,12)").as("t"))
    withTerms
      .groupBy(col("n_name"))
      .agg(max(col("n_g")).as("n_customers"),
        max(col("s_g") / col("s_tot")).as("share"),
        max(col("mu_g") / col("mu")).as("mr"),
        (sum(col("t")).cast("double") / max(col("n_g"))).as("tg"))
      .select(col("n_name"), col("n_customers"),
        round(col("share"), 6).as("rev_share"),
        round(col("mr"), 6).as("mean_ratio"),
        round(col("tg"), 6).as("theil_within"),
        round(col("share") * col("tg"), 6).as("within_contrib"),
        round(col("share") * log(col("mr")), 6).as("between_term"))
      .orderBy(col("n_name"))
  }

  /** Power iterations for [[markovStationary]] — shared with the
    * oracle generator. */
  val MarkovIters = 3

  /** Stationary distribution of the first-order event-type Markov
    * chain: [[MarkovIters]] unrolled power iterations of π·P from the
    * uniform start — "where does a user journey spend its time in the
    * long run", the summary statistic next-action models and funnel
    * prioritization read off the transition matrix. Transition
    * probabilities are exact integer-count ratios; each π_from·p term
    * rounds to the 1e-12 grid and decimal-sums per destination
    * (order-independent); a state with no out-transitions keeps its
    * own mass (the self-loop convention, stated identically by the
    * oracle). The state space is the event-type alphabet, so every
    * iteration is a tiny join — the heavy lifting is the one LEAD
    * window over per-user timelines, same scale shape as
    * [[eventTransitionsOn]]. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame =
    markovStationaryOn(Tables.events(spark, dir))

  private[graft] def markovStationaryOn(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
    val counts = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val marginal = Window.partitionBy(col("from_type"))
    val tp = counts
      .select(col("from_type"), col("to_type"),
        (col("n").cast("double") / sum(col("n")).over(marginal))
          .as("tp")).pin(eager = true)
    val states = tp.select(col("from_type").as("state"))
      .unionAll(tp.select(col("to_type").as("state")))
      .distinct().pin(eager = true)
    val nS = states.agg(count(lit(1)).as("ns"))
    val fromStates = tp.select(col("from_type").as("state")).distinct()
    var pi = states.crossJoin(broadcast(nS))
      .select(col("state"), (lit(1.0) / col("ns")).as("p"))
    (1 to MarkovIters).foreach { _ =>
      val inflow = pi.join(tp, pi("state") === tp("from_type"))
        .select(col("to_type").as("state"),
          round(col("p") * col("tp"), 12).cast("decimal(28,12)")
            .as("t"))
        .groupBy(col("state"))
        .agg(sum(col("t")).cast("double").as("inflow"))
      val kept = pi.join(fromStates, Seq("state"), "left_anti")
        .select(col("state"), col("p").as("keep"))
      pi = states.join(inflow, Seq("state"), "left")
        .join(kept, Seq("state"), "left")
        .select(col("state"),
          (coalesce(col("inflow"), lit(0.0)) +
            coalesce(col("keep"), lit(0.0))).as("p"))
    }
    pi.select(col("state").as("event_type"),
        round(col("p"), 6).as("stationary_prob"))
      .orderBy(col("event_type"))
  }

  /** Revenue-concentration (Pareto/80-20) report: the share of total
    * order revenue held by the top 1% / 5% / 10% of customers. The
    * percentile thresholds come from [[Quantiles.exactPercentiles]]'
    * banded distinct-value scan (never a one-buffer `percentile`
    * aggregate, never a global sort) and ride a one-row broadcast into
    * a single conditional aggregate over the per-customer revenue
    * table — two slim shuffles total at any customer count. */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("rev"))
    val ps = Seq(0.99, 0.95, 0.90)
    val bs = Quantiles.exactPercentiles(rev.select(col("rev").as("v")), ps)
    val aggs =
      Seq(decSum(col("rev")).as("total"), count(lit(1)).as("n_total")) ++
        ps.indices.flatMap(i => Seq(
          decSum(when(col("rev") >= col(s"t$i"), col("rev"))
            .otherwise(lit(0.0))).as(s"top$i"),
          count(when(col("rev") >= col(s"t$i"), 1)).as(s"n$i"),
          first(col(s"t$i")).as(s"th$i")))
    val wide = rev.crossJoin(broadcast(bs))
      .select(col("rev") +: ps.indices.map(i =>
        element_at(col("bs"), i + 1).as(s"t$i")): _*)
      .agg(aggs.head, aggs.tail: _*)
    wide
      .select(explode(array(ps.indices.map { i =>
        struct(
          lit(math.round((1 - ps(i)) * 100)).cast("long").as("top_pct"),
          round(col(s"th$i"), 6).as("threshold"),
          col(s"n$i").as("n_customers"),
          round(col(s"top$i") / col("total"), 6).as("revenue_share"))
      }: _*)).as("r"))
      .select(col("r.*"))
      .orderBy(col("top_pct"))
  }

  /** Gini coefficient of customer revenue — the inequality scalar the
    * concentration report's percentile slices summarize. Needs every
    * row's GLOBAL rank in revenue order; computed with the two-level
    * band scan (equal-width revenue bands from a one-row broadcast
    * min/max, per-band counts → metadata-sized exclusive prefix,
    * in-band row_number) — a global sort-rank WITHOUT a global sort:
    * no window ever spans more than one band. The rank-weighted sum
    * accumulates as DECIMAL (rank is an exact integer multiplier, so
    * the sum is order-independent); the closing Gini algebra is scalar
    * double math stated identically by the oracle. */
  def giniRevenue(spark: SparkSession, dir: String,
      nBands: Int = 128): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("rev"))
    val mm = rev.agg(min(col("rev")).as("lo"), max(col("rev")).as("hi"))
    val banded = rev.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col("rev") - col("lo")) / (col("hi") - col("lo")) * nBands),
          lit(nBands - 1L)).cast("long")))
    // exclusive band prefix over ≤ nBands slim rows (metadata-sized)
    val wo = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("bucket"))
      .agg(count(lit(1)).as("part"))
      .withColumn("offset", coalesce(sum(col("part")).over(wo), lit(0L)))
      .select(col("bucket"), col("offset"))
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(col("rev"), col("o_custkey"))
    val ranked = banded.join(broadcast(offsets), Seq("bucket"))
      .select(col("rev"),
        (col("offset") + row_number().over(wb)).cast("long").as("rank"))
    ranked
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev").cast("decimal(18,6)")).cast("double")
          .as("total_revenue"),
        sum(col("rev").cast("decimal(18,6)") * col("rank")).cast("double")
          .as("s"))
      .select(col("n_customers"), col("total_revenue"),
        round(lit(2.0) * col("s") /
          (col("n_customers") * col("total_revenue")) -
          (col("n_customers") + 1).cast("double") / col("n_customers"), 6)
          .as("gini"))
  }

  /** Fuzzy entity-resolution candidate pairs: distinct customer names
    * at Levenshtein distance exactly 1 — the typo/near-identical-entity
    * blocking step of any record-linkage pipeline.
    *
    * Scale design (FastSS deletion neighborhoods): the oracle states
    * the naive all-pairs `levenshtein(a,b) = 1` join (quadratic in the
    * name universe); the engine never builds it. Each name explodes
    * into its ≤ len single-deletion variants, and
    *   - a SUBSTITUTION pair shares the (position, variant) key —
    *     equality there means the names agree everywhere except that
    *     position, so distance is exactly 1 by construction;
    *   - an INSERT/DELETE pair is a variant-to-full-name equi match
    *     (the shorter name IS a deletion of the longer).
    * Both are plain equi joins on bounded-fanout keys (a bucket holds
    * the names sharing one deletion — typo-cluster-sized, not
    * corpus-sized); hash equality against the quadratic oracle proves
    * the blocking loses nothing. */
  def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    fuzzyPairsOf(Tables.customer(spark, dir)
      .select(col("c_name").as("name")))

  private[graft] def fuzzyPairsOf(rawNames: DataFrame): DataFrame = {
    val names = rawNames.distinct().pin(eager = true)
    val variants = names.select(col("name"),
      posexplode(expr(
        "transform(sequence(0, length(name) - 1)," +
          " i -> concat(substring(name, 1, i), substring(name, i + 2)))"))
        .as(Seq("pos", "variant")))
    val substitution = variants.as("a")
      .join(variants.as("b"), Seq("pos", "variant"))
      .filter(col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    val insertDelete = variants
      .join(names.select(col("name").as("short_name")),
        col("variant") === col("short_name"))
      .select(least(col("name"), col("short_name")).as("name_a"),
        greatest(col("name"), col("short_name")).as("name_b"))
    substitution.unionAll(insertDelete)
      .distinct()
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Entity resolution capstone: block → match → cluster. Customers
    * whose names sit within one edit of each other collapse into one
    * entity id (the component min custkey); untouched customers stay
    * their own entity. Composes [[fuzzyPairsOf]]'s deletion-
    * neighborhood matching with the size-adaptive connected-components
    * operator ([[Dedup.clustersBigStar]] — single-task union-find
    * below the edge threshold, O(log n) star rounds above), then one
    * left join restores the singletons.
    *
    * The closure runs at NAME grain, not customer grain (round-12; the
    * same rewrite the sf1 ORACLE needed): matching is a property of
    * the name string, so k customers sharing a name multiply every
    * name-pair into k² custkey edges — ~100× the edge set on
    * copy-multiplied data — while the name-id graph (nid = min custkey
    * per name) carries one edge per matched pair. Value-identical by
    * construction: (1) two custkeys are in one component iff their
    * names are name-graph-connected — same-name custkeys attach to the
    * same nid, and a name with no match stays out of the edge set in
    * BOTH forms (same-name customers with no fuzzy partner were never
    * merged by the custkey form either: no pair, no edge); (2) the
    * component's min custkey equals the min over its names' per-name
    * min custkeys (min of a union is the min of per-part mins) — so
    * `cluster_id = min nid` IS the stated entity id. Oracle unchanged;
    * hash-green at sf0.01/sf0.1/sf1. */
  def entityGroups(spark: SparkSession, dir: String): DataFrame =
    entityGroupsOf(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name")))

  private[graft] def entityGroupsOf(cust: DataFrame): DataFrame = {
    val pairs = fuzzyPairsOf(cust.select(col("c_name").as("name")))
    val nameIds = cust.groupBy(col("c_name"))
      .agg(min(col("c_custkey")).as("nid"))
      .pin(eager = true)
    val edges = pairs
      .join(nameIds.select(col("c_name").as("name_a"),
        col("nid").as("doc_a")), Seq("name_a"))
      .join(nameIds.select(col("c_name").as("name_b"),
        col("nid").as("doc_b")), Seq("name_b"))
      .select(col("doc_a"), col("doc_b"))
    val cc = Dedup.clustersBigStar(edges)
      .select(col("doc_id").as("nid"), col("cluster_id"))
    cust
      // left: a NULL name never matches a grouping key in a join, but
      // the custkey-form kept such rows as singletons — so must this
      .join(nameIds, Seq("c_name"), "left")
      .join(cc, Seq("nid"), "left")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("cluster_id"), col("c_custkey")).as("entity_id"))
      .orderBy(col("c_custkey"))
  }

  /** Top session paths — sequence mining lite: the most common ordered
    * event-type journeys (first `steps` events of each 30-minute-gap
    * session). Complements [[eventTransitions]]' first-order matrix
    * with full path counts.
    *
    * Session assignment is the lag/cumsum construction (new session at
    * gap ≥ 30 min, µs-exact) stated IDENTICALLY by the oracle — not
    * `session_window`, so there is no cross-engine boundary-semantics
    * gap to reconcile. Scale: both windows partition by user
    * (per-partition size = one user's history), the path aggregate is
    * a hash agg on the path string, and the top-N lowers to
    * TakeOrderedAndProject. */
  def topPaths(spark: SparkSession, dir: String, steps: Int = 5,
      topN: Int = 20): DataFrame =
    topPathsOn(Tables.events(spark, dir), steps, topN)

  private[graft] def topPathsOn(events: DataFrame, steps: Int = 5,
      topN: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = 30L * 60L * 1000000L
    val prev = lag(col("ts"), 1).over(w)
    val sess = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("ns",
        when(prev.isNull ||
          unix_micros(col("ts")) - unix_micros(prev) >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(cum))
    sess
      .groupBy(col("user_id"), col("sid"))
      .agg(concat_ws(">", slice(transform(
        sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))), s => s.getField("event_type")),
        1, steps)).as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(topN)
  }

  /** Benford first-digit screen over order totals — the classic fraud/
    * fabrication diagnostic: observed leading-digit shares vs Benford's
    * log₁₀(1+1/d) law, with per-digit χ² contributions.
    *
    * Digit extraction is STRING-exact: the 2-dp price becomes exact
    * integer cents (`round(p·100)` as BIGINT), whose decimal rendering
    * is identical in both engines — no `floor(log10(x))` at a
    * power-of-ten boundary, where libm implementations may differ by
    * an ulp. The Benford shares are Scala double literals interpolated
    * into the oracle SQL, so every scalar input is bit-shared. One
    * map-side pass + a 9-row aggregate. */
  def benfordScreen(spark: SparkSession, dir: String): DataFrame = {
    val shares = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val shareCol = shares.tail.foldLeft(
      when(col("digit") === 1, lit(shares.head._2))) {
      case (acc, (d, s)) => acc.when(col("digit") === d, lit(s))
    }
    val digits = Tables.orders(spark, dir)
      .select(expr("CAST(substring(CAST(CAST(round(o_totalprice * 100)" +
        " AS BIGINT) AS STRING), 1, 1) AS INT)").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val total = digits.agg(sum(col("n_obs")).as("n_total"))
    digits.crossJoin(broadcast(total))
      .withColumn("benford_share", shareCol)
      .select(col("digit").cast("long").as("digit"), col("n_obs"),
        round(col("n_obs").cast("double") / col("n_total"), 6)
          .as("obs_share"),
        round(col("benford_share"), 6).as("benford_share"),
        // explicit x*x, not pow(x,2): both engines state the same
        // multiply, dodging any libm pow ulp divergence
        round((col("n_obs") - col("n_total") * col("benford_share")) *
          (col("n_obs") - col("n_total") * col("benford_share")) /
          (col("n_total") * col("benford_share")), 6).as("chi2_term"))
      .orderBy(col("digit"))
  }

  /** Duplicate-payment screen: same-customer order pairs whose amounts
    * sit within 5% of each other inside a 7-day window — the
    * accounts-payable near-double-charge diagnostic.
    *
    * Scale design (banded similarity join on the amount axis): the
    * oracle states the per-customer quadratic comparison; the engine
    * joins on (custkey, amount band) instead, where the band is the
    * DIGIT LENGTH of the exact integer cents — pure integer/string
    * arithmetic, no `log` whose libm ulp could shift a boundary key
    * differently per engine. A ≤1.05 amount ratio is < 10×, so true
    * pairs never span more than ADJACENT bands: one side emits
    * {len−1, len, len+1} probes, the equi join's fan-out is
    * per-customer-per-decade (bounded), and each surviving pair is
    * matched exactly once before the exact ratio + date filter. */
  def duplicatePayments(spark: SparkSession, dir: String): DataFrame =
    duplicatePaymentsOn(Tables.orders(spark, dir))

  private[graft] def duplicatePaymentsOn(orders: DataFrame): DataFrame = {
    val o = orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        // NTZ footers → instant under the UTC session (unix_micros
        // rejects TIMESTAMP_NTZ); matches the oracle's ::TIMESTAMP
        col("o_orderdate").cast("timestamp").as("o_orderdate"))
      .withColumn("blen", length(
        expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)")))
    val a = o.select(col("o_custkey"), col("blen"),
      col("o_totalprice").as("price_a"),
      col("o_orderkey").as("order_a"), col("o_orderdate").as("date_a"))
    val b = o.select(col("o_custkey"),
      explode(array(col("blen") - 1, col("blen"), col("blen") + 1))
        .as("blen"),
      col("o_totalprice").as("price_b"),
      col("o_orderkey").as("order_b"), col("o_orderdate").as("date_b"))
    a.join(b, Seq("o_custkey", "blen"))
      .filter(col("order_a") < col("order_b") &&
        abs(col("price_a") - col("price_b")) <=
          lit(0.05) * greatest(col("price_a"), col("price_b")) &&
        abs(unix_micros(col("date_b")) - unix_micros(col("date_a"))) <=
          7L * 24 * 3600 * 1000000L)
      .select(col("o_custkey"), col("order_a"), col("order_b"),
        col("price_a"), col("price_b"), col("date_a"), col("date_b"))
      .orderBy(col("o_custkey"), col("order_a"), col("order_b"))
  }

  /** Cohort lifetime-value matrix — the revenue twin of the retention
    * matrix: customers grouped by first-order month, each cohort's
    * per-month and cumulative revenue as the months-since-acquisition
    * offset grows. Month arithmetic is integer-exact (year·12+month),
    * money rides DECIMAL sums end-to-end — the cumulative window runs
    * over the months² cohort/offset table (metadata-sized) and decimal
    * addition is associative, so it is order-independent too. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("ym"))
    val cohorts = o.groupBy(col("o_custkey"))
      .agg(min(col("ym")).as("cohort_ym"))
    val cells = o.join(cohorts, Seq("o_custkey"))
      .groupBy(col("cohort_ym"),
        (col("ym") - col("cohort_ym")).as("month_offset"))
      .agg(count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_active"),
        sum(col("o_totalprice").cast("decimal(18,6)")).as("rev_dec"))
    val w = Window.partitionBy(col("cohort_ym")).orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .select(col("cohort_ym"), col("month_offset"), col("n_orders"),
        col("n_active"),
        col("rev_dec").cast("double").as("revenue"),
        sum(col("rev_dec")).over(w).cast("double").as("cum_revenue"))
      .orderBy(col("cohort_ym"), col("month_offset"))
  }

  /** ABC (Pareto) classification of parts by revenue: class A = the
    * head of the ranking holding 80% of cumulative revenue, B to 95%,
    * C the tail — the inventory-prioritization standard.
    *
    * Needs every part's GLOBAL cumulative revenue share in descending
    * revenue order — computed as a distributed prefix sum with the
    * two-level band scan (per-band row counts AND decimal revenue
    * subtotals → metadata-sized descending prefix over the bands →
    * in-band window), never a global sort. Cumulative money stays
    * DECIMAL until the final share division, so class boundaries are
    * order-independent bit-exact. */
  def abcParts(spark: SparkSession, dir: String,
      nBands: Int = 128): DataFrame = {
    val dec = "decimal(18,6)"
    val rev = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"))
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast(dec)).as("rev_dec"))
      .select(col("l_partkey"), col("rev_dec"),
        col("rev_dec").cast("double").as("rev"))
    val mm = rev.agg(min(col("rev")).as("lo"), max(col("rev")).as("hi"),
      sum(col("rev_dec")).as("total_dec"))
    val banded = rev.crossJoin(broadcast(mm))
      .withColumn("bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col("rev") - col("lo")) / (col("hi") - col("lo")) * nBands),
          lit(nBands - 1L)).cast("long")))
    // descending prefix over ≤ nBands slim rows: revenue ABOVE my band
    val wo = Window.orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("bucket"))
      .agg(count(lit(1)).as("part_n"), sum(col("rev_dec")).as("part_rev"))
      .select(col("bucket"),
        coalesce(sum(col("part_n")).over(wo), lit(0L)).as("rank_off"),
        coalesce(sum(col("part_rev")).over(wo),
          lit(0).cast("decimal(28,6)")).as("rev_off"))
    val wb = Window.partitionBy(col("bucket"))
      .orderBy(col("rev").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offsets), Seq("bucket"))
      .select(col("l_partkey"), col("rev"), col("total_dec"),
        (col("rank_off") + row_number().over(
          Window.partitionBy(col("bucket"))
            .orderBy(col("rev").desc, col("l_partkey")))).cast("long")
          .as("rev_rank"),
        (col("rev_off") + sum(col("rev_dec")).over(wb)).as("cum_dec"))
      .select(col("l_partkey"), col("rev_rank"),
        round(col("rev"), 6).as("revenue"),
        round((col("cum_dec").cast("double")) /
          col("total_dec").cast("double"), 6).as("cum_share"),
        when(col("cum_dec").cast("double") / col("total_dec").cast("double")
          <= 0.80, "A")
          .when(col("cum_dec").cast("double") /
            col("total_dec").cast("double") <= 0.95, "B")
          .otherwise("C").as("abc_class"))
      .orderBy(col("rev_rank"))
  }

  /** Activity heatmap: event counts and shares by (day-of-week, hour)
    * — the load-profile / anomaly-baseline grid. One scan, a 7×24 hash
    * aggregate; the dow convention is Spark's 1=Sunday, which the
    * oracle states as `dow(ts) + 1`. */
  def activityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("n_events"))
    val tot = cells.agg(sum(col("n_events")).as("n_total"))
    cells.crossJoin(broadcast(tot))
      .select(col("dow"), col("hour_of_day"), col("n_events"),
        round(col("n_events").cast("double") / col("n_total"), 6)
          .as("share"))
      .orderBy(col("dow"), col("hour_of_day"))
  }

  /** Order-to-ship latency percentiles per order priority — the
    * fulfillment-SLO report. Latency in exact fractional days
    * (µs-integer delta over a double constant, deterministic per row);
    * the per-priority p50/p90/p99 ride the grouped banded
    * distinct-value scan ([[Quantiles.exactPercentilesBy]]) — never a
    * per-group one-reducer percentile buffer. */
  def shipLatency(spark: SparkSession, dir: String): DataFrame = {
    val lat = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate").cast("timestamp")
        .as("ship_ts"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_orderdate").cast("timestamp").as("order_ts")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        ((unix_micros(col("ship_ts")) - unix_micros(col("order_ts"))) /
          lit(86400000000.0)).as("v"))
    Quantiles.exactPercentilesBy(lat, Seq("o_orderpriority"),
      Seq(0.5, 0.9, 0.99))
      .select(col("o_orderpriority"),
        round(element_at(col("bs"), 1), 6).as("p50_days"),
        round(element_at(col("bs"), 2), 6).as("p90_days"),
        round(element_at(col("bs"), 3), 6).as("p99_days"))
      .orderBy(col("o_orderpriority"))
  }

  /** Column-profiling report over `orders` — per-column row/null/distinct
    * counts and typed min/max (numerics in `min_num`/`max_num`,
    * strings/formatted timestamps in `min_str`/`max_str`; the split
    * avoids cross-engine double→string formatting drift).
    *
    * Scale: ONE scan — all per-column aggregates sit in a single
    * multi-distinct aggregate (Catalyst plans one Expand ×6, partial
    * aggregation applies), and the wide one-row result is unpivoted on
    * the driver side of the plan via a literal-struct explode (6 rows,
    * no second scan). This is the data-quality profile a 100-TB
    * ingestion run emits per table without re-reading it per column. */
  /** Two-sample A/B analysis: Welch's t-statistic between the two
    * experiment arms (`user_id % 2` — the deterministic hash-split a
    * real assignment service produces) on event values, per event type.
    *
    * Float discipline: Σx and Σx² accumulate as DECIMAL(28,10)
    * (order-independent across any partitioning — the centroid-mean
    * mechanics), are cast to DOUBLE once, and every downstream scalar
    * (mean, variance, t, df) is deterministic double math stated
    * identically by the oracle; t/df are computed FROM the rounded
    * mean/var columns so both engines start from identical inputs.
    * One scan, one hash aggregate — conditional aggregates split the
    * arms without a self-join. */
  def abTest(spark: SparkSession, dir: String): DataFrame =
    abTestOn(Tables.events(spark, dir))

  private[graft] def abTestOn(events: DataFrame): DataFrame = {
    val dec = "decimal(28,10)"
    def armSum(arm: Int, e: org.apache.spark.sql.Column) =
      sum(when(pmod(col("user_id"), lit(2)) === arm, e).cast(dec))
        .cast("double")
    def armCnt(arm: Int) =
      count(when(pmod(col("user_id"), lit(2)) === arm, lit(1)))
    val base = events
      .filter(col("value").isNotNull && !isnan(col("value")))
      .groupBy(col("event_type"))
      .agg(
        armCnt(0).as("n_a"), armCnt(1).as("n_b"),
        armSum(0, col("value")).as("sx_a"),
        armSum(0, col("value") * col("value")).as("sxx_a"),
        armSum(1, col("value")).as("sx_b"),
        armSum(1, col("value") * col("value")).as("sxx_b"))
      .select(col("event_type"), col("n_a"), col("n_b"),
        // n>0 / n>1 guards: an empty or singleton arm must yield NULL,
        // not a DIVIDE_BY_ZERO under Spark 4's ANSI default
        when(col("n_a") > 0, round(col("sx_a") / col("n_a"), 6))
          .as("mean_a"),
        when(col("n_b") > 0, round(col("sx_b") / col("n_b"), 6))
          .as("mean_b"),
        when(col("n_a") > 1,
          round((col("sxx_a") - col("sx_a") * col("sx_a") / col("n_a")) /
            (col("n_a") - 1), 6)).as("var_a"),
        when(col("n_b") > 1,
          round((col("sxx_b") - col("sx_b") * col("sx_b") / col("n_b")) /
            (col("n_b") - 1), 6)).as("var_b"))
    val sea = col("var_a") / col("n_a")
    val seb = col("var_b") / col("n_b")
    val defined = col("var_a").isNotNull && col("var_b").isNotNull &&
      (sea + seb) > 0
    base
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("var_a"), col("var_b"),
        when(defined,
          round((col("mean_a") - col("mean_b")) / sqrt(sea + seb), 6))
          .as("t_stat"),
        when(defined,
          round((sea + seb) * (sea + seb) /
            (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1)),
            6)).as("welch_df"))
      .orderBy(col("event_type"))
  }

  /** Time-to-event: per signed-up user, the first purchase AFTER the
    * first signup and the exact µs delta — the conversion-latency /
    * survival primitive. Two keyed aggregates and one equi join on
    * user_id (non-converters kept by the left join). */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame =
    timeToConvertOn(Tables.events(spark, dir))

  private[graft] def timeToConvertOn(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"))
      .join(signups, Seq("user_id"))
      .filter(col("ts") > col("signup_ts"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_purchase_ts"))
    signups
      .join(purchases, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_ts"), col("first_purchase_ts"),
        (unix_micros(col("first_purchase_ts")) -
          unix_micros(col("signup_ts"))).as("us_to_convert"),
        col("first_purchase_ts").isNotNull.as("converted"))
      .orderBy(col("user_id"))
  }

  def ordersProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val tsFmt = "yyyy-MM-dd HH:mm:ss"
    val wide = o.agg(
      count(lit(1)).as("n_rows"),
      // numeric columns
      count(when(col("o_orderkey").isNull, 1)).as("nn_orderkey"),
      countDistinct(col("o_orderkey")).as("nd_orderkey"),
      min(col("o_orderkey")).cast("double").as("min_orderkey"),
      max(col("o_orderkey")).cast("double").as("max_orderkey"),
      count(when(col("o_custkey").isNull, 1)).as("nn_custkey"),
      countDistinct(col("o_custkey")).as("nd_custkey"),
      min(col("o_custkey")).cast("double").as("min_custkey"),
      max(col("o_custkey")).cast("double").as("max_custkey"),
      count(when(col("o_totalprice").isNull, 1)).as("nn_totalprice"),
      countDistinct(col("o_totalprice")).as("nd_totalprice"),
      min(col("o_totalprice")).as("min_totalprice"),
      max(col("o_totalprice")).as("max_totalprice"),
      // string/timestamp columns
      count(when(col("o_orderstatus").isNull, 1)).as("nn_orderstatus"),
      countDistinct(col("o_orderstatus")).as("nd_orderstatus"),
      min(col("o_orderstatus")).as("min_orderstatus"),
      max(col("o_orderstatus")).as("max_orderstatus"),
      count(when(col("o_orderpriority").isNull, 1)).as("nn_orderpriority"),
      countDistinct(col("o_orderpriority")).as("nd_orderpriority"),
      min(col("o_orderpriority")).as("min_orderpriority"),
      max(col("o_orderpriority")).as("max_orderpriority"),
      count(when(col("o_orderdate").isNull, 1)).as("nn_orderdate"),
      countDistinct(col("o_orderdate")).as("nd_orderdate"),
      date_format(min(col("o_orderdate")), tsFmt).as("min_orderdate"),
      date_format(max(col("o_orderdate")), tsFmt).as("max_orderdate"))
    def num(name: String, suffix: String) = struct(
      lit(name).as("column_name"), col("n_rows"),
      col(s"nn_$suffix").as("n_nulls"), col(s"nd_$suffix").as("n_distinct"),
      col(s"min_$suffix").as("min_num"), col(s"max_$suffix").as("max_num"),
      lit(null).cast("string").as("min_str"),
      lit(null).cast("string").as("max_str"))
    def str(name: String, suffix: String) = struct(
      lit(name).as("column_name"), col("n_rows"),
      col(s"nn_$suffix").as("n_nulls"), col(s"nd_$suffix").as("n_distinct"),
      lit(null).cast("double").as("min_num"),
      lit(null).cast("double").as("max_num"),
      col(s"min_$suffix").as("min_str"), col(s"max_$suffix").as("max_str"))
    wide
      .select(explode(array(
        num("o_orderkey", "orderkey"), num("o_custkey", "custkey"),
        num("o_totalprice", "totalprice"),
        str("o_orderstatus", "orderstatus"),
        str("o_orderpriority", "orderpriority"),
        str("o_orderdate", "orderdate"))).as("p"))
      .select(col("p.*"))
      .orderBy(col("column_name"))
  }

  /** Per-nation OLS trend of monthly revenue — the regr_slope/
    * regr_intercept surface, built from EXACT moments so both engines
    * agree bit-for-bit: x is a small month index (integer), y the
    * decimal-summed monthly revenue; Σx/Σxx stay BIGINT and Σy/Σxy
    * stay DECIMAL through the aggregation (order-independent under any
    * partitioning), and only the final closed-form slope/intercept is
    * double math, stated in one pinned order. Nations whose revenue
    * history is a single month (degenerate variance) yield NULL.
    *
    * Scale: two hash aggregates — (nation, month) then nation — over
    * the slim joined fact; months-per-nation is bounded by the time
    * span, never the data volume. */
  def regrTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("rev"))
      .withColumn("x",
        ((year(col("month")) - 1992) * 12 + month(col("month")) - 1)
          .cast("long"))
    val m = monthly.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_months"),
        sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
        sum(col("rev")).cast("double").as("sy"),
        sum(col("rev") * col("x")).cast("double").as("sxy"))
    val nd = col("n_months").cast("double")
    val sxd = col("sx").cast("double")
    val sxxd = col("sxx").cast("double")
    val den = nd * sxxd - sxd * sxd
    val slope = (nd * col("sxy") - sxd * col("sy")) / den
    m.select(col("n_name"), col("n_months"),
        when(den =!= 0.0, round(slope, 6)).as("slope"),
        when(den =!= 0.0,
          round((col("sy") - slope * sxd) / nd, 6)).as("intercept"))
      .orderBy(col("n_name"))
  }

  /** Two-feature OLS via normal equations: regress l_extendedprice on
    * (l_quantity, l_discount) in closed form — the canonical
    * distributed linear-regression pattern (one pass of exact
    * sufficient statistics, then a broadcast-sized 2×2 solve; the same
    * shape scales to any p×p that fits a driver solve). Moment sums
    * accumulate in exact decimal (inputs cast to the 1e-6 grid first,
    * so products and sums are order-independent integers underneath);
    * the algebra after the single decimal→double crossing is a pinned
    * expression order on both engines, with NULL-guarded determinant /
    * Syy divisors (ANSI + CSE safe). Output: coefficients, intercept,
    * and R² on the 1e-6 grid.
    *
    * Scale: ONE hash aggregate over the fact table producing 10
    * scalars — no shuffle of data rows at all (partial aggregation
    * map-side); the solve is O(1). */
  def ols2(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val q = col("l_quantity").cast("decimal(18,6)")
    val d = col("l_discount").cast("decimal(18,6)")
    val y = col("l_extendedprice").cast("decimal(18,6)")
    val m = li.agg(
      count(lit(1)).as("n"),
      sum(q).cast("double").as("sx1"),
      sum(d).cast("double").as("sx2"),
      sum(y).cast("double").as("sy"),
      sum(q * q).cast("double").as("sx1x1"),
      sum(q * d).cast("double").as("sx1x2"),
      sum(d * d).cast("double").as("sx2x2"),
      sum(q * y).cast("double").as("sx1y"),
      sum(d * y).cast("double").as("sx2y"),
      sum(y * y).cast("double").as("syy"))
    val nd = col("n").cast("double")
    val s = m.select(col("n"),
      col("sx1"), col("sx2"), col("sy"),
      (col("sx1x1") - col("sx1") * col("sx1") / nd).as("s11"),
      (col("sx1x2") - col("sx1") * col("sx2") / nd).as("s12"),
      (col("sx2x2") - col("sx2") * col("sx2") / nd).as("s22"),
      (col("sx1y") - col("sx1") * col("sy") / nd).as("s1y"),
      (col("sx2y") - col("sx2") * col("sy") / nd).as("s2y"),
      (col("syy") - col("sy") * col("sy") / nd).as("syy"))
    val det = col("s11") * col("s22") - col("s12") * col("s12")
    val sol = s.select(col("n"), col("sx1"), col("sx2"), col("sy"),
      col("s1y"), col("s2y"), col("syy"),
      ((col("s1y") * col("s22") - col("s2y") * col("s12")) /
        when(det =!= 0.0, det)).as("b1"),
      ((col("s2y") * col("s11") - col("s1y") * col("s12")) /
        when(det =!= 0.0, det)).as("b2"))
    sol.select(col("n").as("n_rows"),
      round(col("b1"), 6).as("b_qty"),
      round(col("b2"), 6).as("b_disc"),
      round((col("sy") - col("b1") * col("sx1") -
        col("b2") * col("sx2")) / col("n").cast("double"), 6)
        .as("intercept"),
      round((col("b1") * col("s1y") + col("b2") * col("s2y")) /
        when(col("syy") =!= 0.0, col("syy")), 6).as("r2"))
  }

  /** Chi-square test of independence between order status and order
    * priority, plus Cramér's V effect size — the categorical-drift
    * check a pipeline runs before trusting a segment breakdown (are
    * the two labels associated, or is the cross-tab just marginals?).
    * The full R×C grid is materialized (row-totals × col-totals cross
    * of two bounded broadcast sides, observed counts left-joined and
    * zero-filled) so empty cells still contribute their expected mass.
    * Cells, marginals, and N are exact integers; each cell's
    * (O−E)²/E term is one pinned double expression crossed to the
    * DECIMAL(38,18) grid before the order-independent sum; the E>0
    * guard and df/min(R−1,C−1) are stated identically by the oracle.
    *
    * Scale: one hash aggregate over orders to a ≤R×C grid (map-side
    * partial), two scalar-sized marginal aggregates, broadcast-only
    * joins — nothing downstream of the scan is data-sized. */
  def chi2(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .groupBy(col("o_orderstatus").as("status"),
        col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col("status"))
      .agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("priority"))
      .agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("status")).as("n_status"),
      countDistinct(col("priority")).as("n_priority"))
    val grid = rowTot.crossJoin(broadcast(colTot))
      .join(cells, Seq("status", "priority"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
    val e = col("rt").cast("double") * col("ct").cast("double") /
      col("n").cast("double")
    val term = when(e > 0.0,
      (col("o").cast("double") - e) * (col("o").cast("double") - e) / e)
      .otherwise(lit(0.0))
    grid.agg(
        max(col("n")).as("n_rows"),
        max(col("n_status")).as("n_status"),
        max(col("n_priority")).as("n_priority"),
        sum(term.cast("decimal(38,18)")).cast("double").as("chi2_raw"))
      .select(col("n_rows"), col("n_status"), col("n_priority"),
        ((col("n_status") - 1) * (col("n_priority") - 1)).as("df"),
        round(col("chi2_raw"), 6).as("chi2"),
        round(sqrt(col("chi2_raw") / (col("n_rows").cast("double") *
          least(col("n_status") - 1, col("n_priority") - 1)
            .cast("double"))), 6).as("cramers_v"))
  }

  /** One-way ANOVA of order totals across the five order priorities —
    * the "does the group label explain any of the variance?" gate, in
    * closed form from exact sufficient statistics (the same
    * one-pass-of-moments shape as [[ols2]], so it scales as a single
    * map-side-partial hash aggregate to a 5-row grid). Per-group
    * n/Σy/Σy² accumulate in exact decimal on the 1e-6 grid; each
    * group's within-SS and between-SS terms are pinned double
    * expressions crossed to DECIMAL(38,18) before the
    * order-independent sums; F and η² carry NULL-guarded divisors
    * (ANSI + CSE safe). */
  def anova(spark: SparkSession, dir: String): DataFrame = {
    val y = col("o_totalprice").cast("decimal(18,6)")
    val g = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("grp"))
      .agg(count(lit(1)).as("n_g"),
        sum(y).as("sg_dec"), sum(y * y).as("sgg_dec"))
    val tot = g.agg(sum(col("n_g")).as("n"),
      count(lit(1)).as("k"),
      sum(col("sg_dec")).cast("double").as("s"))
    val gd = g.select(col("grp"), col("n_g"),
        col("sg_dec").cast("double").as("sg"),
        col("sgg_dec").cast("double").as("sgg"))
      .crossJoin(broadcast(tot))
    val ngd = col("n_g").cast("double")
    val diff = col("sg") / ngd - col("s") / col("n").cast("double")
    val ss = gd.agg(
      max(col("n")).as("n_rows"), max(col("k")).as("k_groups"),
      sum((col("sgg") - col("sg") * col("sg") / ngd)
        .cast("decimal(38,18)")).cast("double").as("ssw_raw"),
      sum((ngd * (diff * diff)).cast("decimal(38,18)"))
        .cast("double").as("ssb_raw"))
    val f = (col("ssb_raw") / (col("k_groups") - 1).cast("double")) /
      when(col("ssw_raw") =!= 0.0 && col("n_rows") > col("k_groups"),
        col("ssw_raw") / (col("n_rows") - col("k_groups")).cast("double"))
    ss.select(col("n_rows"), col("k_groups"),
      round(col("ssb_raw"), 0).as("ss_between"),
      round(col("ssw_raw"), 0).as("ss_within"),
      round(f, 6).as("f_stat"),
      round(col("ssb_raw") /
        when(col("ssb_raw") + col("ssw_raw") =!= 0.0,
          col("ssb_raw") + col("ssw_raw")), 6).as("eta_sq"))
  }

  /** Doubled midranks (2·midrank = 2·count_strictly_below + count_at
    * + 1 — always an integer, so ties never leave the integer grid)
    * for every distinct value of `valueCol`, via the [[bandedRank]]
    * two-level scan on the distinct-value grain: band offsets over the
    * bounded `__bucket` grid plus in-band partitioned running counts.
    * Returns (valueCol, `mr2Name`). */
  private def midrank2(df: DataFrame, valueCol: String,
      mr2Name: String, nBands: Int = 128): DataFrame = {
    val byVal = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt")).pin()
    val mm = byVal.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi"))
    val banded = byVal.crossJoin(broadcast(mm))
      .withColumn("__bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col(valueCol) - col("lo")) / (col("hi") - col("lo"))
            * nBands), lit(nBands - 1L)).cast("long")))
      .drop("lo", "hi")
    val wo = Window.orderBy(col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("__bucket"))
      .agg(sum(col("cnt")).as("part"))
      .withColumn("__offset", coalesce(sum(col("part")).over(wo), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    val wb = Window.partitionBy(col("__bucket")).orderBy(col(valueCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    banded.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("below",
        col("__offset") + coalesce(sum(col("cnt")).over(wb), lit(0L)))
      .select(col(valueCol),
        (lit(2L) * col("below") + col("cnt") + 1L).as(mr2Name))
  }

  /** Spearman rank correlation between line quantity and extended
    * price — the monotone-association measure that survives outliers
    * and nonlinearity where Pearson doesn't. Ranks are exact midranks
    * (ties get the average rank) computed WITHOUT a global sort: each
    * column's distinct-value grain gets doubled midranks from the
    * banded two-level scan ([[midrank2]]; the doubling keeps ties on
    * the integer grid, and Pearson correlation is invariant under the
    * affine 2r map). All five moment sums accumulate as exact
    * DECIMAL(38,0) integers; only the closed-form correlation is
    * double math in one pinned order with a NULL-guarded root.
    *
    * Scale: two distinct-value aggregates + banded prefixes (metadata-
    * sized windows only), two equi-joins back to the fact rows, one
    * map-side-partial hash aggregate to a single row. */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.lineitem(spark, dir)
      .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))
    val rx = midrank2(rows.select(col("x")), "x", "rx2")
    val ry = midrank2(rows.select(col("y")), "y", "ry2")
    val ranked = rows.join(rx, Seq("x")).join(ry, Seq("y"))
    def dsum0(c: org.apache.spark.sql.Column) =
      sum(c).cast("double")
    val m = ranked.agg(
      count(lit(1)).as("n"),
      dsum0(col("rx2").cast("decimal(19,0)")).as("sx"),
      dsum0(col("ry2").cast("decimal(19,0)")).as("sy"),
      dsum0(col("rx2").cast("decimal(19,0)") *
        col("rx2").cast("decimal(19,0)")).as("sxx"),
      dsum0(col("ry2").cast("decimal(19,0)") *
        col("ry2").cast("decimal(19,0)")).as("syy"),
      dsum0(col("rx2").cast("decimal(19,0)") *
        col("ry2").cast("decimal(19,0)")).as("sxy"))
    val nd = col("n").cast("double")
    val num = col("sxy") - col("sx") * col("sy") / nd
    val vx = col("sxx") - col("sx") * col("sx") / nd
    val vy = col("syy") - col("sy") * col("sy") / nd
    m.select(col("n").as("n_rows"),
      round(num / when(sqrt(vx * vy) =!= 0.0, sqrt(vx * vy)), 6)
        .as("rho_spearman"))
  }

  /** Atkinson inequality index (ε = 1) of per-customer lifetime
    * revenue: A = 1 − geometric_mean/arithmetic_mean — the welfare-
    * weighted inequality measure that complements [[giniRevenue]]
    * (rank-based) and [[theilDecomposition]] (entropy-based); ε = 1
    * weights transfers at the bottom of the distribution most.
    * Revenue sums are exact decimal; each log term rides the
    * round-12/DECIMAL(28,12) grid (the [[theilDecomposition]]
    * convention, so the sum is order-independent); the two means and
    * the final ratio are pinned double algebra.
    *
    * Scale: one hash aggregate to the customer grain, one scalar
    * aggregate — nothing downstream of the scan is data-sized. */
  def atkinson(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)")).as("xd"))
      .filter(col("xd") > 0)
    val m = rev.agg(
      count(lit(1)).as("n"),
      sum(col("xd")).cast("double").as("s"),
      sum(round(log(col("xd").cast("double")), 12)
        .cast("decimal(28,12)")).cast("double").as("slog"))
    val nd = col("n").cast("double")
    val mean = col("s") / nd
    val geo = exp(col("slog") / nd)
    m.select(col("n").as("n_customers"),
      round(mean, 6).as("mean_rev"),
      round(geo, 6).as("geo_mean_rev"),
      round(lit(1.0) - geo / mean, 6).as("atkinson"))
  }

  /** Price elasticity of demand per part brand: OLS of ln(quantity)
    * on ln(discounted unit price) across the brand's line items — the
    * classic log-log regression whose slope IS the elasticity (β < −1
    * elastic, −1 < β < 0 inelastic). Unit price is the pinned per-row
    * double expression extendedprice / quantity · (1 − discount);
    * both logs ride the round-12 grid and all five moment sums
    * accumulate as DECIMAL(38,18) (order-independent; the oracle
    * crosses them VARCHAR-mediated — squared-log sums exceed the 1e5
    * band at sf0.1). Slope/R² are pinned closed-form double algebra
    * with NULL-guarded variance divisors.
    *
    * Scale: one partkey equi-join (no broadcast assumption — part
    * grows with SF) and one map-side-partial hash aggregate to the
    * 25-row brand grid. */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val pt = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val joined = li.join(pt, col("l_partkey") === col("p_partkey"))
    val up = col("l_extendedprice").cast("double") /
      when(col("l_quantity").cast("double") =!= 0.0,
        col("l_quantity").cast("double")) *
      (lit(1.0) - col("l_discount").cast("double"))
    val rows = joined
      .filter(up > 0.0)
      .select(col("p_brand"),
        round(log(up), 12).as("lx"),
        round(log(col("l_quantity").cast("double")), 12).as("ly"))
    def d18(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,18)")).cast("double")
    val m = rows.groupBy(col("p_brand")).agg(
      count(lit(1)).as("n_lines"),
      d18(col("lx")).as("sx"), d18(col("ly")).as("sy"),
      d18(col("lx") * col("lx")).as("sxx"),
      d18(col("lx") * col("ly")).as("sxy"),
      d18(col("ly") * col("ly")).as("syy"))
    val nd = col("n_lines").cast("double")
    val vx = col("sxx") - col("sx") * col("sx") / nd
    val vy = col("syy") - col("sy") * col("sy") / nd
    val cxy = col("sxy") - col("sx") * col("sy") / nd
    m.select(col("p_brand"), col("n_lines"),
        round(cxy / when(vx =!= 0.0, vx), 6).as("elasticity"),
        round(cxy * cxy / when(vx * vy =!= 0.0, vx * vy), 6).as("r2"))
      .orderBy(col("p_brand"))
  }

  /** Seasonal-naive forecast backtest on monthly revenue: predict
    * each month with the SAME month one year earlier and score the
    * forecast — MAE, bias, and MAPE over every month that has a
    * 12-back observation. The one-line baseline every real
    * forecasting model must beat before it ships (and the harness
    * that scores that model is THIS query with `pred` swapped).
    * Errors are exact decimal differences; per-row relative errors
    * ride the round-12 grid; the oracle crosses every decimal→double
    * cast VARCHAR-mediated (revenue magnitudes sit in the 1e7 band).
    *
    * Scale: month-grain aggregate + a self-join on the bounded month
    * grid — metadata-sized end to end after the scan. */
  def forecastNaive(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("month"),
        col("o_totalprice").cast("decimal(18,6)").as("px"))
      .groupBy(col("month")).agg(sum(col("px")).as("rev"))
    val pred = monthly.select((col("month") + 12).as("month"),
      col("rev").as("pred"))
    val joined = monthly.join(pred, Seq("month"))
    val e = col("rev") - col("pred")
    joined.agg(
        count(lit(1)).as("n_forecasts"),
        sum(e).cast("double").as("bias_sum"),
        sum(abs(e)).cast("double").as("mae_sum"),
        sum(round(abs(e).cast("double") /
            when(col("rev") =!= 0, col("rev").cast("double")), 12)
          .cast("decimal(28,12)")).cast("double").as("mape_sum"))
      .select(col("n_forecasts"),
        round(col("mae_sum") / col("n_forecasts").cast("double"), 6)
          .as("mae"),
        round(col("bias_sum") / col("n_forecasts").cast("double"), 6)
          .as("bias"),
        round(col("mape_sum") / col("n_forecasts").cast("double"), 6)
          .as("mape"))
  }

  /** Classical seasonal decomposition of monthly revenue (the X-11
    * additive core): trend = centered 13-term moving average with
    * half-weight endpoints (the symmetric MA that kills a 12-month
    * cycle exactly), seasonal = month-of-year means of the detrended
    * series re-centered to sum to zero, residual = the rest — the
    * decomposition every revenue-anomaly review starts from.
    * Revenue is the exact DECIMAL(18,6) month aggregate; the 13-term
    * chain is stated in one pinned order; seasonal means ride the
    * round-6/DECIMAL(18,6) grid. Edge months (no full window) carry
    * NULL trend/residual, stated identically by the oracle.
    *
    * Scale: everything after the month-grain hash aggregate is
    * metadata-sized; the only window sits over the bounded month grid
    * (the [[monthlyGrowth]] audit pattern). */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .withColumn("month", date_trunc("month", col("o_orderdate")))
      .groupBy(col("month"))
      .agg(decSum(col("o_totalprice")).as("revenue"))
    val w = Window.orderBy(col("month"))
    val terms = Seq(lag(col("revenue"), 6).over(w) * 0.5) ++
      (5 to 1 by -1).map(k => lag(col("revenue"), k).over(w)) ++
      Seq(col("revenue")) ++
      (1 to 5).map(k => lead(col("revenue"), k).over(w)) ++
      Seq(lead(col("revenue"), 6).over(w) * 0.5)
    val trend = terms.reduce(_ + _) / 12.0
    val base = monthly
      .select(col("month"), col("revenue"), trend.as("trend"))
      .withColumn("moy", month(col("month")))
      .withColumn("d", col("revenue") - col("trend"))
    val seas = base.filter(col("d").isNotNull)
      .groupBy(col("moy"))
      .agg((sum(round(col("d"), 6).cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("s_raw"))
    val sbar = seas.agg(
      (sum(round(col("s_raw"), 6).cast("decimal(18,6)")).cast("double") /
        count(lit(1))).as("sbar"))
    base.join(broadcast(seas), Seq("moy"), "left")
      .crossJoin(broadcast(sbar))
      .select(col("month"), round(col("revenue"), 2).as("revenue"),
        round(col("trend"), 6).as("trend"),
        round(col("s_raw") - col("sbar"), 6).as("seasonal"),
        round(col("d") - (col("s_raw") - col("sbar")), 6).as("residual"))
      .orderBy(col("month"))
  }

  /** Categorical naive Bayes on the lineitem stream: predict the
    * return flag from (ship year, quantity band) with Laplace-smoothed
    * count likelihoods — the count-only classifier a curation
    * pipeline trains in one pass when labels exist but features are
    * categorical (no gradients, no UDFs, pure aggregates). Per
    * feature-combo: log-score every class as
    * ln P(c) + ln P(year|c) + ln P(band|c), each log on the round-12
    * grid (sums of three rounded terms are order-pinned), argmax with
    * ties to the smallest flag, and report the combo's training
    * accuracy (share of its rows whose true flag IS the prediction).
    * Ship year is the signal feature (TPC-H return flags are
    * date-determined), the quantity band the known-uninformative
    * control.
    *
    * Scale: four hash aggregates over one scan (class, two
    * class×feature tables, the combo grid) — every post-aggregate
    * frame is metadata-sized (≤ |years|·|bands|·|flags| rows), so the
    * scoring joins broadcast at any SF. */
  def naiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(year(col("l_shipdate")).cast("long").as("ship_year"),
        floor((col("l_quantity") - 1.0) / 10.0).cast("long").as("q_band"),
        col("l_returnflag"))
    val cls = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_c"))
    val tot = li.agg(count(lit(1)).as("n_total"))
    val vs = li.agg(countDistinct(col("ship_year")).as("v_year"),
      countDistinct(col("q_band")).as("v_band"))
    val f1 = li.groupBy(col("l_returnflag"), col("ship_year"))
      .agg(count(lit(1)).as("n_yc"))
    val f2 = li.groupBy(col("l_returnflag"), col("q_band"))
      .agg(count(lit(1)).as("n_bc"))
    val combos = li
      .groupBy(col("ship_year"), col("q_band"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_combo"))
    val grid = combos.groupBy(col("ship_year"), col("q_band"))
      .agg(sum(col("n_combo")).as("n_rows"))
    val score =
      round(log(col("n_c").cast("double") /
        col("n_total").cast("double")), 12) +
      round(log((coalesce(col("n_yc"), lit(0L)) + 1).cast("double") /
        (col("n_c") + col("v_year")).cast("double")), 12) +
      round(log((coalesce(col("n_bc"), lit(0L)) + 1).cast("double") /
        (col("n_c") + col("v_band")).cast("double")), 12)
    val scored = grid
      .crossJoin(broadcast(cls))
      .join(broadcast(f1), Seq("l_returnflag", "ship_year"), "left")
      .join(broadcast(f2), Seq("l_returnflag", "q_band"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(vs))
      .select(col("ship_year"), col("q_band"), col("n_rows"),
        col("l_returnflag"), score.as("score"))
    val w = Window.partitionBy(col("ship_year"), col("q_band"))
      .orderBy(col("score").desc, col("l_returnflag"))
    val pred = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("ship_year"), col("q_band"), col("n_rows"),
        col("l_returnflag").as("pred_flag"),
        round(col("score"), 6).as("score"))
    pred
      .join(combos.select(col("ship_year"), col("q_band"),
          col("l_returnflag").as("pred_flag"),
          col("n_combo").as("n_correct")),
        Seq("ship_year", "q_band", "pred_flag"), "left")
      .select(col("ship_year"), col("q_band"), col("n_rows"),
        col("pred_flag"), col("score"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"),
        round(coalesce(col("n_correct"), lit(0L)).cast("double") /
          col("n_rows").cast("double"), 6).as("accuracy"))
      .orderBy(col("ship_year"), col("q_band"))
  }

  /** Mann–Kendall trend test + Theil–Sen slope of monthly revenue:
    * the nonparametric trend pair — S = Σ_{i<j} sign(x_j − x_i) with
    * the tie-corrected normal approximation, and the median of all
    * pairwise slopes (the robust alternative to [[regrTrend]]'s OLS:
    * a 29% outlier fraction can't move it). The month grid is
    * calendar-bounded (~80 rows at any SF), so the pairwise i<j
    * self-join is a metadata-sized broadcast (whitelisted with the
    * [[PlanAuditSpec]] month-grid argument); revenue sums are exact
    * decimal, sign comparisons are decimal-exact, and S / the tie
    * term / Var(S) stay in BIGINT until one final double division.
    * The Theil–Sen median is rank-selected (row_number over the
    * bounded slope set, average of the ≤2 middle values — a
    * commutative 2-element double sum), not an engine `median` call,
    * so both engines state the same definition. The oracle crosses
    * the decimal revenue deltas VARCHAR-mediated (1e5+ band).
    *
    * Scale: everything downstream of the one hash aggregate to the
    * month grain is metadata-sized algebra. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("month"),
        col("o_totalprice").cast("decimal(18,6)").as("px"))
      .groupBy(col("month"))
      .agg(sum(col("px")).as("xd"))
    val a = monthly.select(col("month").as("mi"), col("xd").as("xi"))
    val b = monthly.select(col("month").as("mj"), col("xd").as("xj"))
    val pairs = a.join(broadcast(b), col("mi") < col("mj"))
    val mk = pairs.agg(
      count(lit(1)).as("n_pairs"),
      sum(when(col("xj") > col("xi"), 1L)
        .when(col("xj") < col("xi"), -1L).otherwise(0L)).as("s_stat"))
    val ties = monthly.groupBy(col("xd")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t")).as("n_months"),
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5))
          .as("tie_term"))
    val slopes = pairs.select(
      ((col("xj") - col("xi")).cast("double") /
        (col("mj") - col("mi")).cast("double")).as("slope"))
    val ranked = slopes.withColumn("rn",
      row_number().over(Window.orderBy(col("slope"))))
    val cnt = slopes.agg(count(lit(1)).as("m"))
    val med = ranked.crossJoin(broadcast(cnt))
      .filter(expr("rn = (m + 1) DIV 2 OR rn = (m + 2) DIV 2"))
      .agg((sum(col("slope")) / count(lit(1))).as("sen_raw"))
    val nb = col("n_months")
    val varS = (nb * (nb - 1) * (nb * 2 + 5) - col("tie_term"))
      .cast("double") / 18.0
    mk.crossJoin(broadcast(ties)).crossJoin(broadcast(med))
      .select(col("n_months"), col("n_pairs"), col("s_stat"),
        round(varS, 6).as("var_s"),
        round(when(col("s_stat") > 0,
            (col("s_stat") - 1).cast("double") /
              when(varS > 0.0, sqrt(varS)))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              when(varS > 0.0, sqrt(varS)))
          .otherwise(lit(0.0)), 6).as("z_mk"),
        round(col("sen_raw"), 6).as("sen_slope"))
  }

  /** Kruskal–Wallis rank test of order totals across the five order
    * priorities — the nonparametric sibling of [[anova]] (no normality
    * assumption: it asks whether any priority's totals are
    * stochastically larger). Ranks are exact doubled midranks from the
    * [[midrank2]] banded scan (ties stay on the integer grid; the
    * per-group rank sums are exact BIGINTs). H and its tie correction
    * C = 1 − Σ(t³−t)/(n³−n) use pinned double algebra with VARCHAR-
    * grade decimal crossings (the tie cubes are exact DECIMAL(38,0)
    * sums) and NULL-guarded divisors. H/C is χ²(k−1) under the null.
    *
    * Scale: one distinct-value aggregate + banded prefix, one
    * equi-join back to orders, two bounded-grid aggregates. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("grp"), col("o_totalprice").as("y"))
    val mr = midrank2(rows.select(col("y")), "y", "mr2")
    val g = rows.join(mr, Seq("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"), sum(col("mr2")).as("sum2"))
    // (12,0) not (19,0): a cubed decimal must keep p1+p2 ≤ 38 on the
    // DuckDB side (static binder limit), and 1e12 ties/rows is ample
    val ties = rows.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .agg(sum((col("t").cast("decimal(12,0)") *
          col("t").cast("decimal(12,0)") * col("t").cast("decimal(12,0)"))
          - col("t").cast("decimal(12,0)")).cast("double").as("tie_sum"))
    val tot = g.agg(sum(col("n_g")).as("n"), count(lit(1)).as("k"))
    val gd = g.crossJoin(broadcast(tot))
    val nd = col("n").cast("double")
    val rbarg = col("sum2").cast("double") /
      (lit(2.0) * col("n_g").cast("double"))
    val mid = (nd + 1.0) / 2.0
    val ss = gd.agg(max(col("n")).as("n"), max(col("k")).as("k"),
      sum((col("n_g").cast("double") *
        ((rbarg - mid) * (rbarg - mid))).cast("decimal(38,18)"))
        .cast("double").as("ssum"))
      .crossJoin(broadcast(ties))
    val h = lit(12.0) / (col("n").cast("double") *
      (col("n").cast("double") + 1.0)) * col("ssum")
    val nCube = col("n").cast("decimal(12,0)") *
      col("n").cast("decimal(12,0)") * col("n").cast("decimal(12,0)") -
      col("n").cast("decimal(12,0)")
    val c = lit(1.0) - col("tie_sum") / nCube.cast("double")
    ss.select(col("n").as("n_rows"), col("k").as("k_groups"),
      round(h, 6).as("h_stat"),
      round(c, 6).as("tie_correction"),
      round(h / when(c =!= 0.0, c), 6).as("h_adj"))
  }

  /** Weighted median extended price per part brand (weight = quantity)
    * — the robust per-group location statistic a pricing stack wants
    * once plain medians over-weight single-unit lines. Entirely integer
    * arithmetic after the (brand, price) weight aggregate: cumulative
    * weight vs total weight per brand (2·cum ≥ total picks the lower
    * weighted median), so the result is order-independent and exact on
    * both engines — no float summation anywhere.
    *
    * Scale: one hash aggregate to the (brand, price) grain — bounded
    * by the price domain, not row count — then per-brand windows over
    * those slim distinct rows. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val wp = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("l_extendedprice").as("price"))
      .agg(sum(col("l_quantity").cast("long")).as("w"))
    val cum = Window.partitionBy(col("p_brand")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("p_brand"))
    wp
      .select(col("p_brand"), col("price"), col("w"),
        sum(col("w")).over(cum).as("cw"), sum(col("w")).over(tot).as("tw"))
      .groupBy(col("p_brand"))
      .agg(max(col("tw")).as("total_qty"),
        min(when(lit(2) * col("cw") >= col("tw"), col("price")))
          .as("w_median_price"))
      .orderBy(col("p_brand"))
  }

  /** Linear multi-touch attribution: every purchase splits one unit of
    * credit equally across the SAME user's non-purchase events in the
    * preceding hour; the report aggregates credit per contributing
    * event type — the marketing-attribution classic (first/last-touch
    * are the argmin/argmax specializations). Per-contributor credit
    * 1/n is rounded to a fixed 12-decimal grid and summed as DECIMAL,
    * so the aggregate is order-independent; the join is the
    * [[asofJoin]] family's equi-on-user + time-range shape (fan-out
    * bounded by per-user activity × window, never corpus²). Purchases
    * with no prior-hour touch drop (nothing to credit). */
  def attributionLinear(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val touches = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_type").as("touch_type"), col("event_id").as("t_id"))
    val joined = purchases.join(touches,
      col("p_user") === col("t_user") &&
        col("t_ts") < col("p_ts") &&
        col("t_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
    val n = Window.partitionBy(col("p_id"))
    joined
      .withColumn("credit",
        round(lit(1.0) / count(lit(1)).over(n), 12)
          .cast("decimal(18,12)"))
      .groupBy(col("touch_type"))
      .agg(count(lit(1)).as("n_touches"),
        countDistinct(col("p_id")).as("n_purchases"),
        round(sum(col("credit")).cast("double"), 6).as("total_credit"))
      .orderBy(col("touch_type"))
  }

  /** Spend-quintile migration matrix: customers ranked into quintiles
    * by decimal-exact spend in each HALF of the order-date range (the
    * epoch-microsecond midpoint splits the timeline, integer
    * division), then counted per (first-half quintile → second-half
    * quintile) cell — the churn/upsell mobility matrix. Quintiles are
    * the deterministic rank rule from [[rfm]] (integer arithmetic,
    * custkey ties); customers active in only one half drop (they have
    * no transition). Windows run over the CUSTOMER grain per period —
    * the same bounded exception as [[rfm]], banded-quantile
    * replaceable at extreme scale. */
  def segmentMigration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("tu", unix_micros(col("o_orderdate").cast("timestamp")))
    val bounds = o.agg(min(col("tu")).as("lo"), max(col("tu")).as("hi"))
    val spend = o.crossJoin(broadcast(bounds))
      .withColumn("period",
        when(col("tu") < expr("(lo + hi) div 2"), "p1").otherwise("p2"))
      .groupBy(col("o_custkey"), col("period"))
      .agg(decSum(col("o_totalprice")).as("spend"))
    val n = spend.groupBy(col("period")).agg(count(lit(1)).as("n_cust"))
    val q = spend.join(broadcast(n), Seq("period"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("period"))
          .orderBy(col("spend"), col("o_custkey"))))
      .withColumn("quintile",
        (floor(lit(5) * (col("rn") - 1) / col("n_cust")) + 1).cast("long"))
      .select(col("o_custkey"), col("period"), col("quintile"))
    q.filter(col("period") === "p1")
      .select(col("o_custkey"), col("quintile").as("q_first"))
      .join(q.filter(col("period") === "p2")
        .select(col("o_custkey"), col("quintile").as("q_second")),
        Seq("o_custkey"))
      .groupBy(col("q_first"), col("q_second"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("q_first"), col("q_second"))
  }

  /** Repeat-purchase rate per market segment — the retention KPI:
    * share of a segment's ever-purchasing customers who ordered more
    * than once, plus mean orders per buyer. Two hash aggregates on
    * narrow keys; exact integer ratios. */
  def repeatRate(spark: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    Tables.customer(spark, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_buyers"),
        count(when(col("n_orders") >= 2, 1)).as("n_repeat"),
        sum(col("n_orders")).as("n_orders"))
      .select(col("c_mktsegment"), col("n_buyers"), col("n_repeat"),
        col("n_orders"),
        round(col("n_repeat").cast("double") / col("n_buyers"), 6)
          .as("repeat_rate"),
        round(col("n_orders").cast("double") / col("n_buyers"), 6)
          .as("orders_per_buyer"))
      .orderBy(col("c_mktsegment"))
  }

  /** Dormancy (recency-band) census: customers bucketed by days since
    * their last order vs the corpus max date — the winback-targeting
    * report beside [[rfm]]'s per-customer scores (this is the
    * AGGREGATE view a campaign sizes its bands from). Stated band
    * edges (≤30 / ≤60 / ≤90 / ≤180 / >180 days); exact integer counts
    * and long/long shares. Scale: one per-customer aggregate, a
    * broadcast scalar max date, one bounded-grid aggregate. */
  def dormancy(spark: SparkSession, dir: String): DataFrame = {
    val last = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"))
    val ref = Tables.orders(spark, dir)
      .agg(max(col("o_orderdate")).as("ref_date"))
    val banded = last.crossJoin(broadcast(ref))
      .withColumn("days", datediff(col("ref_date"), col("last_order"))
        .cast("long"))
      .withColumn("band_lo",
        when(col("days") <= 30, lit(0L))
          .when(col("days") <= 60, lit(31L))
          .when(col("days") <= 90, lit(61L))
          .when(col("days") <= 180, lit(91L))
          .otherwise(lit(181L)))
    val n = banded.agg(count(lit(1)).as("n_total"))
    banded.groupBy(col("band_lo"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("days")).as("min_days"), max(col("days")).as("max_days"))
      .crossJoin(broadcast(n))
      .select(col("band_lo"), col("n_customers"), col("min_days"),
        col("max_days"),
        round(col("n_customers") / col("n_total"), 6).as("share"))
      .orderBy(col("band_lo"))
  }

  /** Cohort retention matrix: customers grouped by FIRST-order month,
    * tracked across months-since-acquisition — the activity decay grid
    * every growth dashboard carries. `retention` = active customers in
    * (cohort, month m) / cohort size, an exact long/long ratio.
    *
    * Scale: one distinct to the (customer, month) activity grain, one
    * per-customer min (the cohort), one hash aggregate to the
    * months×months grid; cohort sizes broadcast back onto the
    * metadata-sized grid. No windows, no fact-sized joins beyond the
    * customer-grain equi-join. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.orders(spark, dir)
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("month"))
      .distinct()
    val cohort = active.groupBy(col("o_custkey"))
      .agg(min(col("month")).as("cohort_month"))
    val sizes = cohort.groupBy(col("cohort_month"))
      .agg(count(lit(1)).as("cohort_size"))
    active.join(cohort, Seq("o_custkey"))
      .withColumn("months_since",
        months_between(col("month"), col("cohort_month")).cast("long"))
      .groupBy(col("cohort_month"), col("months_since"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort_month"))
      .select(col("cohort_month"), col("months_since"),
        col("cohort_size"), col("n_active"),
        round(col("n_active") / col("cohort_size"), 6).as("retention"))
      .orderBy(col("cohort_month"), col("months_since"))
  }

  /** Exact global sort-rank WITHOUT a global sort — the
    * [[giniRevenue]] two-level band scan, factored: equal-width value
    * bands from a one-row broadcast min/max, per-band counts → a
    * metadata-sized (≤ nBands rows) exclusive prefix, in-band
    * row_number. Equal values always share a band (the band is a
    * function of the value alone), so `offset + in-band row_number`
    * reproduces the global `row_number() OVER (ORDER BY value
    * [DESC], tie)` bit-for-bit — the oracles state the naive global
    * window and hash equality proves each rewrite. `desc = true`
    * walks bands and in-band values in descending order. */
  private[operators] def bandedRank(df: DataFrame, valueCol: String,
      tieCol: String, rankName: String, desc: Boolean,
      nBands: Int = 128): DataFrame = {
    // pin the input: it feeds THREE branches (min/max bounds, band
    // offsets, the ranked join) and rfm chains three ranks — without
    // the cut each level re-derives its whole upstream per branch
    // (measured: rfm 0.24 s -> 2.27 s unpinned at sf0.1)
    val pinned = df.pin()
    val mm = pinned.agg(min(col(valueCol)).cast("double").as("lo"),
      max(col(valueCol)).cast("double").as("hi"))
    val banded = pinned.crossJoin(broadcast(mm))
      .withColumn("__bucket",
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col(valueCol) - col("lo")) / (col("hi") - col("lo"))
            * nBands), lit(nBands - 1L)).cast("long")))
      .drop("lo", "hi")
    val wo = Window.orderBy(
        if (desc) col("__bucket").desc else col("__bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = banded.groupBy(col("__bucket"))
      .agg(count(lit(1)).as("part"))
      .withColumn("__offset", coalesce(sum(col("part")).over(wo), lit(0L)))
      .select(col("__bucket"), col("__offset"))
    val wb = Window.partitionBy(col("__bucket")).orderBy(
      (if (desc) col(valueCol).desc else col(valueCol)), col(tieCol))
    banded.join(broadcast(offsets), Seq("__bucket"))
      .withColumn(rankName,
        (col("__offset") + row_number().over(wb)).cast("long"))
      .drop("__bucket", "__offset")
  }

  /** DP-release privacy parameters — shared with the oracle. */
  val dpEpsilon = 1.0
  val dpRevenueClip = 100000.0

  /** Differentially-private-style release of per-nation customer
    * counts and (clipped) revenue: Laplace noise at ε = [[dpEpsilon]]
    * via the inverse CDF — noise = −b·sign(u−½)·ln(1−2|u−½|) — driven
    * by a DETERMINISTIC salted hash uniform instead of an RNG, so the
    * release is reproducible and oracle-verifiable while exercising
    * the full DP mechanics (per-record sensitivity bounding by
    * clipping each customer's revenue at [[dpRevenueClip]], count
    * sensitivity 1, independent noise per released cell via disjoint
    * salts). A production release swaps the hash uniform for a sealed
    * RNG and drops nothing else. The ln rides the round-12 grid (the
    * cross-engine libm convention); u = (h+½)/2³² is strictly inside
    * (0,1) so the log argument is always positive.
    *
    * Scale: one customer-grain aggregate (clip before sum), one
    * nation-grain aggregate, noise is per-row scalar algebra on the
    * 25-row release. */
  def dpRelease(spark: SparkSession, dir: String): DataFrame = {
    val clip = lit(dpRevenueClip)
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("rev"))
      .select(col("o_custkey"),
        least(col("rev"), clip).as("rev_clipped"))
    val byNation = Tables.customer(spark, dir)
      .join(Tables.nation(spark, dir),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        sum(round(coalesce(col("rev_clipped"), lit(0.0)), 6)
          .cast("decimal(18,6)")).cast("double").as("rev_sum"))
    def lap(salt: String, b: Double) = {
      val u = (graft.functions.Portable.hash32(
        concat(lit(salt), col("n_name"))).cast("double") + 0.5) /
        4294967296.0
      -lit(b) * signum(u - 0.5) *
        round(log(lit(1.0) - lit(2.0) * abs(u - 0.5)), 12)
    }
    byNation.select(col("n_name"),
        lit(dpEpsilon).as("epsilon"),
        round(col("n_cust").cast("double") +
          lap("graft-dp:count:", 1.0 / dpEpsilon), 6)
          .as("released_count"),
        round(col("rev_sum") +
          lap("graft-dp:rev:", dpRevenueClip / dpEpsilon), 6)
          .as("released_revenue"))
      .orderBy(col("n_name"))
  }

  /** Weibull reliability fit of customer inter-order gaps: the
    * probability-plot regression — rank every positive gap
    * ([[bandedRank]], no global sort), Bernard's median-rank plotting
    * position F = (i−0.3)/(n+0.4), then OLS of ln(−ln(1−F)) on
    * ln(gap): slope = shape k (k<1: churn risk decays — heavy
    * re-ordering tail; k>1: wear-out — the longer quiet, the more
    * likely a return), scale λ = exp(−intercept/k) in days, the
    * parametric complement to [[survivalKm]]. Both logs ride the
    * round-12 grid; moment sums are DECIMAL(38,18) (VARCHAR-crossed
    * in the oracle — squared-log sums pass 1e5 at sf0.1); the oracle
    * states the NAIVE global rank window and hash equality proves the
    * banded rewrite.
    *
    * Scale: one per-customer lag window for gaps, the two-level band
    * scan for ranks, one scalar moment aggregate. */
  def weibullFit(spark: SparkSession, dir: String): DataFrame = {
    val wo = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .select(col("o_orderkey"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(wo)).cast("long").as("gap"))
      .filter(col("gap").isNotNull && col("gap") > 0)
    val ranked = bandedRank(gaps, "gap", "o_orderkey", "__rank",
      desc = false)
    val n1 = ranked.agg(count(lit(1)).as("n_gaps"))
    val xy = ranked.crossJoin(broadcast(n1))
      .select(
        round(log(col("gap").cast("double")), 12).as("x"),
        round(log(-log(lit(1.0) -
          (col("__rank").cast("double") - 0.3) /
            (col("n_gaps").cast("double") + 0.4))), 12).as("y"))
    def d18(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,18)")).cast("double")
    val m = xy.agg(count(lit(1)).as("n_gaps"),
      d18(col("x")).as("sx"), d18(col("y")).as("sy"),
      d18(col("x") * col("x")).as("sxx"),
      d18(col("x") * col("y")).as("sxy"),
      d18(col("y") * col("y")).as("syy"))
    val nd = col("n_gaps").cast("double")
    val vx = col("sxx") - col("sx") * col("sx") / nd
    val vy = col("syy") - col("sy") * col("sy") / nd
    val cxy = col("sxy") - col("sx") * col("sy") / nd
    val k = cxy / when(vx =!= 0.0, vx)
    val intercept = (col("sy") - k * col("sx")) / nd
    m.select(col("n_gaps"),
      round(k, 6).as("shape"),
      round(exp(-intercept / when(k =!= 0.0, k)), 6).as("scale_days"),
      round(cxy * cxy / when(vx * vy =!= 0.0, vx * vy), 6).as("r2"))
  }

  /** RFM customer segmentation — the classic recency/frequency/
    * monetary scoring: per customer, days since last order (vs the
    * corpus max date), order count, and decimal-exact lifetime spend,
    * each mapped to a 1–5 quintile score by deterministic rank
    * (row_number with custkey tiebreak, `floor(5·(rank−1)/n)+1` —
    * integer arithmetic end to end, no percentile floats). Each of
    * the three ranks is a [[bandedRank]] two-level scan — no window
    * ever spans more than one band, so the customer grain can grow
    * without a single-task sort; the oracle states the three naive
    * global windows and hash equality proves the rewrite. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    // ONE orders scan: the customer-grain aggregate is pinned eagerly
    // and every downstream consumer (ref date, n, all three rank
    // scans) derives from it — ref_date = max(last_order) over
    // customers IS max(o_orderdate) over orders, so no second scan
    val byCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        decSum(col("o_totalprice")).as("monetary"))
      .pin(eager = true)
    val refDate = byCust.agg(max(col("last_order")).as("ref_date"))
    val n = byCust.agg(count(lit(1)).as("n_cust"))
    def score(rank: org.apache.spark.sql.Column) =
      floor(lit(5) * (rank - 1) / col("n_cust")) + 1
    val base = byCust.crossJoin(broadcast(refDate))
      .withColumn("recency_days",
        datediff(col("ref_date"), col("last_order")).cast("long"))
      .pin(eager = true)
    // the three rank scans run as PARALLEL slim branches off the one
    // pinned base and re-join on custkey, instead of a chain that
    // drags every carried column through each level's band join
    // (measured: 1.48 s chained -> parallel slim branches, sf0.1)
    def rankOf(valueCol: String, name: String, desc: Boolean) =
      bandedRank(base.select(col("o_custkey"), col(valueCol)),
        valueCol, "o_custkey", name, desc = desc)
        .select(col("o_custkey"), col(name))
    val ranked = base
      .join(rankOf("recency_days", "__r_rank", desc = true), Seq("o_custkey"))
      .join(rankOf("frequency", "__f_rank", desc = false), Seq("o_custkey"))
      .join(rankOf("monetary", "__m_rank", desc = false), Seq("o_custkey"))
    ranked.crossJoin(broadcast(n))
      .withColumn("r_score", score(col("__r_rank")))
      .withColumn("f_score", score(col("__f_rank")))
      .withColumn("m_score", score(col("__m_rank")))
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("rfm"))
      .orderBy(col("o_custkey"))
  }

  /** Declarative data-quality expectations over the orders table — the
    * Deequ-style constraint suite a production pipeline runs before
    * trusting a snapshot: completeness, uniqueness, range and domain
    * checks, each a named row with its measured metric and pass flag.
    * ALL metrics come from ONE wide hash aggregate over a single scan
    * (the suite costs one pass at any scale); the per-check rows are a
    * metadata-sized explode of that one row. Metrics are exact
    * integer/decimal ratios rounded once — bit-stable anywhere. */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    val wide = o.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("o_orderkey")).as("nd_key"),
      count(col("o_custkey")).as("nn_cust"),
      min(col("o_totalprice")).as("min_price"),
      count(when(col("o_orderdate") >=
          lit("1995-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("2002-01-01").cast("timestamp"), 1))
        .as("n_in_range"),
      count(when(col("o_orderpriority").isin(priorities: _*), 1))
        .as("n_known_prio"))
    def check(name: String, metric: org.apache.spark.sql.Column,
        passed: org.apache.spark.sql.Column) = struct(
      lit(name).as("check_name"), round(metric.cast("double"), 6).as("metric"),
      passed.as("passed"))
    wide
      .select(explode(array(
        check("row_count_positive", col("n_rows"), col("n_rows") > 0),
        check("orderkey_unique",
          col("nd_key").cast("double") / col("n_rows"),
          col("nd_key") === col("n_rows")),
        check("custkey_complete",
          col("nn_cust").cast("double") / col("n_rows"),
          col("nn_cust") === col("n_rows")),
        check("totalprice_positive", col("min_price"),
          col("min_price") > 0.0),
        check("orderdate_in_range",
          col("n_in_range").cast("double") / col("n_rows"),
          col("n_in_range") === col("n_rows")),
        check("priority_in_domain",
          col("n_known_prio").cast("double") / col("n_rows"),
          col("n_known_prio") === col("n_rows")))).as("c"))
      .select(col("c.*"))
      .orderBy(col("check_name"))
  }

  /** Weight-of-evidence feature binning — the credit-scoring/feature-
    * engineering transform: equal-width price bins (the
    * [[priceHistogram]] formula — min/max broadcast, monotone bucket
    * expression, top edge clamped), per-bin event rate for the
    * "returned" outcome (l_returnflag = 'R'), and WOE =
    * ln(good_share / bad_share) with each share an exact integer
    * ratio. One O(1) bounds aggregate + one hash aggregate to the bin
    * grain; the log runs once per BIN (metadata-sized). Bins where
    * either class is empty yield NULL WOE (the standard undefined
    * case) under the ANSI-safe guard. */
  def woeBins(spark: SparkSession, dir: String, nBins: Int = 10)
      : DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_extendedprice").as("v"),
        (col("l_returnflag") === "R").as("bad"))
    val bounds = li.agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val binned = li.crossJoin(broadcast(bounds))
      .withColumn("bin",
        when(col("hi") === col("lo"), lit(0L)).otherwise(least(
          floor((col("v") - col("lo")) / (col("hi") - col("lo")) * nBins),
          lit(nBins - 1L)).cast("long")))
    val agg = binned.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(col("bad"), 1)).as("n_bad"),
        count(when(!col("bad"), 1)).as("n_good"))
    val tots = agg.agg(sum(col("n_bad")).as("tot_bad"),
      sum(col("n_good")).as("tot_good"))
    agg.crossJoin(broadcast(tots))
      .select(col("bin"), col("n"), col("n_good"), col("n_bad"),
        round(col("n_bad").cast("double") / col("n"), 6).as("bad_rate"),
        when(col("n_good") > 0 && col("n_bad") > 0,
          round(log(
            (col("n_good").cast("double") / col("tot_good")) /
              (col("n_bad").cast("double") / col("tot_bad"))), 6))
          .as("woe"))
      .orderBy(col("bin"))
  }

  /** Inter-purchase intervals per customer: the gap statistics
    * (mean/min/max days between consecutive orders) a retention stack
    * derives before modeling churn. Gaps come from one lag window per
    * customer ((date, orderkey) total order — same-day orders gap 0,
    * deterministically), and every statistic is integer arithmetic
    * until the final mean division — exact on both engines. Customers
    * with a single order have no gap and drop. Per-customer row counts
    * are bounded by order frequency × time span, never corpus size. */
  def orderGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .select(col("o_custkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .cast("long").as("gap"))
      .filter(col("gap").isNotNull)
      .groupBy(col("o_custkey"))
      .agg((count(lit(1)) + 1).as("n_orders"),
        round(sum(col("gap")).cast("double") / count(lit(1)), 4)
          .as("mean_gap_days"),
        min(col("gap")).as("min_gap_days"),
        max(col("gap")).as("max_gap_days"))
      .orderBy(col("o_custkey"))
  }

  /** Modal return flag per order priority — the MODE() statistic as a
    * count + deterministic argmax (ties break to the lexicographically
    * smallest value, so the answer is unique under any partitioning).
    * Integer counts only; two hash aggregates plus a priority-keyed
    * top-1 window over the tiny (priority, flag) grain. */
  def modeReturnflag(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"))
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("n_items").desc, col("l_returnflag"))
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("o_orderpriority"))
  }

  /** Herfindahl–Hirschman market-concentration index per market
    * segment: each customer nation's revenue share within the segment,
    * squared and summed onto the conventional 0–10000 scale, with the
    * DOJ merger-guideline class labels (< 1500 competitive, < 2500
    * moderate, else concentrated) — the antitrust-style concentration
    * read beside [[revenueConcentration]]'s Pareto view (that one asks
    * "how much do the top x% hold", this one scores the whole
    * distribution in one number).
    *
    * Determinism: revenue sums are exact DECIMAL; shares are one
    * decimal→double crossing per (segment, nation) cell; each share²
    * rounds to the 1e-12 grid and sums as DECIMAL — order-independent.
    * Scale: one orders×customer×nation equi-join chain (nation
    * broadcast), one hash aggregate to the bounded segment×nation
    * grid; everything after is grid-sized. */
  def hhi(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment"), col("n_name"))
      .agg(decSum(col("o_totalprice")).as("rev"))
    val segTot = cells.groupBy(col("c_mktsegment"))
      .agg(sum(col("rev").cast("decimal(18,6)")).cast("double")
        .as("seg_rev"))
    val share = col("rev") / col("seg_rev")
    val hhiCol = round(sum(col("term")).cast("double") * 10000.0, 6)
    cells.join(broadcast(segTot), Seq("c_mktsegment"))
      .select(col("c_mktsegment"),
        round(share * share, 12).cast("decimal(28,12)").as("term"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_nations"), hhiCol.as("hhi"))
      .select(col("c_mktsegment"), col("n_nations"), col("hhi"),
        when(col("hhi") < 1500.0, "competitive")
          .when(col("hhi") < 2500.0, "moderate")
          .otherwise("concentrated").as("hhi_class"))
      .orderBy(col("c_mktsegment"))
  }
}
