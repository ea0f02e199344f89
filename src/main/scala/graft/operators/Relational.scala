package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.sources.Tables

/** Relational/OLAP core: the general analytics surface the engine
  * exposes at 100 TB. Plans are declarative DataFrame ops so Catalyst
  * handles pushdown/pruning; dimension sides of joins are broadcast
  * explicitly; aggregates are decimal-exact (see [[graft.operators]]).
  */
object Relational {

  /** TPC-H-Q1-style pricing summary: single shuffle, map-side partial
    * aggregation, filter pushed to the parquet scan. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
          .cast(DoubleType).as("sum_disc_price"),
        // chained decimal multiply: shrink the exact (.,4)-scale product
        // back to (18,4) so precision never overflows 38 in either the
        // Spark plan or the oracle engine (both stay exact).
        sum((dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
            .cast(DecimalType(18, 4)) * (lit(1) + dec($"l_tax")))
          .cast(DoubleType).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H-Q3-style: broadcast the filtered customer dim into orders,
    * shuffle-join the lineitem fact once, deterministic top-k. */
  def q3TopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < to_timestamp(lit("1998-01-01")))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > to_timestamp(lit("1998-01-01")))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord.join(broadcast(cust), $"o_custkey" === $"c_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
        .cast(DoubleType).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey".asc)
      .limit(10)
  }

  /** TPC-H-Q5-style 5-way join: region/nation/supplier broadcast into
    * the customer⋈orders⋈lineitem fact chain. */
  def q5MultiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaNations = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(asiaNations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
              $"o_orderdate" < to_timestamp(lit("1997-01-01")))
      .select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    li.join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
        .cast(DoubleType).as("revenue"))
  }

  /** Window functions: per-supplier price rank (top-3) + running
    * quantity, single hash-partition shuffle on l_suppkey. */
  def qWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySupp = Window.partitionBy($"l_suppkey")
    val rankW = bySupp.orderBy($"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
    val runW = bySupp.orderBy($"l_shipdate".asc, $"l_orderkey".asc, $"l_linenumber".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice",
        $"l_quantity", $"l_shipdate")
      .withColumn("price_rank", row_number().over(rankW).cast(LongType))
      .withColumn("run_qty", sum(dec($"l_quantity")).over(runW).cast(DoubleType))
      .filter($"price_rank" <= 3)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"price_rank", $"run_qty")
  }

  /** Exact distinct counting per group (Catalyst expands to two-level
    * aggregation — partials then distinct merge). */
  def qDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** EXISTS via left-semi join: customers who placed at least one
    * large (> 300k) order — no duplication from the many-side. */
  def qSemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigOrders = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 300000.0).select($"o_custkey")
    Tables.customer(spark, dir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  /** NOT EXISTS via left-anti join (no subquery materialization):
    * customers who never placed a large (> 300k) order. */
  def qExists(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigOrders = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 300000.0).select($"o_custkey")
    Tables.customer(spark, dir)
      .join(bigOrders, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
  }

  /** Hierarchical ROLLUP over return flag / line status. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"),
           dsum($"l_extendedprice").as("sum_price"),
           count(lit(1)).as("n_rows"))
  }

  /** CUBE over (returnflag, linestatus): all four grouping sets in
    * one pass — same partial-aggregation shape as rollup, one shuffle
    * regardless of how many grouping sets expand. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"),
           dsum($"l_extendedprice").as("sum_price"),
           count(lit(1)).as("n_rows"))
  }

  /** Custom GROUPING SETS — the grouping-set shapes rollup/cube can't
    * express (here: per-flag totals, per-status totals, and the grand
    * total, but NOT the (flag, status) cross): one partial-aggregated
    * pass regardless of set count, via the Spark 4 Dataset
    * `groupingSets` API — side-effect-free like the rest of the
    * registry (the earlier SQL form registered a session-global temp
    * view, which raced between concurrent invocations on different
    * dirs). */
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq($"l_returnflag"), Seq($"l_linestatus"), Seq.empty),
        $"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"),
           count(lit(1)).as("n_rows"))
  }

  /** INTERSECT — customers who ordered in BOTH years. Catalyst plans
    * set intersection as a left-semi join between the two distinct
    * key sets (partial-aggregated distincts, then a key-hashed semi
    * join) — shuffle ∝ distinct keys, never raw rows; the year
    * filters push to the parquet scan. */
  def qIntersect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def buyers(y: Int) = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === y).select($"o_custkey")
    buyers(1995).intersect(buyers(1996))
  }

  /** EXCEPT — customers who ordered in 1995 but not 1996 (the left-
    * anti twin of [[qIntersect]]; same distinct + key-hashed join
    * shape). */
  def qExcept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def buyers(y: Int) = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === y).select($"o_custkey")
    buyers(1995).except(buyers(1996))
  }

  /** Unpivot / melt (wide → long): the four lineitem measures become
    * (metric, val) rows through Catalyst's `Expand` — the table is
    * SCANNED ONCE and each row emits four, where the UNION ALL
    * formulation scans the fact table once per measure (4× the IO at
    * 100 TB). One partial-aggregated shuffle on (flag, metric)
    * follows; decimal-exact sums as everywhere. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax")
      .unpivot(
        Array($"l_returnflag"),
        Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
        "metric", "val")
      .groupBy($"l_returnflag", $"metric")
      .agg(dsum($"val").as("sum_val"), count(lit(1)).as("n_rows"))
  }

  /** Co-located join over bucketed tables — the SHUFFLE-FREE join
    * shape ([[graft.sources.Bucketed]] carries the layout rationale):
    * customer and orders are both bucketed on custkey with the same
    * bucket count, so the sort-merge join reads co-located,
    * pre-sorted buckets and the executed plan carries NO Exchange and
    * NO Sort on either side (spec-held) — at 100 TB that is the
    * entire shuffle of both fact tables paid once at write time
    * instead of per query. The MERGE hint keeps the planner on the
    * sort-merge path (a broadcast would hide the property under
    * test); the aggregation after the join ALSO needs no exchange —
    * the join's bucketed output partitioning already clusters by
    * custkey, and (c_custkey, c_mktsegment) groups are custkey-local. */
  def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ct, ot) = graft.sources.Bucketed.custOrders(spark, dir)
    spark.table(ct).hint("MERGE")
      .join(spark.table(ot), $"c_custkey" === $"o_custkey")
      .groupBy($"c_custkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
           dsum($"o_totalprice").as("total_spent"))
  }

  /** Banded (bucketized) range join — the scale shape for interval
    * predicates: for every event, the OTHER events of the same user
    * within ±10 minutes (burst detection). A raw range join
    * degenerates to a per-key cross product; here the probe side
    * bucketizes time into 10-minute bands (each build row lands in
    * exactly ONE bucket, each probe visits its ≤3 overlapping
    * buckets), so candidates meet through a plain EQUI-join on
    * (user, bucket) — shuffle ∝ data, never |events|² — and the exact
    * |Δt| ≤ 10 min predicate trims band edges afterwards. Each
    * qualifying pair meets exactly once (a build row's single bucket
    * is probed once), so no dedup is needed. Time math is integer
    * microseconds end-to-end (engine-exact; no interval/timezone
    * semantics in the hot predicate). */
  def qRangeJoin(spark: SparkSession, dir: String, minutes: Int = 10): DataFrame = {
    import spark.implicits._
    val w = minutes.toLong * 60L * 1000000L
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", unix_micros($"ts").as("eus"), $"value")
    val build = ev
      .select($"user_id", $"event_id".as("nb_id"), $"eus".as("nb_us"), $"value".as("nb_value"))
      .withColumn("bucket", floor($"nb_us" / w))
    // a NULL ts must survive as an event with zero neighbors (the
    // oracle's left join keeps it): a bare explode of the null bucket
    // sequence would emit no probe rows and silently DROP the event —
    // the sentinel bucket (-1) can never collide with an epoch-µs
    // band, so the row flows through and counts nothing
    val probes = ev.withColumn("bucket",
      explode(coalesce(sequence(floor(($"eus" - w) / w), floor(($"eus" + w) / w)),
        array(lit(-1L)))))
    val within = abs($"nb_us" - $"eus") <= w && $"nb_id" =!= $"event_id"
    probes.join(build, Seq("user_id", "bucket"), "left")
      .groupBy($"event_id")
      .agg(count(when(within, 1)).as("n_nearby"),
        // decimal-exact neighbor-value sum (SURVEY §5: double sums are
        // aggregation-order-dependent and never oracle-safe)
        coalesce(sum(when(within, dec($"nb_value")))
          .cast(org.apache.spark.sql.types.DoubleType), lit(0.0d)).as("nearby_value"))
  }

  /** Statistical moments per group: population covariance and
    * correlation of (quantity, price), computed from DECIMAL-EXACT
    * power sums rather than streaming moment updates — Welford-style
    * accumulation is partition-order-dependent and engine-specific,
    * while exact sums make the final double arithmetic bit-identical
    * everywhere (only +,-,*,/,sqrt — all IEEE-deterministic). */
  def qMoments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = dec($"l_quantity")
    val p = dec($"l_extendedprice")
    val g = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast(DoubleType).as("sx"),
        sum(p).cast(DoubleType).as("sy"),
        sum(q * p).cast(DoubleType).as("sxy"),
        sum(q * q).cast(DoubleType).as("sxx"),
        sum(p * p).cast(DoubleType).as("syy"))
    val nd = $"n".cast(DoubleType)
    val num = nd * $"sxy" - $"sx" * $"sy"
    // derived values are rounded: DECIMAL(38,4)->DOUBLE casts of the
    // big power sums are not correctly rounded in every engine (a
    // two-step int/10^scale conversion), observed as 1-ulp corr drift
    // at sf0.001 — rounding collapses that noise identically
    g.select($"l_returnflag", $"n",
      round($"sx" / nd, 9).as("mean_qty"),
      round($"sy" / nd, 9).as("mean_price"),
      round(num / (nd * nd), 6).as("cov_pop"),
      round(num / (sqrt(nd * $"sxx" - $"sx" * $"sx") * sqrt(nd * $"syy" - $"sy" * $"sy")), 12)
        .as("corr"))
  }

  /** TPC-H-Q14-flavor part join: promo revenue share per brand —
    * part dim broadcast into the lineitem fact, decimal-exact ratio. */
  def qPartJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir).select($"p_partkey", $"p_brand", $"p_type")
    val rev = dec($"l_extendedprice") * (lit(1) - dec($"l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        sum(rev).cast(DoubleType).as("revenue"),
        coalesce(sum(when($"p_type" === "PROMO", rev)), lit(0))
          .cast(DoubleType).as("promo_revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Pivot / cross-tab: per-user event-type counts as columns via
    * conditional aggregation (one shuffle; the form PIVOT lowers to). */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    val counts = types.map(t =>
      sum(when($"event_type" === t, 1L).otherwise(0L)).as(s"n_$t"))
    graft.sources.Tables.events(spark, dir)
      .groupBy($"user_id")
      .agg(counts.head, counts.tail :+ count(lit(1)).as("n_total"): _*)
  }

  /** As-of join: each event picks the most recent (≤ ts) daily order
    * aggregate of its user. Implemented with the union+window trick —
    * ONE shuffle on user, no range cross-join — which is the shape
    * that survives 100 TB (a per-event×per-order join would not).
    */
  def qAsOf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(dsum($"o_totalprice").as("day_total"))
      .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
        lit(0).as("is_event"), lit(null).cast(LongType).as("event_id"),
        $"o_orderdate".as("od"), $"day_total")
    val ev = Tables.events(spark, dir)
      .select($"user_id".as("u"), $"ts".as("t"),
        lit(1).as("is_event"), $"event_id",
        lit(null).cast("timestamp").as("od"), lit(null).cast(DoubleType).as("day_total"))
    val w = Window.partitionBy($"u").orderBy($"t".asc, $"is_event".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.unionByName(ev)
      .withColumn("last_order_date", last($"od", ignoreNulls = true).over(w))
      .withColumn("last_day_total", last($"day_total", ignoreNulls = true).over(w))
      .filter($"is_event" === 1)
      .select($"event_id", $"u".as("user_id"), $"t".as("ts"),
        $"last_order_date", $"last_day_total")
  }

  /** The same as-of join through the custom whole-operator path
    * (graft.plans.AsOfJoinPlan / AsOfStrategy / AsOfJoinExec): a
    * first-class Catalyst node planned into a co-partitioned sorted
    * merge — one shuffle+sort per side, O(1) per-partition state —
    * demonstrating the LogicalPlan+Strategy+SparkPlan extension tier
    * beside the composed union+window shape of [[qAsOf]]. Same oracle.
    */
  def qAsOfNative(spark: SparkSession, dir: String): DataFrame =
    asOfNative(spark, dir, tolerance = None)

  /** The capability that justifies the custom operator's existence:
    * an as-of join with a per-row RECENCY BOUND — each event matches
    * its user's most recent daily order aggregate only when that
    * aggregate is at most `tolDays` old, else nulls. The union+window
    * shape of [[qAsOf]] cannot express this (`last(_, ignoreNulls)`
    * has no per-row age condition without a second pass), while the
    * merge exec decides it with one comparison on its existing O(1)
    * state. */
  def qAsOfTolerance(spark: SparkSession, dir: String, tolDays: Long = 8500L): DataFrame =
    asOfNative(spark, dir, Some(tolDays * 86400L * 1000000L))

  private def asOfNative(spark: SparkSession, dir: String,
      tolerance: Option[Long]): DataFrame = {
    import spark.implicits._
    import graft.plans.{AsOfJoinPlan, AsOfStrategy}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // idempotent registration; also injected by GraftExtensions for
    // sessions built with spark.sql.extensions
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    val ev = Tables.events(spark, dir).select($"event_id", $"user_id", $"ts")
    // pre-partition the aggregate's input on the JOIN key only: hash
    // clustering on o_custkey satisfies both the groupBy's
    // (o_custkey, o_orderdate) clustering AND the merge exec's
    // o_custkey requirement, so the right side shuffles ONCE — without
    // this, the agg shuffles on the pair key and EnsureRequirements
    // inserts a second custkey exchange just for the join (the
    // share-a-partitioning-across-stages pattern; at 100 TB the saved
    // exchange is a full pass over the orders aggregate)
    val daily = Tables.orders(spark, dir)
      .repartition($"o_custkey")
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(dsum($"o_totalprice").as("day_total"))
    val lPlan = ColumnBridge.analyzed(ev)
    val rPlan = ColumnBridge.analyzed(daily)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      p.output.find(_.name == name).get
    val joined = ColumnBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, "user_id"), attr(rPlan, "o_custkey"),
      attr(lPlan, "ts"), attr(rPlan, "o_orderdate"), tolerance))
    // o_orderdate is TIMESTAMP_NTZ in the source; align with qAsOf's
    // session-time output type so both shapes share one oracle
    joined.select($"event_id", $"user_id", $"ts",
      $"o_orderdate".cast("timestamp").as("last_order_date"),
      $"day_total".as("last_day_total"))
  }

  /** Forward as-of join (`q_asof_forward`): each non-purchase event
    * matched to its user's NEXT purchase at-or-after it — the
    * time-to-conversion view, the forward twin of [[qAsOf]]'s "most
    * recent before". No second physical operator: the SAME merge exec
    * runs on NEGATED integer µs, because most-recent(−t ≤ −l) elects
    * exactly next(t ≥ l) — direction is a property of the time ORDER,
    * not the algorithm, and the exec's analysis-time validation
    * admits LongType time columns for precisely this composition.
    * Equal instants match in both directions (≤ survives negation as
    * ≥). The purchase side pre-aggregates to unique (user, instant)
    * rows (decimal-exact value) with the [[qAsOfNative]]
    * single-shuffle right-side trick: hash on user_id satisfies both
    * the groupBy and the exec's distribution. */
  def qAsOfForward(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.plans.{AsOfJoinPlan, AsOfStrategy}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    val ev = Tables.events(spark, dir)
      .filter($"event_type" =!= "purchase")
      .select($"event_id", $"user_id", $"ts",
        (-unix_micros($"ts")).as("neg_us"))
    val purchases = Tables.events(spark, dir)
      .filter($"event_type" === "purchase")
      .repartition($"user_id")
      .groupBy($"user_id".as("p_user"), $"ts".as("pts"))
      .agg(dsum($"value").as("purchase_value"))
      .withColumn("neg_us", -unix_micros($"pts"))
    val lPlan = ColumnBridge.analyzed(ev)
    val rPlan = ColumnBridge.analyzed(purchases)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      p.output.find(_.name == name).get
    val joined = ColumnBridge.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attr(lPlan, "user_id"), attr(rPlan, "p_user"),
      attr(lPlan, "neg_us"), attr(rPlan, "neg_us"), None))
    joined.select($"event_id", $"user_id", $"ts",
      $"pts".as("next_purchase_ts"),
      when($"pts".isNotNull,
        unix_micros($"pts") - unix_micros($"ts")).as("wait_us"),
      $"purchase_value")
  }

  /** Exact grouped quantiles without interpolation: discrete p50/p95
    * picked by rank from one sort-within-group window pass — a single
    * shuffle on the group key, the honest cost of EXACT quantiles
    * (approximate sketches trade this for bounded memory but are not
    * engine-portable bit-for-bit). Rank selection over values is
    * deterministic regardless of tie order: ties share the value
    * being picked. */
  def qQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byFlag = Window.partitionBy($"l_returnflag")
    val w = byFlag.orderBy($"l_extendedprice".asc)
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_extendedprice")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byFlag))
      .groupBy($"l_returnflag")
      .agg(max(when($"rn" === ceil($"n" * 0.5d), $"l_extendedprice")).as("p50"),
        max(when($"rn" === ceil($"n" * 0.95d), $"l_extendedprice")).as("p95"),
        max($"n").as("n_rows"))
  }

  /** Approximate grouped quantiles via DETERMINISTIC hash sampling:
    * keep rows whose row-key polynomial hash lands under `pct`% of
    * the hash space (a content-addressed uniform sample — the same
    * rows on every engine and every run, unlike rand() or
    * reservoir/KLL sketches whose state is arrival-order-dependent
    * and therefore not oracle-comparable), then take EXACT rank
    * quantiles of the sample. The scan-local filter drops (100-pct)%
    * of the data before the only shuffle, so the sort that dominates
    * [[qQuantiles]] runs on pct% of the rows — the trade a 100 TB
    * quantile query actually wants, with the sampling rule auditable
    * and reproducible. */
  def qQuantilesApprox(spark: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    import spark.implicits._
    // l_linenumber in 1..7, so orderkey*10+linenumber is a unique
    // row key; Knuth multiplicative hash in pure int64 arithmetic —
    // identical in any engine with exact 64-bit ints, and free of the
    // per-row string allocation a text hash would pay on every scanned
    // row (measured: the string form made sampling COST more than the
    // full exact sort at sf0.1)
    // reduce mod P BEFORE the multiply so the product stays under
    // 2^63 for any orderkey (engines differ on int64 overflow:
    // Spark wraps, DuckDB raises)
    val rowKey = ($"l_orderkey" * 10 + $"l_linenumber") % 1000000007L
    val sampled = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
      .filter((rowKey * 2654435761L) % 1000000007L % 100 < pct)
    val byFlag = Window.partitionBy($"l_returnflag")
    val w = byFlag.orderBy($"l_extendedprice".asc)
    sampled
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(byFlag))
      .groupBy($"l_returnflag")
      .agg(max(when($"rn" === ceil($"n" * 0.5d), $"l_extendedprice")).as("p50"),
        max(when($"rn" === ceil($"n" * 0.95d), $"l_extendedprice")).as("p95"),
        max($"n").as("n_sampled"))
  }

  /** The salted-join infrastructure on the gated surface: lineitem
    * joined to supplier through Skew.saltedJoin (content-hash salt,
    * dim replicated across salt buckets) must produce exactly the
    * plain join's aggregate — the salt changes the shuffle layout,
    * never the result. */
  def qSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val supp = Tables.supplier(spark, dir)
      .select($"s_suppkey".as("l_suppkey"), $"s_nationkey")
    val li = Tables.lineitem(spark, dir)
      .select($"l_suppkey", $"l_extendedprice", $"l_discount")
    Skew.saltedJoin(li, supp, "l_suppkey", buckets = 8)
      .groupBy($"s_nationkey")
      .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
        .cast(DoubleType).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Distinct-count sketch beside the exact count: the KMV aggregate
    * ([[graft.plans.KMinValues]]) keeps only the k smallest distinct
    * hash values per group — O(k) aggregation buffers and at most k
    * longs per group on the shuffle, where COUNT(DISTINCT) moves
    * every distinct value. Estimate = (k-1)·M/kth-min (exact size
    * when the group has fewer than k distinct hashes). Deterministic
    * hash ⇒ the oracle computes the identical sketch. */
  def qSketchDistinct(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    val h = HashFns.polyHash($"l_partkey".cast("string"))
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_exact"),
        graft.plans.Sketch.kMinValues(h, k).as("kmv"))
      .select($"l_returnflag", $"n_exact",
        when(size($"kmv") < k, size($"kmv").cast(DoubleType))
          .otherwise(lit((k - 1).toDouble) * lit(HashFns.P.toDouble) /
            element_at($"kmv", k).cast(DoubleType))
          .as("est_distinct"))
  }

  /** KMV sketch SET ALGEBRA (`q_sketch_setops`) — the mergeability
    * story that makes distinct-count sketches a 100 TB primitive: per
    * event type the audience compresses to a k-min-values sketch
    * (one partial-aggregated pass, ≤ k longs per type on the wire),
    * and then ANY pair's union estimates from the MERGED sketches
    * alone — k smallest of the two hash sets' union — with the
    * intersection by inclusion–exclusion. No second corpus pass per
    * pair: T types cost one scan + T(T−1)/2 dimension-sized merges,
    * where the exact answer joins the corpus per pair. The exact
    * per-pair overlap (computed here as ground truth, the ann_brute
    * pattern) collapses the stream to distinct (type, user) rows
    * first, so even the baseline shuffles ∝ users·types, never raw
    * events.
    *
    * Estimates are DETERMINISTIC (the polynomial hash is fixed, the
    * k-th order statistic of a set has one value), so the DuckDB
    * oracle replays them exactly — no tolerance band hiding a broken
    * merge. */
  def qSketchSetops(spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // identified members only (the bitmap-audience null contract):
    // a NULL user hashes to a NULL kmv slot Spark keeps but DuckDB's
    // list ops drop, and the exact pair join drops it anyway
    val ut = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"event_type".isNotNull)
      .select($"event_type", $"user_id").distinct()
    val perType = ut
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_exact"),
        graft.plans.Sketch.kMinValues(HashFns.polyHash($"user_id".cast("string")), k)
          .as("kmv"))
    def est(kmvCol: Column): Column =
      when(size(kmvCol) < k, size(kmvCol).cast(DoubleType))
        .otherwise(lit((k - 1).toDouble) * lit(HashFns.P.toDouble) /
          element_at(kmvCol, k).cast(DoubleType))
    // exact pair overlap: the ground-truth baseline (corpus-joining
    // per pair is exactly what the sketches avoid)
    val inter = ut.as("a")
      .join(ut.as("b"), $"a.user_id" === $"b.user_id" &&
        $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    val pairs = perType.as("x")
      .join(perType.as("y"), $"x.event_type" < $"y.event_type")
      .select($"x.event_type".as("type_a"), $"y.event_type".as("type_b"),
        $"x.n_exact".as("n_a"), $"y.n_exact".as("n_b"),
        slice(array_sort(array_distinct(concat($"x.kmv", $"y.kmv"))), 1, k)
          .as("kmv_u"),
        est($"x.kmv").as("est_a"), est($"y.kmv").as("est_b"))
    pairs.join(inter, Seq("type_a", "type_b"))
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_inter_exact",
        ($"n_a" + $"n_b" - $"n_inter_exact").as("n_union_exact"),
        est($"kmv_u").as("est_union"),
        ($"est_a" + $"est_b" - est($"kmv_u")).as("est_inter"))
  }

  /** Left-outer join with the dimension on the PRESERVED side:
    * per-customer 1996 order activity where customers with no
    * qualifying orders survive with n_orders = 0 (the "all entities,
    * even inactive" report shape inner joins silently drop).
    *
    * Scale posture: the fact table aggregates FIRST — the year filter
    * pushes to the parquet scan and the per-custkey rollup partial-
    * aggregates map-side, so the outer join only ever sees one row
    * per active customer, never raw order rows. The join itself hashes
    * on custkey (both sides shuffle ∝ customers — at 100 TB the
    * aggregated side is the small one and AQE will broadcast it when
    * it fits). `spend` stays NULL for order-less customers (absence,
    * not zero — the decimal sum never fabricates a value). */
  def qOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
              $"o_orderdate" < to_timestamp(lit("1997-01-01")))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("spend"))
    Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
      .join(ord, $"c_custkey" === $"o_custkey", "left_outer")
      .select($"c_custkey", $"c_mktsegment",
        coalesce($"n", lit(0L)).as("n_orders"), $"spend")
  }

  /** Fixed-width histogram per group — the data-profiling shape
    * behind every optimizer statistic and data-quality dashboard
    * ("what does the price distribution per return flag look like?"):
    * each row buckets scan-local (`floor(value / width)` — IEEE
    * division + floor, identical on every engine) and the counts
    * partial-aggregate map-side into ONE shuffle whose size is the
    * number of OCCUPIED (group, bucket) cells, never the row count.
    *
    * At 100 TB this is the cheap first pass that decides everything
    * downstream (skew detection for [[qSkewJoin]]'s salting, bucket
    * boundaries for range partitioning): no sort, no window, no
    * second scan — the same plan shape as [[q1Agg]] with a computed
    * group key. */
  def qHistogram(spark: SparkSession, dir: String,
      width: Double = 500.0d): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag",
        floor($"l_extendedprice" / lit(width)).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_quantity").as("sum_qty"))
  }

  /** Ordered string aggregation per group (the journey/sequence
    * export: "each customer's order statuses in chronological
    * order") — the shape that turns relational history into the
    * sequence strings downstream ML and funnel tools consume.
    *
    * `collect_list` gives NO ordering guarantee under parallel
    * aggregation, so the elements carry their own sort key: structs
    * of (date, key, value) sort IN the aggregation buffer
    * (`array_sort` — field-order comparison, (date, key) is a total
    * order so ties cannot exist) and only then project down to the
    * joined string. Per-group state is bounded by per-entity
    * cardinality (orders per customer), NOT corpus size — the
    * operator is safe exactly when that bound is (cap with a
    * [[Curation.corpusCap]]-style top-k first when it isn't); one
    * partial-aggregated shuffle on the entity key. */
  def qStringAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        array_join(
          transform(
            array_sort(collect_list(struct($"o_orderdate", $"o_orderkey",
              $"o_orderstatus"))),
            c => c.getField("o_orderstatus")),
          ",").as("status_seq"))
  }

  /** Correlated aggregate subquery (the TPC-H Q17 shape: "lineitems
    * below 20% of their part's average quantity") — the
    * compare-each-row-to-its-group-statistic pattern every
    * per-entity-threshold report uses.
    *
    * Decorrelated by hand into the plan Catalyst would also produce:
    * the per-part statistics aggregate FIRST (partial-aggregated
    * shuffle on l_partkey), then join back to the fact on the SAME
    * key — the join reuses the aggregation's hash partitioning, so
    * the correlated lookup costs one exchange, never a per-row
    * subquery. The 20%-of-average threshold is evaluated WITHOUT a
    * division: `qty < 0.2 * sum/n  ⟺  5 * qty * n < sum`, all in
    * decimal/integer arithmetic — exact in any engine, no IEEE
    * rounding in the predicate. The part dim broadcasts. */
  def qCorrSubquery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", dec($"l_quantity").as("qty"),
        dec($"l_extendedprice").as("price"))
    val stats = li.groupBy($"l_partkey")
      .agg(sum($"qty").as("sum_qty"), count(lit(1)).as("n"))
    val brands = Tables.part(spark, dir).select($"p_partkey", $"p_brand")
    li.join(stats, "l_partkey")
      .filter(lit(5) * $"qty" * $"n" < $"sum_qty")
      .join(broadcast(brands), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(count(lit(1)).as("n_small_items"),
        sum($"price").cast(DoubleType).as("small_revenue"))
  }

  /** Interpolated (continuous) grouped quantiles — the
    * PERCENTILE_CONT twin of [[qQuantiles]]' discrete ranks: the
    * p-quantile sits at fractional rank 1 + p·(n−1), and when that
    * falls between two elements the estimate interpolates linearly.
    * Same single sort-within-group window pass; the two straddling
    * elements are selected BY RANK (deterministic under ties) and the
    * interpolation is a fixed tree of correctly-rounded IEEE ops —
    * engine-exact, unlike native percentile_cont implementations
    * whose internal summation orders differ. */
  def qQuantilesCont(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".asc, $"l_orderkey".asc, $"l_linenumber".asc)
    val n = Window.partitionBy($"l_returnflag")
    val ranked = Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(n))
    def contQ(p: Double, out: String): Column = {
      // fractional rank h = 1 + p(n-1); lo = floor(h), hi = lo + 1.
      // hRow (per-row, group-constant) selects the straddling
      // elements inside the aggregates; hAgg (over max(n)) is the
      // same value in aggregate scope for the interpolation weight
      val hRow = lit(1.0d) + lit(p) * ($"n" - 1L).cast(DoubleType)
      val loRow = floor(hRow)
      val loV = max(when($"rn" === loRow, $"l_extendedprice"))
      val hiV = max(when($"rn" === loRow + 1L, $"l_extendedprice"))
      val hAgg = lit(1.0d) + lit(p) * (max($"n") - 1L).cast(DoubleType)
      // v = lo_v + (h - lo)(hi_v - lo_v); exact rank ⇒ hi row absent
      (loV + (hAgg - floor(hAgg)) * (coalesce(hiV, loV) - loV)).as(out)
    }
    ranked.groupBy($"l_returnflag")
      .agg(contQ(0.5d, "p50_cont"), contQ(0.95d, "p95_cont"),
        max($"n").as("n_rows"))
  }

  /** Histogram-sketch quantiles — the MERGEABLE approximate-quantile
    * shape ([[qQuantiles]] sorts every group member; this never sorts
    * rows at all): values bucket scan-local into fixed `width` bins
    * (q_histogram's pass), bucket counts partial-aggregate map-side
    * into ONE shuffle sized by OCCUPIED buckets, the tiny cumulative
    * walk over ≤ range/width buckets finds the first bucket covering
    * rank ceil(q·n), and the estimate is that bucket's upper bound —
    * error ≤ `width` by construction, deterministic on any engine
    * (integer counts + one fixed multiply). THE shape for 100 TB
    * dashboards: per-partition histograms merge by vector addition,
    * which is exactly what partial aggregation does for free. */
  def qQuantilesHist(spark: SparkSession, dir: String,
      width: Double = 500.0d): DataFrame =
    quantilesHistAssembly(quantilesHistCensus(Tables.lineitem(spark, dir), width), width)

  /** The (l_returnflag, bucket, c) histogram of [[qQuantilesHist]]
    * over lineitem rows, shared with the streaming twin
    * (StreamQuantilesHist). */
  def quantilesHistCensus(li: DataFrame, width: Double): DataFrame =
    li.groupBy(col("l_returnflag"),
        floor(col("l_extendedprice") / lit(width)).cast(LongType).as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** The post-census walk of [[qQuantilesHist]], shared with the
    * streaming twin (StreamQuantilesHist): everything here reduces
    * the (flag, bucket, c) histogram — ∝ occupied buckets, never
    * rows. The per-partition histograms the census merges by vector
    * addition are exactly what a streaming state store accumulates,
    * which is why the twin shares this code verbatim. */
  def quantilesHistAssembly(b: DataFrame, width: Double = 500.0d): DataFrame = {
    val spark = b.sparkSession
    import spark.implicits._
    val byFlag = Window.partitionBy($"l_returnflag")
    val cum = b
      .withColumn("cumc", sum($"c").over(
        byFlag.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum($"c").over(byFlag))
    def est(p: Double, out: String): Column =
      ((min(when($"cumc" >= ceil(lit(p) * $"n"), $"bucket")) + 1L) * lit(width)).as(out)
    cum.groupBy($"l_returnflag")
      .agg(est(0.5d, "p50_est"), est(0.95d, "p95_est"),
        max($"n").as("n_rows"))
  }

  /** Per-group argmax (the "top entity per group" lookup: each
    * nation's highest-balance customer) as ONE partial-aggregated
    * pass — `max(struct(value, -key))` compares field-by-field inside
    * the aggregation buffer, so the winner is elected map-side and
    * only one struct per group crosses the shuffle. The window
    * formulation (`row_number() ... rank = 1`) sorts every group's
    * full membership to keep one row; at 100 TB that is a sort of the
    * corpus vs an O(groups) aggregate. Ties break to the SMALLER
    * custkey (the negated key makes struct-max pick it) —
    * deterministic on both engines. The nation dim broadcasts. */
  def qArgmax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val top = Tables.customer(spark, dir)
      .groupBy($"c_nationkey")
      .agg(max(struct($"c_acctbal".as("v"), (-$"c_custkey").as("nk"))).as("m"),
        count(lit(1)).as("n_customers"))
      .select($"c_nationkey", $"m.v".as("top_acctbal"),
        (-$"m.nk").as("top_custkey"), $"n_customers")
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    top.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"top_custkey", $"top_acctbal", $"n_customers")
  }

  /** Null-key skew join (`q_nullskew_join`): a 10%-null join key
    * (suppkey nulled where divisible by 10 — the "unattributed
    * rows" shape of real fact tables) left-joined to supplier
    * WITHOUT shipping the null rows through the exchange. In a plain
    * shuffled left join every null key hashes to the same reducer —
    * one task absorbs 10% of the fact table at 100 TB while its
    * peers idle. [[Skew.nullSplitLeftJoin]] routes nulls around the
    * join (they can never match) and unions them back with NULL dim
    * columns, so the exchange carries only matchable rows and stays
    * balanced. The rollup buckets unmatched rows under nationkey -1. */
  def qNullSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select(when($"l_suppkey" % 10 === 0, lit(null).cast(LongType))
          .otherwise($"l_suppkey").as("k"),
        $"l_quantity")
    val sup = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    Skew.nullSplitLeftJoin(li, sup, "k", "s_suppkey")
      .groupBy(coalesce($"s_nationkey".cast(LongType), lit(-1L)).as("nationkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec($"l_quantity")).cast(DoubleType).as("sum_qty"))
  }

  /** HyperLogLog distinct count (`q_hll_distinct`) — the industry-
    * standard cardinality sketch alongside the KMV variant
    * (q_sketch_distinct), built ENTIRELY from composed codegen'd
    * functions and therefore bit-replayable by the oracle: the rho
    * (leading-zero rank) of each hashed value computes as
    * `26 − length(bin(w))` — an integer STRING-length trick both
    * engines evaluate identically, where a float log2 would go
    * nondeterministic at powers of two. m = 32 registers (raw-regime
    * bias at the smallest SF's per-group cardinality stays within
    * ~1.5σ, where m = 64 would sit at n ≈ 3m inside HLL++'s
    * bias-correction zone); the harmonic-mean denominator
    * accumulates as the EXACT integer Σ 2^(30−r) (≤ 32·2^30, no
    * overflow), so the only double — the final estimate — derives
    * from one integer in one fixed expression. Pipeline: distinct
    * (type, id) pairs → per-bucket max-rho (the register file: ≤ 32
    * rows per group cross the final
    * shuffle regardless of cardinality) → per-group fold. The exact
    * count rides the same pipeline (Σ per-bucket pair counts) purely
    * as the gate's accuracy reference — a production 100 TB run
    * keeps only the register path, whose state is 64 bytes per
    * group.
    *
    * The emitted estimate is the RAW harmonic mean, valid for
    * n ≳ 2.5·m (the sketched key is the high-cardinality event_id,
    * which is in that regime at every SF). Below it HLL prescribes
    * linear counting, m·ln(m/V) — deliberately NOT folded in here:
    * ln() is libm, whose last-ulp varies across engines, and the
    * n_filled_buckets column (V = 64 − filled) gives a consumer
    * everything the correction needs. */
  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.events(spark, dir)
      .select($"event_type", $"event_id").distinct()
    val withH = pairs
      .withColumn("h", ($"event_id" * 1013904223L + 12345L) % 2147483647L)
      .withColumn("bucket", $"h" % 32L)
      .withColumn("w", expr("h div 32"))
      .withColumn("rho", when($"w" === 0L, lit(27L))
        .otherwise((lit(27) - length(bin($"w"))).cast(LongType)))
    val regs = withH.groupBy($"event_type", $"bucket")
      .agg(max($"rho").as("r"), count(lit(1)).as("nu"))
    regs.groupBy($"event_type")
      .agg(sum(pow(lit(2.0d), (lit(30L) - $"r").cast(DoubleType)).cast(LongType))
          .as("denom_present"),
        count(lit(1)).as("n_buckets"), sum($"nu").as("n_exact"))
      .select($"event_type", $"n_exact",
        ($"denom_present" + (lit(32L) - $"n_buckets") * lit(1073741824L))
          .as("denom_scaled"),
        $"n_buckets".as("n_filled_buckets"))
      .withColumn("hll_est",
        lit(0.697d) * lit(1024.0d) * lit(1073741824.0d) /
          $"denom_scaled".cast(DoubleType))
  }

  /** Per-group top-K (each nation's k highest-balance customers) via
    * the bounded-heap aggregate (graft.plans.TopKPairs): at most k
    * (value, key) structs live in any aggregation buffer and at most
    * k cross the shuffle per group, where the window formulation
    * shuffles and sorts EVERY customer row to discard all but k.
    * Generalizes q_argmax's max(struct) election from k = 1 to any k;
    * ties are deterministic (value desc, key asc). Rank materializes
    * from the array position (posexplode), not a second sort. */
  def qTopKGroup(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    Tables.customer(spark, dir)
      .groupBy($"c_nationkey")
      .agg(graft.plans.Sketch.topKPairs($"c_acctbal", $"c_custkey", k).as("top"))
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", posexplode($"top"))
      .select($"n_name", ($"pos" + 1).cast(LongType).as("rnk"),
        $"col.key".as("c_custkey"), $"col.value".as("c_acctbal"))
  }

  /** Pareto / ABC analysis (`q_pareto`): parts ranked by revenue,
    * cumulative revenue share, and the classic A/B/C class cut
    * (≤80% / ≤95% / tail) — the "which 20% of SKUs carry 80% of
    * revenue" rollup.
    *
    * Scale shape: the fact table is REDUCED FIRST — a partial-
    * aggregated groupBy collapses 100 TB of lineitem to one decimal
    * row per part — and only then does the single-partition
    * cumulative window run, over dimension-cardinality rows (#parts,
    * millions at most). That global sort over the aggregate is the
    * honest cost of a cumulative distribution, and it is the CHEAP
    * side of the plan; the thing to never do is window the facts.
    * Revenue stays DECIMAL through both window sums (cumulative and
    * grand total ride the same sort, exact), so the one float
    * division per part is deterministic and oracle-replayable. */
  def qPareto(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rev = Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(sum(dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
        .as("rev_d"))
    val order = Window.orderBy($"rev_d".desc, $"l_partkey".asc)
    val all = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rev
      .withColumn("rnk", row_number().over(order).cast(LongType))
      .withColumn("cum_share",
        (sum($"rev_d").over(order).cast(DoubleType) /
          sum($"rev_d").over(all).cast(DoubleType)))
      .withColumn("abc_class",
        when($"cum_share" <= 0.80d, "A")
          .when($"cum_share" <= 0.95d, "B")
          .otherwise("C"))
      .select($"l_partkey", $"rev_d".cast(DoubleType).as("revenue"),
        $"rnk", $"cum_share", $"abc_class")
  }

  /** Equal-frequency quartile profile of customer balances
    * (`q_ntile`): `ntile(4)` over (balance, key) — the
    * bucket-boundary summary a pricing/segmentation pipeline wants
    * (each tile's population, range, and exact mean).
    *
    * Scale shape: ntile needs a global order — at 100 TB swap the
    * exact global sort for `approx_percentile`-derived boundaries
    * plus a scan-local bucket assignment (the q_quantiles_approx
    * pattern); the exact form here is the correctness oracle for
    * that swap. The tie-break on c_custkey makes the assignment a
    * total order, so both engines bucket identically. Per-tile means
    * divide an exact decimal sum by an exact count — one
    * deterministic double each. */
  def qNtile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val order = Window.orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_acctbal")
      .withColumn("tile", ntile(4).over(order).cast(LongType))
      .groupBy($"tile")
      .agg(
        count(lit(1)).as("n_customers"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"),
        (sum(dec($"c_acctbal")).cast(DoubleType) / count(lit(1))).as("avg_bal"))
  }

  /** Bloom-prefiltered fact⋈dim join (`q_bloom_join`) — the runtime
    * row-level filtering pattern for the join every warehouse has:
    * a selective dim predicate (urgent orders) would normally still
    * shuffle the ENTIRE fact side, because the fact scan cannot see
    * the dim filter. Here the qualifying dim keys aggregate into a
    * Bloom filter INSIDE the plan (scalar subquery — Spark's own
    * codegen'd BloomFilterAggregate, no driver collect), the fact
    * scan probes it per row, and only might-contain survivors (true
    * matches + the FP rate) reach the shuffle. The final equi-join
    * stays exact — Bloom has no false negatives, so the oracle is
    * the PLAIN SQL join, and the result is bit-identical to the
    * unfiltered plan.
    *
    * At 100 TB this is the difference between shuffling the whole
    * fact table and shuffling ~the selectivity fraction of it; the
    * same shape Spark's InjectRuntimeFilter rule applies when it
    * fires, written explicitly so the pruning is guaranteed, not
    * heuristic. The operator fails loudly if the probe did NOT prune
    * (a Bloom that passes everything is a scan, not a filter). */
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val dim = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
    val bloom = dim
      .agg(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(xxhash64($"o_orderkey")))
          .toAggregateExpression()).as("bf"))
      .scalar()
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(bloom),
      ColumnBridge.expression(xxhash64($"l_orderkey"))))
    val fact = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_quantity", $"l_extendedprice")
    // loud pruning contract, one scan: the probe must reject a
    // meaningful fraction of the fact side (urgent ≈ 1/5 of orders)
    val gate = fact.agg(
      sum(when(mightContain, 1L).otherwise(0L)).as("kept"),
      count(lit(1)).as("total")).head()
    val (kept, total) = (gate.getLong(0), gate.getLong(1))
    if (total > 0 && kept * 10 >= total * 9)
      throw new IllegalStateException(
        s"bloom probe did not prune: $kept of $total fact rows survive — " +
          "a filter that passes (almost) everything is a scan, not a filter")
    fact.filter(mightContain)
      .join(dim, $"l_orderkey" === $"o_orderkey")
      .groupBy(year($"o_orderdate").cast(LongType).as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("revenue"))
  }

  /** EXACT audience set algebra via fixed-width bitmap segments
    * (`q_bitmap_audience`) — the Roaring-bitmap shape, complementing
    * the approximate KMV path (`q_sketch_setops`): per event type,
    * users compress into 64-user blocks (block = user_id div 64, one
    * bit per user, merged with bit_or — idempotent, so no distinct
    * pass is needed and partial aggregation combines map-side). All
    * set algebra then runs over words: intersection = popcount(a & b)
    * summed over co-located blocks, |A∪B| = |A| + |B| − |A∩B|.
    *
    * Scale posture: the only event-table scan feeds a groupBy whose
    * exchange carries (types × populated blocks) words — users/64 per
    * type, ~1.5% of the distinct-pairs shuffle `qSketchSetops`'s exact
    * baseline pays — and every pairwise operation after that touches
    * bitmap segments only, never raw events. Bitmaps are mergeable
    * state: at 100 TB the same words aggregate hierarchically
    * (partition → executor → final) and persist as a reusable audience
    * index. Pairs with an empty intersection are dropped (the inner
    * block join never materializes them). */
  def qBitmapAudience(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the words index is consumed four times (both join sides + both
    // cardinality legs) — checkpoint it so the event table is scanned
    // ONCE; without this the plan re-derives the groupBy per consumer
    // (4 full corpus scans at 100 TB for a users/64-sized result)
    // floor semantics ((id - pmod)/64, pmod bit) keep the packing
    // total over NEGATIVE ids too: truncating DIV + signed % would
    // alias user -1 with user 63 into the same (block 0, bit 63)
    // slot, silently undercounting vs the DISTINCT-user oracle
    // NULL user_id is excluded EXPLICITLY (an audience is identified
    // users; a bitmap has no null slot) — without the filter Spark
    // drops nulls implicitly via null bit words while the DISTINCT
    // oracle counts NULL as a member, and the two diverge
    val words = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"event_type".isNotNull)
      .select($"event_type",
        expr("(user_id - pmod(user_id, 64)) DIV 64").as("block"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 64) AS INT))").as("bit"))
      .groupBy($"event_type", $"block")
      .agg(expr("bit_or(bit)").as("word"))
      .localCheckpoint()
    // per-type exact cardinality: popcount over that type's words
    val perType = words.groupBy($"event_type")
      .agg(sum(expr("bit_count(word)")).as("n"))
    val inter = words.as("a")
      .join(words.as("b"), $"a.block" === $"b.block" &&
        $"a.event_type" < $"b.event_type")
      .groupBy($"a.event_type".as("type_a"), $"b.event_type".as("type_b"))
      .agg(sum(expr("bit_count(a.word & b.word)")).as("n_inter"))
      .filter($"n_inter" > 0L)
    inter
      .join(broadcast(perType.select($"event_type".as("type_a"), $"n".as("n_a"))), "type_a")
      .join(broadcast(perType.select($"event_type".as("type_b"), $"n".as("n_b"))), "type_b")
      .select($"type_a", $"type_b", $"n_a", $"n_b", $"n_inter",
        ($"n_a" + $"n_b" - $"n_inter").as("n_union"),
        ($"n_inter".cast(DoubleType) /
          ($"n_a" + $"n_b" - $"n_inter").cast(DoubleType)).as("jaccard"))
  }

  /** Per-group statistical mode (`q_mode`): each nation's modal
    * market segment among its customers. The census
    * groupBy(nation, segment) partial-aggregates map-side (shuffle ∝
    * occupied cells, never customers), then the winner election is
    * the q_argmax `min(struct)` trick — (−count, segment) orders
    * "highest count, then alphabetically first segment" so the tie
    * break is total and deterministic, and the election itself
    * partial-aggregates (one struct per buffer). The window
    * formulation (`ROW_NUMBER` over the census) would sort every
    * census cell per nation just to keep one row. */
  def qMode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val census = Tables.customer(spark, dir)
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("n"))
    val top = census.groupBy($"c_nationkey")
      .agg(min(struct((-$"n").as("negn"), $"c_mktsegment".as("seg"))).as("m"),
        sum($"n").as("n_customers"),
        count(lit(1)).as("n_segments"))
      .select($"c_nationkey", $"m.seg".as("mode_segment"),
        (-$"m.negn").as("n_mode"), $"n_customers", $"n_segments")
    val nat = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    top.join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"mode_segment", $"n_mode", $"n_customers",
        $"n_segments")
  }

  /** Relative-standing window functions (`q_percent_rank`): each
    * customer's percent_rank and cume_dist of account balance within
    * its nation — the peer-percentile readout ntile buckets
    * ([[qNtile]]) are too coarse for. The order key includes the
    * primary key, so the order is TOTAL: percent_rank reduces to
    * (rn−1)/(n−1) and cume_dist to rn/n — each ONE division of exact
    * longs, deterministic on both engines (a value-only ordering
    * would leave tie groups engine-ordered). One exchange, one sort;
    * window state is O(1) per frame. */
  def qPercentRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"c_nationkey")
      .orderBy($"c_acctbal".asc, $"c_custkey".asc)
    Tables.customer(spark, dir)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
  }

  /** Nearest-neighbor as-of join (`q_asof_nearest`) — completes the
    * as-of family: each event matches its user's temporally CLOSEST
    * daily order aggregate, in either direction (q_asof looks only
    * backward, q_asof_forward only forward); exact time ties break
    * backward. Same union+window composition as [[qAsOf]]: the daily
    * aggregates and the events union into ONE stream sorted per user,
    * the backward candidate is a running `last(ignoreNulls)` and the
    * forward candidate a `first(ignoreNulls)` over the following
    * frame on the SAME sort — one exchange, two window passes, no
    * range join. The is_event sort bit places each event AFTER a
    * same-instant order for the backward pass and BEFORE none for the
    * forward pass, so a same-µs order is "distance zero backward" on
    * both engines. */
  def qAsOfNearest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy($"o_custkey", $"o_orderdate")
      .agg(dsum($"o_totalprice").as("day_total"))
      .select($"o_custkey".as("u"), $"o_orderdate".as("t"),
        lit(0).as("is_event"), lit(null).cast(LongType).as("event_id"),
        $"o_orderdate".as("od"), $"day_total")
    val ev = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id".as("u"), $"ts".as("t"),
        lit(1).as("is_event"), $"event_id",
        lit(null).cast("timestamp").as("od"), lit(null).cast(DoubleType).as("day_total"))
    val wBack = Window.partitionBy($"u").orderBy($"t".asc, $"is_event".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy($"u").orderBy($"t".asc, $"is_event".asc)
      .rowsBetween(1, Window.unboundedFollowing)
    daily.unionByName(ev)
      .withColumn("back_od", last($"od", ignoreNulls = true).over(wBack))
      .withColumn("back_total", last($"day_total", ignoreNulls = true).over(wBack))
      .withColumn("fwd_od", first($"od", ignoreNulls = true).over(wFwd))
      .withColumn("fwd_total", first($"day_total", ignoreNulls = true).over(wFwd))
      .filter($"is_event" === 1)
      .withColumn("back_gap", unix_micros($"t") - unix_micros($"back_od"))
      .withColumn("fwd_gap", unix_micros($"fwd_od") - unix_micros($"t"))
      .withColumn("use_back",
        $"back_od".isNotNull && ($"fwd_od".isNull || $"back_gap" <= $"fwd_gap"))
      .select($"event_id", $"u".as("user_id"), $"t".as("ts"),
        when($"use_back", $"back_od").otherwise($"fwd_od").as("near_order_date"),
        when($"use_back", $"back_total").otherwise($"fwd_total").as("near_day_total"),
        when($"back_od".isNull && $"fwd_od".isNull, lit(null).cast("string"))
          .when($"use_back", lit("back")).otherwise(lit("fwd")).as("direction"))
  }
}
