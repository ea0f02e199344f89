package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see SURVEY.md §2 for the inventory. Every key
  * is one [[SparkEntry.Key]] of [[SparkEntry.table]]; `queries` and
  * `oracleSql` are derived from it. Each oracle has identical output
  * column names and engine-exact semantics (decimal-exact sums,
  * deterministic tie-breaks; see SURVEY §5).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q5MultiJoin(spark, "/root/testdata/sf0.001")

  /** How a key's result is checked in DuckDB: the key's own SQL, or
    * the key whose SQL it shares. */
  sealed trait Oracle
  final case class Sql(text: String) extends Oracle
  final case class SameAs(key: String) extends Oracle

  /** One operator key, written once: its run function, its oracle,
    * whether it is a streaming twin, and why building it starts a
    * Spark job before its action, if it does. A twin that returns its
    * batch key's answer names that key as its oracle. */
  final case class Key(name: String, run: (SparkSession, String) => DataFrame,
      oracle: Oracle, twin: Boolean = false, eager: Option[String] = None) {
    /** The batch key whose result this twin must return. */
    def batchTwin: Option[String] = oracle match {
      case SameAs(k) if twin => Some(k)
      case _ => None
    }
  }

  // Why building a key starts Spark jobs before its action: the
  // `eager` field of the keys that do (ParquetSpec holds the table to it)
  private val Rounds = "checkpointed rounds: each round is localCheckpointed before the next one plans on it"
  private val Shared = "a localCheckpoint of an intermediate that several consumers read"
  private val Bounds = "a min/max job bounds the dense hour calendar"
  private val Gate = "a size gate counts its input before it picks a plan"
  private val Driver = "collects a codebook, centroids or a small matrix to the driver"
  private val Staging = "writes a staged copy of its input before it plans the read"

  /** Every key, built once. */
  lazy val table: Seq[Key] = Seq(
    // C. relational / OLAP core
    Key("q1_agg", Relational.q1Agg _, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Key("q3_topk", Relational.q3TopK _, Sql(
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Key("q5_multijoin", Relational.q5MultiJoin _, Sql(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin)),
    Key("q_window", Relational.qWindow _, Sql(
      """SELECT l_suppkey, l_orderkey, l_linenumber, price_rank, run_qty FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS price_rank,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_qty
        |  FROM lineitem) t
        |WHERE price_rank <= 3""".stripMargin)),
    Key("q_distinct", Relational.qDistinct _, Sql(
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    Key("q_exists", Relational.qExists _, Sql(
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),
    Key("q_semi", Relational.qSemi _, Sql(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin)),
    Key("q_rollup", Relational.qRollup _, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),
    Key("q_cube", Relational.qCube _, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),
    Key("q_grouping_sets", Relational.qGroupingSets _, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),
    Key("q_rangejoin", (s, d) => Relational.qRangeJoin(s, d), Sql(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS eus,
        |  CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |SELECT a.event_id,
        |  COUNT(CASE WHEN abs(b.eus - a.eus) <= 600000000 THEN 1 END) AS n_nearby,
        |  CAST(COALESCE(SUM(CASE WHEN abs(b.eus - a.eus) <= 600000000 THEN b.v END), 0) AS DOUBLE) AS nearby_value
        |FROM e a LEFT JOIN e b
        |  ON a.user_id = b.user_id AND a.event_id <> b.event_id
        |  AND abs(b.eus - a.eus) <= 600000000
        |GROUP BY a.event_id""".stripMargin)),
    Key("q_asof", Relational.qAsOf _, Sql(asOfSql)),
    Key("q_asof_native", Relational.qAsOfNative _, SameAs("q_asof")),
    // the tolerance variant nulls matches older than 8500 days; the
    // newest right row <= ts is the only candidate, so wrapping the
    // plain as-of in a recency CASE is exactly equivalent
    Key("q_asof_tolerance", (s, d) => Relational.qAsOfTolerance(s, d), Sql(
      s"""SELECT event_id, user_id, ts,
         |  CASE WHEN epoch_us(ts) - epoch_us(last_order_date) <= ${8500L * 86400L * 1000000L}
         |       THEN last_order_date END AS last_order_date,
         |  CASE WHEN epoch_us(ts) - epoch_us(last_order_date) <= ${8500L * 86400L * 1000000L}
         |       THEN last_day_total END AS last_day_total
         |FROM ($asOfSql) t""".stripMargin)),
    Key("q_pivot", Relational.qPivot _, Sql(
      """SELECT user_id,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
        |  CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
        |  COUNT(*) AS n_total
        |FROM events GROUP BY user_id""".stripMargin)),
    Key("q_partjoin", Relational.qPartJoin _, Sql(
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  CAST(COALESCE(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) FILTER (WHERE p_type = 'PROMO'), 0) AS DOUBLE) AS promo_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin)),
    Key("q_moments", Relational.qMoments _, Sql(
      """SELECT l_returnflag, n,
        |  round(sx / nd, 9) AS mean_qty,
        |  round(sy / nd, 9) AS mean_price,
        |  round((nd * sxy - sx * sy) / (nd * nd), 6) AS cov_pop,
        |  round((nd * sxy - sx * sy) / (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 12) AS corr
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag) t""".stripMargin)),
    Key("q_sketch_distinct", (s, d) => Relational.qSketchDistinct(s, d), Sql(
      s"""SELECT l_returnflag, n_exact,
         |  CASE WHEN len(hs) < 256 THEN CAST(len(hs) AS DOUBLE)
         |       ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hs[256] AS DOUBLE) END AS est_distinct
         |FROM (
         |  SELECT l_returnflag,
         |    COUNT(DISTINCT l_partkey) AS n_exact,
         |    list_slice(list_sort(list_distinct(list(h))), 1, 256) AS hs
         |  FROM (SELECT l_returnflag, l_partkey, ${ph("CAST(l_partkey AS VARCHAR)")} AS h FROM lineitem) t
         |  GROUP BY l_returnflag) z""".stripMargin)),
    // deterministic KMV merges: the k-th order statistic of a hash
    // SET has one value, so union/intersection estimates replay
    Key("q_sketch_setops", (s, d) => Relational.qSketchSetops(s, d), Sql(
      s"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         |pt AS (SELECT event_type, COUNT(*) AS n_exact,
         |    list_slice(list_sort(list_distinct(list(h))), 1, 256) AS hs
         |  FROM (SELECT event_type, user_id, ${ph("CAST(user_id AS VARCHAR)")} AS h FROM ut) t
         |  GROUP BY event_type),
         |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter_exact
         |  FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |pr AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
         |    x.n_exact AS n_a, y.n_exact AS n_b,
         |    list_slice(list_sort(list_distinct(list_concat(x.hs, y.hs))), 1, 256) AS hsu,
         |    x.hs AS hsa, y.hs AS hsb
         |  FROM pt x JOIN pt y ON x.event_type < y.event_type)
         |SELECT type_a, type_b, n_a, n_b, n_inter_exact,
         |  n_a + n_b - n_inter_exact AS n_union_exact,
         |  CASE WHEN len(hsu) < 256 THEN CAST(len(hsu) AS DOUBLE) ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hsu[256] AS DOUBLE) END AS est_union,
         |  CASE WHEN len(hsa) < 256 THEN CAST(len(hsa) AS DOUBLE) ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hsa[256] AS DOUBLE) END + CASE WHEN len(hsb) < 256 THEN CAST(len(hsb) AS DOUBLE) ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hsb[256] AS DOUBLE) END - CASE WHEN len(hsu) < 256 THEN CAST(len(hsu) AS DOUBLE) ELSE CAST(255 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hsu[256] AS DOUBLE) END AS est_inter
         |FROM pr JOIN ix USING (type_a, type_b)""".stripMargin)),
    // exact bitmap set algebra: the oracle recomputes the same set
    // cardinalities from first principles (DISTINCT users + pair join)
    Key("q_bitmap_audience", (s, d) => Relational.qBitmapAudience(s, d), Sql(
      """WITH au AS (SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT event_type, COUNT(*) AS n FROM au GROUP BY 1),
        |i AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_inter
        |  FROM au a JOIN au b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT i.type_a, i.type_b, ca.n AS n_a, cb.n AS n_b, i.n_inter,
        |  ca.n + cb.n - i.n_inter AS n_union,
        |  CAST(i.n_inter AS DOUBLE) / CAST(ca.n + cb.n - i.n_inter AS DOUBLE) AS jaccard
        |FROM i JOIN c ca ON ca.event_type = i.type_a
        |       JOIN c cb ON cb.event_type = i.type_b""".stripMargin), eager = Some(Shared)),
    Key("q_quantiles", Relational.qQuantiles _, Sql(
      """SELECT l_returnflag,
        |  MAX(CASE WHEN rn = CEIL(n * 0.5) THEN l_extendedprice END) AS p50,
        |  MAX(CASE WHEN rn = CEIL(n * 0.95) THEN l_extendedprice END) AS p95,
        |  MAX(n) AS n_rows
        |FROM (SELECT l_returnflag, l_extendedprice,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem) t
        |GROUP BY l_returnflag""".stripMargin)),
    Key("q_quantiles_approx", (s, d) => Relational.qQuantilesApprox(s, d), Sql(
      s"""SELECT l_returnflag,
         |  MAX(CASE WHEN rn = CEIL(n * 0.5) THEN l_extendedprice END) AS p50,
         |  MAX(CASE WHEN rn = CEIL(n * 0.95) THEN l_extendedprice END) AS p95,
         |  MAX(n) AS n_sampled
         |FROM (SELECT l_returnflag, l_extendedprice,
         |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
         |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem
         |  WHERE (((l_orderkey * 10 + l_linenumber) % 1000000007) * 2654435761) % 1000000007 % 100 < 10) t
         |GROUP BY l_returnflag""".stripMargin)),
    Key("q_quantiles_cont", Relational.qQuantilesCont _, Sql({
      def cq(p: String, out: String): String = {
        val h = s"(1 + CAST($p AS DOUBLE)*(n-1))"
        val hA = s"(1 + CAST($p AS DOUBLE)*(MAX(n)-1))"
        val lo = s"MAX(CASE WHEN rn = FLOOR($h) THEN l_extendedprice END)"
        val hi = s"MAX(CASE WHEN rn = FLOOR($h) + 1 THEN l_extendedprice END)"
        s"($lo + ($hA - FLOOR($hA)) * (COALESCE($hi, $lo) - $lo)) AS $out"
      }
      s"""SELECT l_returnflag,
         |  ${cq("0.5", "p50_cont")},
         |  ${cq("0.95", "p95_cont")},
         |  MAX(n) AS n_rows
         |FROM (SELECT l_returnflag, l_extendedprice,
         |    ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
         |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM lineitem) t
         |GROUP BY l_returnflag""".stripMargin
    })),
    // mergeable histogram-sketch quantiles: first bucket covering
    // rank ceil(q*n); estimate = bucket upper bound (error <= width)
    Key("q_quantiles_hist", (s, d) => Relational.qQuantilesHist(s, d), Sql(
      """WITH b AS (SELECT l_returnflag,
        |    CAST(FLOOR(l_extendedprice / 500) AS BIGINT) AS bucket, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cw AS (SELECT *,
        |    SUM(c) OVER (PARTITION BY l_returnflag ORDER BY bucket
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumc,
        |    SUM(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM b)
        |SELECT l_returnflag,
        |  CAST((MIN(CASE WHEN cumc >= CEIL(0.5 * n) THEN bucket END) + 1) * 500 AS DOUBLE) AS p50_est,
        |  CAST((MIN(CASE WHEN cumc >= CEIL(0.95 * n) THEN bucket END) + 1) * 500 AS DOUBLE) AS p95_est,
        |  CAST(MAX(n) AS BIGINT) AS n_rows
        |FROM cw GROUP BY l_returnflag""".stripMargin)),
    // C. streaming twin: the batch bucket census as a complete-mode
    // streaming aggregation (the mergeable-sketch property run live),
    // batch cumulative walk over the final census
    Key("stream_quantiles_hist", (s, d) => graft.streaming.StreamQuantilesHist.streamedQuantilesHist(s, d),
      SameAs("q_quantiles_hist"), twin = true),
    Key("q_skewjoin", Relational.qSkewJoin _, Sql(
      """SELECT s_nationkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),
    // the null-split is a pure execution property: the oracle is the
    // plain left join with the same 10%-nulled key
    Key("q_nullskew_join", Relational.qNullSkewJoin _, Sql(
      """SELECT CAST(COALESCE(s_nationkey, -1) AS BIGINT) AS nationkey,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM (SELECT CASE WHEN l_suppkey % 10 = 0 THEN NULL
        |        ELSE l_suppkey END AS k, l_quantity FROM lineitem) f
        |LEFT JOIN supplier ON f.k = s_suppkey
        |GROUP BY nationkey""".stripMargin)),
    // bucketing is a pure layout property: the oracle is the plain join
    Key("q_bucket_join", (s, d) => Relational.qBucketJoin(s, d), Sql(
      """SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin), eager = Some(Staging)),
    // partitioned layout is a pure layout property: the oracle is the
    // plain filtered rollup over the source table
    Key("q_partition_prune", (s, d) => graft.sources.Sinks.partitionPrunedRollup(s, d), Sql(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY user_id""".stripMargin), eager = Some(Staging)),
    // runtime pruning is a pure execution property: the oracle is the
    // dim-filtered join rolled up over the source table
    Key("q_dpp_join", (s, d) => graft.sources.Sinks.dppJoinRollup(s, d), Sql(
      """WITH dim AS (SELECT DISTINCT event_type FROM events
        |  WHERE event_type IN ('purchase', 'signup'))
        |SELECT e.event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN dim USING (event_type)
        |GROUP BY e.event_type""".stripMargin)),
    // the Expand-based unpivot equals the UNION ALL formulation
    Key("q_unpivot", (s, d) => Relational.qUnpivot(s, d), Sql(
      """SELECT l_returnflag, metric,
        |  CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS n_rows
        |FROM (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT l_returnflag, 'l_tax', l_tax FROM lineitem) t
        |GROUP BY l_returnflag, metric""".stripMargin)),
    Key("q_intersect", (s, d) => Relational.qIntersect(s, d), Sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin)),
    Key("q_except", (s, d) => Relational.qExcept(s, d), Sql(
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996""".stripMargin)),
    Key("q_outerjoin", Relational.qOuterJoin _, Sql(
      """SELECT c_custkey, c_mktsegment,
        |  CAST(COALESCE(o.n, 0) AS BIGINT) AS n_orders, o.spend
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY o_custkey) o
        |ON c_custkey = o.o_custkey""".stripMargin)),
    Key("q_histogram", (s, d) => Relational.qHistogram(s, d), Sql(
      """SELECT l_returnflag,
        |  CAST(FLOOR(l_extendedprice / 500) AS BIGINT) AS bucket,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY l_returnflag, bucket""".stripMargin)),
    Key("q_stringagg", Relational.qStringAgg _, Sql(
      """SELECT o_custkey, COUNT(*) AS n_orders,
        |  string_agg(o_orderstatus, ',' ORDER BY o_orderdate, o_orderkey)
        |    AS status_seq
        |FROM orders GROUP BY o_custkey""".stripMargin)),
    // 20%-of-average evaluated division-free: qty < 0.2*sum/n ⟺ 5*qty*n < sum
    Key("q_corr_subquery", Relational.qCorrSubquery _, Sql(
      """WITH s AS (SELECT l_partkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, COUNT(*) AS n
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand, COUNT(*) AS n_small_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
        |FROM lineitem JOIN s USING (l_partkey) JOIN part ON p_partkey = l_partkey
        |WHERE 5 * CAST(l_quantity AS DECIMAL(18,2)) * n < sum_qty
        |GROUP BY p_brand""".stripMargin)),
    Key("q_argmax", Relational.qArgmax _, Sql(
      """SELECT n_name, top_custkey, top_acctbal, n_customers FROM (
        |  SELECT c_nationkey, c_custkey AS top_custkey, c_acctbal AS top_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n_customers
        |  FROM customer) t JOIN nation ON n_nationkey = c_nationkey
        |WHERE rn = 1""".stripMargin)),
    // the oracle restates top-k as the window formulation the native
    // bounded-heap aggregate replaces; identical ordering contract
    // (value desc, key asc) makes the two bit-comparable
    Key("q_topk_group", (s, d) => Relational.qTopKGroup(s, d), Sql(
      """SELECT n_name, rnk, c_custkey, c_acctbal FROM (
        |  SELECT n_name, c_custkey, c_acctbal,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY n_name
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS rnk
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey) t
        |WHERE rnk <= 3""".stripMargin)),
    // rho replays as the length(bin(w)) string trick (identical on
    // both engines where float log2 is not); the only double is the
    // final estimate from one exact integer
    Key("q_hll_distinct", Relational.qHllDistinct _, Sql(
      """WITH pairs AS (SELECT DISTINCT event_type, event_id FROM events),
        |b AS (SELECT event_type,
        |    ((event_id * 1013904223 + 12345) % 2147483647) % 32 AS bucket,
        |    ((event_id * 1013904223 + 12345) % 2147483647) // 32 AS w
        |  FROM pairs),
        |r AS (SELECT event_type, bucket,
        |    MAX(CASE WHEN w = 0 THEN 27 ELSE 27 - length(bin(w)) END) AS r,
        |    COUNT(*) AS nu
        |  FROM b GROUP BY event_type, bucket),
        |g AS (SELECT event_type,
        |    SUM(CAST(POW(2, 30 - r) AS BIGINT)) AS denom_present,
        |    COUNT(*) AS n_buckets, SUM(nu) AS n_exact
        |  FROM r GROUP BY event_type)
        |SELECT event_type, CAST(n_exact AS BIGINT) AS n_exact,
        |  CAST(denom_present + (32 - n_buckets) * 1073741824 AS BIGINT) AS denom_scaled,
        |  CAST(n_buckets AS BIGINT) AS n_filled_buckets,
        |  CAST(0.697 AS DOUBLE) * CAST(1024 AS DOUBLE) * CAST(1073741824 AS DOUBLE)
        |    / CAST(denom_present + (32 - n_buckets) * 1073741824 AS DOUBLE) AS hll_est
        |FROM g""".stripMargin)),
    Key("q_pareto", Relational.qPareto _, Sql(
      """WITH rev AS (
        |  SELECT l_partkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev_d
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT l_partkey, CAST(rev_d AS DOUBLE) AS revenue,
        |  CAST(ROW_NUMBER() OVER (ORDER BY rev_d DESC, l_partkey ASC) AS BIGINT) AS rnk,
        |  CAST(SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey ASC) AS DOUBLE) /
        |    CAST(SUM(rev_d) OVER () AS DOUBLE) AS cum_share,
        |  CASE
        |    WHEN CAST(SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey ASC) AS DOUBLE) /
        |      CAST(SUM(rev_d) OVER () AS DOUBLE) <= CAST(0.80 AS DOUBLE) THEN 'A'
        |    WHEN CAST(SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey ASC) AS DOUBLE) /
        |      CAST(SUM(rev_d) OVER () AS DOUBLE) <= CAST(0.95 AS DOUBLE) THEN 'B'
        |    ELSE 'C' END AS abc_class
        |FROM rev""".stripMargin)),
    Key("q_ntile", Relational.qNtile _, Sql(
      """WITH t AS (SELECT c_custkey, c_acctbal,
        |    NTILE(4) OVER (ORDER BY c_acctbal ASC, c_custkey ASC) AS tile
        |  FROM customer)
        |SELECT CAST(tile AS BIGINT) AS tile, COUNT(*) AS n_customers,
        |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
        |FROM t GROUP BY tile""".stripMargin)),
    // oracle = the PLAIN join: the engine's Bloom prefilter must be
    // invisible in the result (no false negatives, exact final join)
    Key("q_bloom_join", Relational.qBloomJoin _, Sql(
      """SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin), eager = Some(Gate)),
    // B. telemetry / event-time
    Key("downsample_1hz", Telemetry.downsample1Hz _, Sql(
      """SELECT event_id, user_id, sec, value FROM (
        |  SELECT event_id, user_id, date_trunc('second', ts) AS sec, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('second', ts) ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1""".stripMargin)),
    Key("beacon_5min", Telemetry.beacon5Min _, Sql(
      """SELECT user_id, bucket, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MIN(ts) AS first_ts, MAX(ts) AS last_ts
        |FROM (SELECT *, make_timestamp((epoch_ms(ts) // 300000) * 300000 * 1000) AS bucket FROM events) t
        |GROUP BY user_id, bucket""".stripMargin)),
    Key("data_budget", (s, d) => Telemetry.dataBudget(s, d), Sql(
      """SELECT event_id, user_id, ts, CAST(cum AS DOUBLE) AS cum_kb FROM (
        |  SELECT event_id, user_id, ts,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events) t
        |WHERE cum <= 5000.00""".stripMargin)),
    // B. notes.org "658 mamps modem transmitting": per-device
    // transmit-energy rollup in data_budget's single-scan shape:
    // DECIMAL-exact byte sum, every float a fixed expression over the one
    // casted sum (9600 baud 8N1 -> 960 B/s; 658 mA; 2000 mAh cell)
    Key("power_budget", (s, d) => Telemetry.powerBudget(s, d), Sql(
      """SELECT user_id, n_msgs, kb_sent,
        |  kb_sent * 1000.0 / 960.0 AS tx_seconds,
        |  kb_sent * 1000.0 / 960.0 * 658.0 / 3600.0 AS mah_used,
        |  kb_sent * 1000.0 / 960.0 * 658.0 / 3600.0 / 2000.0 * 100.0 AS battery_pct
        |FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_msgs,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS kb_sent
        |  FROM events GROUP BY user_id) t""".stripMargin)),
    // B. streaming twin: the batch rollup (count, exact byte sum,
    // float ladder) as a complete-mode streaming aggregation; cross-cut
    // devices must accumulate one energy total
    Key("stream_power", (s, d) => graft.streaming.StreamPower.streamedPower(s, d),
      SameAs("power_budget"), twin = true),
    Key("session_windows", (s, d) => Telemetry.sessionWindows(s, d), Sql(
      """SELECT user_id, session_id, COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts FROM (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |        OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |    FROM events) a) b
        |GROUP BY user_id, session_id""".stripMargin)),
    Key("chunk_messages", (s, d) => Telemetry.chunkMessages(s, d), Sql(
      """SELECT event_id, user_id, nbytes, CAST(t.chunk_idx AS BIGINT) AS chunk_idx,
        |  LEAST(6400, nbytes - t.chunk_idx * 6400) AS chunk_bytes
        |FROM (SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS nbytes FROM events) e,
        |  UNNEST(range(0, CAST(CEIL(nbytes / 6400.0) AS BIGINT))) AS t(chunk_idx)""".stripMargin)),
    Key("chunk_reassemble", (s, d) => Telemetry.chunkReassemble(s, d), Sql(
      """WITH m AS (SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT) AS nbytes
        |  FROM events WHERE CAST(ROUND(value * 100) AS BIGINT) > 0),
        |r AS (SELECT event_id, COUNT(*) AS n_received,
        |    CAST(SUM(LEAST(6400, nbytes - chunk_idx * 6400)) AS BIGINT) AS bytes_received
        |  FROM (SELECT event_id, nbytes, CAST(t.chunk_idx AS BIGINT) AS chunk_idx
        |    FROM m, UNNEST(range(0, CAST(CEIL(nbytes / 6400.0) AS BIGINT))) AS t(chunk_idx)) c
        |  WHERE (event_id + chunk_idx) % 97 != 0
        |  GROUP BY event_id)
        |SELECT m.event_id, m.user_id,
        |  COALESCE(r.n_received, 0) AS n_received,
        |  COALESCE(r.bytes_received, 0) AS bytes_received,
        |  CAST(CEIL(m.nbytes / 6400.0) AS BIGINT) AS n_expected,
        |  COALESCE(r.n_received, 0) = CAST(CEIL(m.nbytes / 6400.0) AS BIGINT) AS is_complete
        |FROM m LEFT JOIN r ON m.event_id = r.event_id""".stripMargin)),
    // B. streaming twin: the batch per-message (count, bytes) receipt
    // census as a complete-mode streaming aggregation across the
    // chunk-parity cut; the expected-message left join keeps all-lost
    // messages
    Key("stream_chunks", (s, d) => graft.streaming.StreamChunks.streamedChunks(s, d),
      SameAs("chunk_reassemble"), twin = true),
    Key("queue_stats", Telemetry.queueStats _, Sql(
      """SELECT event_type, COUNT(*) AS n_msgs,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bytes_total,
        |  CAST(COUNT(*) FILTER (WHERE k > 50) AS BIGINT) AS n_lost,
        |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE k > 50), 0) AS DOUBLE) AS bytes_lost,
        |  MAX(ts) FILTER (WHERE k <= 50) AS last_sent,
        |  MAX(ts) FILTER (WHERE k > 50) AS last_lost
        |FROM (SELECT *, CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) AS k FROM events) t
        |GROUP BY event_type""".stripMargin)),
    // B. streaming twin: the batch per-stream counters (the Lua
    // proxy's own shape) as a complete-mode streaming aggregation
    Key("stream_queue_stats", (s, d) => graft.streaming.StreamQueueStats.streamedQueueStats(s, d),
      SameAs("queue_stats"), twin = true),
    Key("queue_ttl", (s, d) => Telemetry.queueTtl(s, d), Sql(
      """WITH m AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS t_us, value,
        |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) <= 50 AS sent
        |  FROM events),
        |s AS (
        |  SELECT *, MIN(CASE WHEN sent THEN t_us END) OVER (
        |      PARTITION BY event_type ORDER BY t_us, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS svc_us
        |  FROM m),
        |c AS (
        |  SELECT *, CASE WHEN sent THEN 'delivered'
        |    WHEN svc_us IS NULL OR svc_us - t_us > 86400000000 THEN 'expired'
        |    ELSE 'lost' END AS outcome
        |  FROM s)
        |SELECT event_type,
        |  CAST(COUNT(*) FILTER (WHERE outcome = 'delivered') AS BIGINT) AS n_delivered,
        |  CAST(COUNT(*) FILTER (WHERE outcome = 'expired') AS BIGINT) AS n_expired,
        |  CAST(COUNT(*) FILTER (WHERE outcome = 'lost') AS BIGINT) AS n_lost,
        |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE outcome = 'delivered'), 0) AS DOUBLE) AS bytes_delivered,
        |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE outcome = 'expired'), 0) AS DOUBLE) AS bytes_expired,
        |  CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))) FILTER (WHERE outcome = 'lost'), 0) AS DOUBLE) AS bytes_lost,
        |  MAX(svc_us - t_us) FILTER (WHERE outcome = 'lost') AS max_lost_wait_us
        |FROM c GROUP BY event_type""".stripMargin)),
    Key("queue_latency", Telemetry.queueLatency _, Sql(
      """WITH m AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS t_us,
        |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) <= 50 AS sent
        |  FROM events),
        |w AS (
        |  SELECT event_type, event_id, t_us,
        |    MIN(CASE WHEN sent THEN t_us END) OVER (
        |      PARTITION BY event_type ORDER BY t_us, event_id
        |      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt_us
        |  FROM m),
        |l AS (
        |  SELECT event_type, event_id, nxt_us - t_us AS wait_us
        |  FROM w WHERE nxt_us IS NOT NULL),
        |r AS (
        |  SELECT event_type, wait_us,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY wait_us, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM l)
        |SELECT event_type, MAX(n) AS n_waits,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN wait_us END) AS p50_us,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN wait_us END) AS p90_us,
        |  MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN wait_us END) AS p99_us,
        |  MAX(wait_us) AS max_us
        |FROM r GROUP BY event_type""".stripMargin)),
    Key("queue_drain", Telemetry.queueDrain _, Sql(
      """WITH m AS (
        |  SELECT event_type, event_id, ts, epoch_us(ts) AS t_us,
        |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) <= 50 AS sent
        |  FROM events),
        |d0 AS (
        |  SELECT event_type, ts, sent, t_us, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t_us, event_id) AS BIGINT) AS rn
        |  FROM m),
        |d AS (
        |  SELECT event_type, ts, rn,
        |    COALESCE(MAX(CASE WHEN sent THEN rn END) OVER (
        |      PARTITION BY event_type ORDER BY t_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS last_slot
        |  FROM d0),
        |e AS (
        |  SELECT event_type, ts, rn, rn - last_slot AS depth,
        |    MAX(rn - last_slot) OVER (PARTITION BY event_type) AS md,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM d)
        |SELECT event_type, COUNT(*) AS n_msgs,
        |  MAX(depth) AS max_backlog,
        |  MIN(CASE WHEN depth = md THEN ts END) AS first_peak_ts,
        |  MAX(CASE WHEN rn = cnt THEN depth END) AS final_backlog
        |FROM e GROUP BY event_type""".stripMargin)),
    Key("port_config", Telemetry.portConfig _, Sql(
      """WITH d AS (
        |  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL),
        |cfg AS (
        |  SELECT user_id AS device_id,
        |    ([9600,19200,38400,57600,115200])[CAST(user_id % 5 AS INT) + 1] AS baud,
        |    5 + CAST(user_id % 4 AS INT) AS data_bits,
        |    (['NONE','ODD','EVEN','BAD'])[CAST(user_id % 4 AS INT) + 1] AS parity,
        |    1 + CAST(user_id % 2 AS INT) AS stop_bits
        |  FROM d),
        |v AS (
        |  SELECT *, parity IN ('NONE','ODD','EVEN') AS is_valid,
        |    1 + data_bits + CASE WHEN parity IN ('ODD','EVEN') THEN 1 ELSE 0 END
        |      + stop_bits AS bits_per_frame
        |  FROM cfg)
        |SELECT baud, parity, COUNT(*) AS n_devices,
        |  CAST(COUNT(*) FILTER (WHERE is_valid) AS BIGINT) AS n_valid,
        |  MIN(CASE WHEN is_valid THEN CAST(FLOOR(baud / bits_per_frame) AS BIGINT) END) AS min_eff_bps,
        |  MAX(CASE WHEN is_valid THEN CAST(FLOOR(baud / bits_per_frame) AS BIGINT) END) AS max_eff_bps
        |FROM v GROUP BY baud, parity""".stripMargin)),
    Key("events_attribution", (s, d) => Telemetry.attribution(s, d), Sql(
      """WITH t AS (
        |  SELECT user_id, ts, event_id, event_type, value,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_t_type,
        |    LAST_VALUE(CASE WHEN event_type IN ('click','view') THEN epoch_us(ts) END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_t_us
        |  FROM events)
        |SELECT CASE WHEN last_t_us IS NOT NULL
        |         AND epoch_us(ts) - last_t_us <= 604800000000
        |       THEN last_t_type ELSE 'direct' END AS attributed,
        |  COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin)),
    // linear multi-touch: floor basis points keep the split integer-
    // exact; RANGE frame = the same incremental sliding window shape
    Key("events_attribution_linear", (s, d) => Telemetry.attributionLinear(s, d), Sql(
      """WITH e AS (SELECT user_id, event_type, value, epoch_us(ts) AS t_us FROM events),
        |c AS (SELECT *,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY t_us
        |       RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS n_click,
        |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY t_us
        |       RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS n_view
        |  FROM e),
        |b AS (SELECT value,
        |    CASE WHEN n_click + n_view > 0 THEN (10000 * n_click) // (n_click + n_view) ELSE 0 END AS click_bp,
        |    CASE WHEN n_click + n_view > 0 THEN (10000 * n_view) // (n_click + n_view) ELSE 0 END AS view_bp,
        |    CASE WHEN n_click + n_view = 0 THEN 10000 ELSE 0 END AS direct_bp
        |  FROM c WHERE event_type = 'purchase'),
        |u AS (SELECT 'click' AS channel, value, click_bp AS bp FROM b
        |  UNION ALL SELECT 'view', value, view_bp FROM b
        |  UNION ALL SELECT 'direct', value, direct_bp FROM b)
        |SELECT channel, COUNT(*) AS n_purchases,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)) * bp) AS DOUBLE) AS value_bp
        |FROM u WHERE bp > 0 GROUP BY channel""".stripMargin)),
    // B. streaming twin: lookback-pruned per-user touch buffer (the
    // watermark bound); purchases emit their bp split at landing
    Key("stream_attr_linear", (s, d) => graft.streaming.StreamAttrLinear.streamedAttrLinear(s, d),
      SameAs("events_attribution_linear"), twin = true),
    // Welch's t assembled from decimal-exact power sums; the float
    // expression shape matches the Spark side operation-for-operation
    Key("events_abtest", Telemetry.abtest _, Sql(
      """WITH p AS (SELECT user_id % 2 = 0 AS in_a, CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT
        |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(SUM(v) FILTER (WHERE in_a) AS DOUBLE) AS sum_a,
        |    CAST(SUM(v) FILTER (WHERE NOT in_a) AS DOUBLE) AS sum_b,
        |    CAST(SUM(v * v) FILTER (WHERE in_a) AS DOUBLE) AS ss_a,
        |    CAST(SUM(v * v) FILTER (WHERE NOT in_a) AS DOUBLE) AS ss_b
        |  FROM p)
        |SELECT n_a, n_b,
        |  sum_a / CAST(n_a AS DOUBLE) AS mean_a,
        |  sum_b / CAST(n_b AS DOUBLE) AS mean_b,
        |  (ss_a - sum_a * sum_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS var_a,
        |  (ss_b - sum_b * sum_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS var_b,
        |  (sum_a / CAST(n_a AS DOUBLE) - sum_b / CAST(n_b AS DOUBLE)) /
        |    SQRT((ss_a - sum_a * sum_a / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
        |       + (ss_b - sum_b * sum_b / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE)) AS t_stat
        |FROM a""".stripMargin)),
    // B. streaming twin: the batch global aggregate of exact DECIMAL
    // power sums per arm and its Welch-t projection as a
    // complete-mode streaming aggregation
    Key("stream_abtest", (s, d) => graft.streaming.StreamAbtest.streamedAbtest(s, d),
      SameAs("events_abtest"), twin = true),
    // integer-exact Gini by the rank formula; ties pin to device id
    Key("queue_fairness", Telemetry.queueFairness _, Sql(
      """WITH c AS (SELECT event_type, user_id, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, x,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, user_id) AS BIGINT) AS i
        |  FROM c)
        |SELECT event_type, COUNT(*) AS n_devices,
        |  CAST(SUM(x) AS BIGINT) AS n_msgs,
        |  CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS BIGINT) AS gini_num,
        |  CAST(COUNT(*) * SUM(x) AS BIGINT) AS gini_den,
        |  CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS DOUBLE) /
        |    CAST(COUNT(*) * SUM(x) AS DOUBLE) AS gini
        |FROM r GROUP BY event_type""".stripMargin)),
    Key("status_transitions", Telemetry.statusTransitions _, Sql(
      """SELECT prev_type, event_type AS cur_type, COUNT(*) AS n_transitions,
        |  CAST(SUM(COALESCE(next_us - epoch_us(ts), 0)) AS BIGINT) AS total_dwell_us
        |FROM (
        |  SELECT user_id, ts, event_type,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
        |  FROM events) t
        |WHERE prev_type IS NOT NULL AND prev_type <> event_type
        |GROUP BY prev_type, event_type""".stripMargin)),
    // B. streaming twin: pending-transition state closes each dwell
    // with the next arrival's timestamp (the batch lead() made
    // causal); per-user sentinel barrier closes final dwells at 0
    Key("stream_transitions", (s, d) => graft.streaming.StreamTransitions.streamedTransitions(s, d),
      SameAs("status_transitions"), twin = true),
    Key("status_notify", Telemetry.statusNotify _, Sql(
      """WITH ev AS (
        |  SELECT event_type, ts,
        |    CAST(regexp_extract(props, '([0-9]+)', 1) AS INT) > 50 AS is_loss
        |  FROM events),
        |cfg AS (
        |  SELECT event_type,
        |    list_sum(list_transform(string_split(event_type, ''), c -> unicode(c))) % 2 = 0 AS notify_on
        |  FROM (SELECT DISTINCT event_type FROM events))
        |SELECT ev.event_type, cfg.notify_on,
        |  COUNT(*) AS n_loss_events,
        |  CAST(COUNT(*) FILTER (WHERE cfg.notify_on) AS BIGINT) AS n_notified,
        |  MIN(ts) FILTER (WHERE cfg.notify_on) AS first_notified,
        |  MAX(ts) FILTER (WHERE cfg.notify_on) AS last_notified
        |FROM ev JOIN cfg USING (event_type)
        |WHERE ev.is_loss
        |GROUP BY ev.event_type, cfg.notify_on""".stripMargin)),
    // day-scale timers / half-day restarts: sized to the synthetic
    // corpus's ~4-day inter-event gaps so the Paused and restart
    // windows actually catch data events (see operator docs)
    Key("status_delayed", (s, d) => Telemetry.statusDelayed(s, d, tauUnitSecs = 86400L), Sql(
      """WITH c AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS target,
        |    epoch_us(ts) AS cmd_us,
        |    epoch_us(ts) + (event_id % 4) * 86400000000 AS apply_us,
        |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next_us
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |tl AS (
        |  SELECT user_id, apply_us AS t_us, 0 AS kind, event_id, target,
        |    CAST(NULL AS BIGINT) AS arm_us, CAST(NULL AS TIMESTAMP) AS ts
        |  FROM c WHERE next_us IS NULL OR next_us >= apply_us
        |  UNION ALL
        |  SELECT user_id, cmd_us, 1, event_id, NULL, apply_us, NULL FROM c
        |  UNION ALL
        |  SELECT user_id, epoch_us(ts), 2, event_id, NULL, NULL, ts
        |  FROM events WHERE event_type NOT IN ('signup', 'error')),
        |w AS (
        |  SELECT *,
        |    LAST_VALUE(target IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t_us, kind, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st,
        |    LAST_VALUE(arm_us IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t_us, kind, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_arm_us
        |  FROM tl)
        |SELECT event_id, user_id, ts,
        |  COALESCE(st, 0) = 1 AS enabled,
        |  COALESCE(last_arm_us, 0) > t_us AS pending
        |FROM w WHERE kind = 2""".stripMargin)),
    Key("config_gate", (s, d) => Telemetry.configGate(s, d, restartSecs = 43200L), Sql(
      """SELECT event_id, user_id, ts, event_type,
        |  COALESCE(gate, 0) = 1 AS gate_on,
        |  COALESCE(blackout_us, 0) > epoch_us(ts) AS in_restart,
        |  COALESCE(gate, 0) = 1 AND NOT (COALESCE(blackout_us, 0) > epoch_us(ts)) AS forwarded
        |FROM (
        |  SELECT *,
        |    LAST_VALUE(gate_v IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, ctl, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gate,
        |    LAST_VALUE(restart_until IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, ctl, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS blackout_us
        |  FROM (
        |    SELECT *,
        |      CASE WHEN event_type = 'signup' THEN 1 WHEN event_type = 'error' THEN 0 END AS gate_v,
        |      CASE WHEN event_type = 'purchase' THEN epoch_us(ts) + 43200000000 END AS restart_until,
        |      CASE WHEN event_type IN ('signup', 'error', 'purchase') THEN 0 ELSE 1 END AS ctl
        |    FROM events) a) b
        |WHERE event_type NOT IN ('signup', 'error', 'purchase')""".stripMargin)),
    Key("events_funnel", Telemetry.funnel _, Sql(
      """WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
        |  FROM events e JOIN s ON e.user_id = s.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
        |  GROUP BY e.user_id)
        |SELECT s.user_id, s.signup_ts, p.purchase_ts,
        |  epoch_us(p.purchase_ts) - epoch_us(s.signup_ts) AS delay_us
        |FROM s LEFT JOIN p ON s.user_id = p.user_id""".stripMargin)),
    Key("relay_gate", Telemetry.relayGate _, Sql(
      """SELECT event_id, user_id, ts, event_type, COALESCE(lv, 0) = 1 AS forwarded FROM (
        |  SELECT event_id, user_id, ts, event_type, ctrl,
        |    LAST_VALUE(ctrl IGNORE NULLS) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
        |  FROM (SELECT *, CASE WHEN event_type = 'signup' THEN 1
        |                       WHEN event_type = 'error' THEN 0 END AS ctrl
        |        FROM events) t) w
        |WHERE ctrl IS NULL""".stripMargin)),
    Key("events_retention", Telemetry.retention _, Sql(
      """WITH s AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, act_week) / 7 AS BIGINT) AS week_offset,
        |  COUNT(DISTINCT a.user_id) AS n_active
        |FROM s JOIN a ON s.user_id = a.user_id AND act_week >= cohort_week
        |GROUP BY 1, 2""".stripMargin)),
    Key("events_anomaly", Telemetry.anomaly _, Sql(
      """WITH ev AS (SELECT event_id, user_id, CAST(value AS DECIMAL(18,2)) AS x FROM events),
        |s AS (SELECT user_id, COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    CAST(SUM(x * x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m2
        |  FROM ev GROUP BY user_id)
        |SELECT ev.event_id, ev.user_id, s.n,
        |  ((CAST(ev.x AS DOUBLE) - s.mu) * (CAST(ev.x AS DOUBLE) - s.mu)
        |     > 4.0 * (s.m2 - s.mu * s.mu)) AS is_anomaly
        |FROM ev JOIN s USING (user_id)""".stripMargin)),
    // B. streaming twin of the outlier gate: the batch per-user
    // (n, Σx, Σx²) moments as a complete-mode streaming aggregation
    // across micro-batches, then the batch scoring join — the flags
    // match only if batch-2 arrivals folded into batch-1 moment state
    Key("stream_anomaly", (s, d) => graft.streaming.StreamAnomaly.streamedAnomaly(s, d),
      SameAs("events_anomaly"), twin = true),
    // the union+window as-of trick replayed in SQL: grid slot ends and
    // events share one ordered pass per (user, hour)
    Key("ts_gapfill", (s, d) => Telemetry.gapfill(s, d), Sql(
      """WITH ev0 AS (SELECT user_id, ts, value, event_id, date_trunc('hour', ts) AS hr
        |  FROM events WHERE ts IS NOT NULL),
        |ev AS (SELECT user_id, hr, ts AS t, 0 AS isg, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM ev0) z WHERE rn = 1),
        |slots AS (SELECT user_id, hr, hr + to_microseconds((m+1)*60000000 - 1) AS t,
        |    1 AS isg, CAST(NULL AS DOUBLE) AS value
        |  FROM (SELECT user_id, hr, unnest(range(0,60)) AS m
        |        FROM (SELECT DISTINCT user_id, hr FROM ev) h) s),
        |w AS (SELECT user_id, hr, isg,
        |    last_value(value IGNORE NULLS) OVER (PARTITION BY user_id, hr ORDER BY t, isg
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |  FROM (SELECT * FROM ev UNION ALL SELECT * FROM slots) u)
        |SELECT user_id, hr AS hour_ts, COUNT(*) AS n_slots, COUNT(v) AS n_filled,
        |  CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sum_filled
        |FROM w WHERE isg = 1 GROUP BY user_id, hr""".stripMargin)),
    // B. streaming twin: O(1) slot-cursor state per user replaces the
    // batch synthetic grid; hours emit when they can no longer change
    Key("stream_gapfill", (s, d) => graft.streaming.StreamGapfill.streamedGapfill(s, d),
      SameAs("ts_gapfill"), twin = true),
    Key("ts_moving_avg", (s, d) => Telemetry.movingAvg(s, d), Sql(
      """SELECT event_id, user_id, eus, value, n_window,
        |  CAST(sw AS DOUBLE) / n_window AS avg_window
        |FROM (
        |  SELECT event_id, user_id, eus, value,
        |    COUNT(*) OVER w AS n_window,
        |    SUM(CAST(value AS DECIMAL(18,2))) OVER w AS sw
        |  FROM (SELECT event_id, user_id, epoch_us(ts) AS eus, value
        |        FROM events WHERE ts IS NOT NULL) t
        |  WINDOW w AS (PARTITION BY user_id ORDER BY eus
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)) z""".stripMargin)),
    // B. streaming twin: span-pruned per-user buffer; every arrival
    // emits its trailing count/average at landing, no sentinel
    Key("stream_moving_avg", (s, d) => graft.streaming.StreamMovingAvg.streamedMovingAvg(s, d),
      SameAs("ts_moving_avg"), twin = true),
    Key("events_props", Telemetry.propsExtract _, Sql(
      """SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type, k_bucket""".stripMargin)),
    Key("events_paths", Telemetry.paths _, Sql(
      """SELECT from_type, to_type, COUNT(*) AS n_transitions,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events WHERE ts IS NOT NULL) z
        |WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type""".stripMargin)),
    Key("ts_ewma", (s, d) => Telemetry.ewma(s, d), Sql(
      """WITH b AS (SELECT event_id, user_id, epoch_us(ts) AS eus,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |l AS (SELECT event_id, user_id, eus, cents AS l0,
        |    lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2,
        |    lag(cents, 3) OVER w AS l3, lag(cents, 4) OVER w AS l4,
        |    lag(cents, 5) OVER w AS l5, lag(cents, 6) OVER w AS l6,
        |    lag(cents, 7) OVER w AS l7
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY eus, event_id))
        |SELECT event_id, user_id, eus,
        |  CAST(CASE WHEN l0 IS NULL THEN 0 ELSE 1 END + CASE WHEN l1 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN l2 IS NULL THEN 0 ELSE 1 END + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN l4 IS NULL THEN 0 ELSE 1 END + CASE WHEN l5 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN l6 IS NULL THEN 0 ELSE 1 END + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END
        |   AS BIGINT) AS n_window,
        |  CAST(COALESCE(l0*128,0) + COALESCE(l1*64,0) + COALESCE(l2*32,0) + COALESCE(l3*16,0)
        |     + COALESCE(l4*8,0) + COALESCE(l5*4,0) + COALESCE(l6*2,0) + COALESCE(l7*1,0) AS DOUBLE)
        |  / CAST(CASE WHEN l0 IS NULL THEN 0 ELSE 128 END + CASE WHEN l1 IS NULL THEN 0 ELSE 64 END
        |       + CASE WHEN l2 IS NULL THEN 0 ELSE 32 END + CASE WHEN l3 IS NULL THEN 0 ELSE 16 END
        |       + CASE WHEN l4 IS NULL THEN 0 ELSE 8 END + CASE WHEN l5 IS NULL THEN 0 ELSE 4 END
        |       + CASE WHEN l6 IS NULL THEN 0 ELSE 2 END + CASE WHEN l7 IS NULL THEN 0 ELSE 1 END
        |       AS DOUBLE)
        |  / 100.0 AS ewma
        |FROM l""".stripMargin)),
    // B. streaming twin: O(taps) per-user delay line, each arrival
    // emits its smoothed value at landing; order across the cut is
    // the gated property
    Key("stream_ewma", (s, d) => graft.streaming.StreamEwma.streamedEwma(s, d),
      SameAs("ts_ewma"), twin = true),
    Key("events_sliding", Telemetry.sliding _, Sql(
      """WITH e AS (
        |  SELECT epoch_us(ts) AS eus, user_id, value
        |  FROM events WHERE ts IS NOT NULL),
        |slotted AS (
        |  SELECT make_timestamp(((eus // 900000000) - r.k) * 900000000)
        |      AS window_start,
        |    user_id, value
        |  FROM e CROSS JOIN range(0, 4) r(k))
        |SELECT window_start, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM slotted GROUP BY window_start""".stripMargin)),
    // B. streaming twin: sliding windows fan ×4 into watermarked
    // append-mode state; distinct users via the two-level (slot,
    // user)-cell census — cells emit once, the rollup counts them
    Key("stream_sliding", (s, d) => graft.streaming.StreamSliding.streamedSliding(s, d),
      SameAs("events_sliding"), twin = true),
    // B. hourly-volume OLS slope per stream: zero hours enter through
    // closed-form regressor sums over the global hour range (no dense
    // calendar); exact longs, one double division
    Key("ts_trend", Telemetry.trend _, Sql(
        """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h,
          |    CAST(COUNT(*) AS BIGINT) AS y
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
          |b AS (SELECT MIN(h) AS h0, MAX(h) - MIN(h) + 1 AS hn FROM c),
          |s AS (SELECT event_type, CAST(SUM(y) AS BIGINT) AS sy,
          |    CAST(SUM((h - (SELECT h0 FROM b)) * y) AS BIGINT) AS sty
          |  FROM c GROUP BY 1)
          |SELECT event_type, b.hn AS n_hours, sy AS n_events,
          |  b.hn * sty - (b.hn * (b.hn - 1) // 2) * sy AS slope_num,
          |  b.hn * ((b.hn - 1) * b.hn * (2 * b.hn - 1) // 6)
          |    - (b.hn * (b.hn - 1) // 2) * (b.hn * (b.hn - 1) // 2) AS slope_den,
          |  CAST(b.hn * sty - (b.hn * (b.hn - 1) // 2) * sy AS DOUBLE) /
          |    CAST(b.hn * ((b.hn - 1) * b.hn * (2 * b.hn - 1) // 6)
          |      - (b.hn * (b.hn - 1) // 2) * (b.hn * (b.hn - 1) // 2) AS DOUBLE)
          |    AS slope_per_hour
          |FROM s CROSS JOIN b""".stripMargin), eager = Some(Bounds)),
    // B. streaming twin: hour-census state per stream, snapshot
    // flush, the batch h0/closed-form OLS assembly over the census
    Key("stream_trend", (s, d) => graft.streaming.StreamTrend.streamedTrend(s, d),
      SameAs("ts_trend"), twin = true),
    // B. Rényi-2 behavioral diversity per user: integer collision
    // pairs over the (user, type) census (the text_entropy recipe);
    // single-event users report NULL
    Key("events_diversity", Telemetry.diversity _, Sql(
        """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
          |  FROM events GROUP BY 1, 2),
          |u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
          |    CAST(COUNT(*) AS BIGINT) AS n_types,
          |    CAST(SUM(c * (c - 1)) AS BIGINT) AS collisions
          |  FROM c GROUP BY 1)
          |SELECT user_id, n_events, n_types, collisions,
          |  n_events * (n_events - 1) AS pairs,
          |  CASE WHEN collisions > 0
          |    THEN CAST(n_events * (n_events - 1) AS DOUBLE) / CAST(collisions AS DOUBLE)
          |  END AS effective_types
          |FROM u""".stripMargin)),
    // G. streaming twin: the batch per-user type census
    // (vocabulary-bounded) as a complete-mode streaming aggregation,
    // batch Rényi-2 rollup over the cells
    Key("stream_diversity", (s, d) => graft.streaming.StreamDiversity.streamedDiversity(s, d),
      SameAs("events_diversity"), twin = true),
    // B. per-device 5-min-slot availability fraction over the
    // device's own active span (integer slot census, one division)
    Key("events_uptime", Telemetry.uptime _, Sql(
        """WITH s AS (SELECT user_id, epoch_us(ts) // 300000000 AS slot
          |  FROM events WHERE ts IS NOT NULL),
          |c AS (SELECT user_id, slot, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM s GROUP BY 1, 2)
          |SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_events,
          |  CAST(COUNT(*) AS BIGINT) AS n_slots_active,
          |  MAX(slot) - MIN(slot) + 1 AS n_slots_span,
          |  CAST(COUNT(*) AS DOUBLE) /
          |    CAST(MAX(slot) - MIN(slot) + 1 AS DOUBLE) AS uptime_frac
          |FROM c GROUP BY 1""".stripMargin)),
    // G. streaming twin: the batch (device, slot) census (time-axis
    // bounded) as a complete-mode streaming aggregation; batch
    // span/frac rollup over it
    Key("stream_uptime", (s, d) => graft.streaming.StreamUptime.streamedUptime(s, d),
      SameAs("events_uptime"), twin = true),
    // the heap election replays as the window formulation it replaces
    Key("events_ratecap", (s, d) => Telemetry.rateCap(s, d), Sql(
      """SELECT user_id, day, rnk, event_id, n_total FROM (
        |  SELECT user_id, date_trunc('day', ts) AS day, event_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS BIGINT) AS rnk,
        |    COUNT(*) OVER (PARTITION BY user_id, date_trunc('day', ts)) AS n_total
        |  FROM events) t
        |WHERE rnk <= 5""".stripMargin)),
    // identical CASE/OR forms on both engines (no GREATEST: it
    // propagates NULL in ANSI SQL where Spark's skips it)
    Key("events_quarantine", Quality.quarantine _, Sql(
      """WITH a AS (SELECT
        |    SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS v1,
        |    SUM(CASE WHEN event_type NOT IN ('signup','click','view','purchase','error')
        |      THEN 1 ELSE 0 END) AS v2,
        |    SUM(CASE WHEN user_id < 0 THEN 1 ELSE 0 END) AS v3,
        |    SUM(CASE WHEN ts < TIMESTAMP '2024-01-01'
        |      OR ts >= TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS v4,
        |    SUM(CASE WHEN value < 1.0
        |      OR event_type NOT IN ('signup','click','view','purchase','error')
        |      OR user_id < 0
        |      OR ts < TIMESTAMP '2024-01-01'
        |      OR ts >= TIMESTAMP '2024-02-01' THEN 1 ELSE 0 END) AS va,
        |    COUNT(*) AS n
        |  FROM events)
        |SELECT 'low_value' AS constraint_name, CAST(v1 AS BIGINT) AS n_violations, n AS n_rows FROM a
        |UNION ALL SELECT 'unknown_type', CAST(v2 AS BIGINT), n FROM a
        |UNION ALL SELECT 'invalid_user', CAST(v3 AS BIGINT), n FROM a
        |UNION ALL SELECT 'out_of_window', CAST(v4 AS BIGINT), n FROM a
        |UNION ALL SELECT 'any', CAST(va AS BIGINT), n FROM a""".stripMargin)),
    Key("dq_orphans", Quality.orphans _, Sql(
        """SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_child,
          |  CAST(COALESCE(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphans
          |FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |UNION ALL
          |SELECT 'orders->customer', COUNT(*),
          |  CAST(COALESCE(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
          |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
          |UNION ALL
          |SELECT 'events->customer', COUNT(*),
          |  CAST(COALESCE(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT)
          |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin)),
    // G. streaming twin: stream-static FK probe per micro-batch
    // (parents are static dims), per-edge counters as a complete-mode
    // streaming aggregation, every edge reported
    Key("stream_orphans", (s, d) => graft.streaming.StreamOrphans.streamedOrphans(s, d),
      SameAs("dq_orphans"), twin = true),
    Key("events_funnel3", Telemetry.funnel3 _, Sql(
        """WITH s1 AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
          |  WHERE event_type = 'signup' GROUP BY user_id),
          |s2 AS (SELECT e.user_id, MIN(e.ts) AS view_ts
          |  FROM events e JOIN s1 ON e.user_id = s1.user_id
          |  WHERE e.event_type = 'view' AND e.ts >= s1.signup_ts GROUP BY e.user_id),
          |s3 AS (SELECT e.user_id, MIN(e.ts) AS purchase_ts
          |  FROM events e JOIN s2 ON e.user_id = s2.user_id
          |  WHERE e.event_type = 'purchase' AND e.ts >= s2.view_ts GROUP BY e.user_id)
          |SELECT s1.user_id, s1.signup_ts, s2.view_ts, s3.purchase_ts,
          |  CAST(CASE WHEN s3.purchase_ts IS NOT NULL THEN 3
          |            WHEN s2.view_ts IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS reached_step,
          |  epoch_us(s3.purchase_ts) - epoch_us(s1.signup_ts) AS total_delay_us
          |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
          |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin)),
    // B. streaming twin: the 3-step retroactive-qualifier chain as a
    // typed Aggregator per user, run as a complete-mode streaming
    // aggregation — a late earlier signup promotes pending views AND
    // re-qualifies pending purchases through the moved view_ts
    Key("stream_funnel3", (s, d) => graft.streaming.StreamFunnel3.streamedFunnel3(s, d),
      SameAs("events_funnel3"), twin = true),
    // interpolant: fixed tree of correctly-rounded IEEE ops over exact
    // integer-µs deltas; per-hour export sums floor(v·1e6) integers
    Key("ts_interp", Telemetry.interp _, Sql(
      """WITH e0 AS (SELECT user_id, ts, value, event_id, date_trunc('hour', ts) AS hr,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |ev AS (SELECT user_id, hr, epoch_us(ts) AS tus, 0 AS isg, value FROM e0 WHERE rn = 1),
        |slots AS (SELECT user_id, hr, epoch_us(hr) + (t.m + 1) * 60000000 - 1 AS tus,
        |    1 AS isg, CAST(NULL AS DOUBLE) AS value
        |  FROM (SELECT DISTINCT user_id, hr FROM ev) h, UNNEST(range(0, 60)) AS t(m)),
        |u AS (SELECT * FROM ev UNION ALL SELECT * FROM slots),
        |w AS (SELECT *,
        |    LAST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id, hr
        |      ORDER BY tus, isg ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN isg = 0 THEN tus END IGNORE NULLS) OVER (PARTITION BY user_id, hr
        |      ORDER BY tus, isg ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    FIRST_VALUE(value IGNORE NULLS) OVER (PARTITION BY user_id, hr
        |      ORDER BY tus, isg ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN isg = 0 THEN tus END IGNORE NULLS) OVER (PARTITION BY user_id, hr
        |      ORDER BY tus, isg ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM u),
        |i AS (SELECT user_id, hr, tus,
        |    CASE WHEN pt = tus THEN pv
        |         WHEN pt IS NOT NULL AND nt IS NOT NULL
        |         THEN pv + (nv - pv) * (CAST(tus - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE)) END AS interp
        |  FROM w WHERE isg = 1)
        |SELECT user_id, hr AS hour_ts, COUNT(*) AS n_slots, COUNT(interp) AS n_interp,
        |  CAST(SUM(CAST(FLOOR(interp * 1000000.0) AS BIGINT)) AS BIGINT) AS interp_micro_sum
        |FROM i GROUP BY user_id, hr""".stripMargin)),
    // both medians are discrete rank statistics — element at ceil(n/2)
    // under a (value, event_id) total order; no middle-pair averaging
    Key("ts_mad", (s, d) => Telemetry.madOutliers(s, d), Sql(
      """WITH ev AS (SELECT event_id, user_id, value FROM events
        |  WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |m1 AS (SELECT user_id, value AS med FROM (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM ev) t WHERE rn = CEIL(n * 0.5)),
        |d AS (SELECT ev.event_id, ev.user_id, ABS(ev.value - m1.med) AS dev
        |  FROM ev JOIN m1 USING (user_id)),
        |m2 AS (SELECT user_id, dev AS mad FROM (
        |  SELECT user_id, dev,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dev, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM d) t WHERE rn = CEIL(n * 0.5))
        |SELECT d.event_id, d.user_id, d.dev > 3.0 * m2.mad AS is_outlier
        |FROM d JOIN m2 USING (user_id)""".stripMargin)),
    // integer-µs calendar: native dayofweek()/extract(dow) numbering
    // differs across engines; (days + 4) % 7 (0 = Sunday) does not
    Key("events_heatmap", Telemetry.heatmap _, Sql(
      """SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |  (epoch_us(ts) % 86400000000) // 3600000000 AS hour,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE ts IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),
    // first-8-step session journeys, census top-20 (count desc,
    // journey asc); gap/tie conventions shared with session_windows
    Key("events_journeys", (s, d) => Telemetry.journeys(s, d), Sql(
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |o AS (SELECT *, CASE WHEN LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |    OR t - LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) > 1800000000
        |    THEN 1 ELSE 0 END AS ns FROM e),
        |s AS (SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sess FROM o),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, sess ORDER BY t, event_id) AS rn2 FROM s),
        |j AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY t, event_id) AS journey
        |  FROM r WHERE rn2 <= 8 GROUP BY 1, 2),
        |c AS (SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM j GROUP BY 1)
        |SELECT journey, n_sessions, n_users, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_sessions DESC, journey) AS BIGINT) AS rnk
        |  FROM c) t
        |WHERE rnk <= 20""".stripMargin)),
    Key("ts_ohlc", Telemetry.ohlc _, Sql(
      """WITH candles AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    arg_min(value, epoch_us(ts)) AS open,
        |    MAX(value) AS high, MIN(value) AS low,
        |    arg_max(value, epoch_us(ts)) AS close,
        |    COUNT(*) AS n_events
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, day, open, high, low, close, n_events,
        |  close - LAG(close) OVER (PARTITION BY event_type ORDER BY day) AS close_chg
        |FROM candles""".stripMargin)),
    // arg_min/arg_max keys are unique per (user, ts) — the ohlc
    // determinism contract; bucket ids by integer µs division
    Key("ts_m4", (s, d) => Telemetry.m4(s, d), Sql(
        """SELECT user_id,
          |  make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS bucket,
          |  COUNT(*) AS n_points,
          |  arg_min(value, epoch_us(ts)) AS v_first,
          |  arg_max(value, epoch_us(ts)) AS v_last,
          |  MIN(value) AS v_min, MAX(value) AS v_max
          |FROM events WHERE value IS NOT NULL GROUP BY 1, 2""".stripMargin)),
    // B. streaming twin: watermarked 6h tumbling windows in append
    // mode — min_by/max_by five-scalar state per open bucket, buckets
    // close as the watermark passes; time-based sentinel exclusion
    Key("stream_m4", (s, d) => graft.streaming.StreamM4.streamedM4(s, d),
      SameAs("ts_m4"), twin = true),
    Key("ts_forecast", Telemetry.forecast _, Sql(
        """WITH daily AS (
          |  SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us,
          |    COUNT(*) AS n_events
          |  FROM events GROUP BY 1, 2)
          |SELECT a.event_type, make_timestamp(a.day_us) AS day, a.n_events,
          |  b.n_events AS forecast,
          |  CASE WHEN b.n_events IS NOT NULL
          |    THEN abs(a.n_events - b.n_events) END AS abs_err
          |FROM daily a LEFT JOIN daily b
          |  ON b.event_type = a.event_type
          |  AND b.day_us = a.day_us - 604800000000""".stripMargin)),
    // G. streaming twin: the batch day census as a complete-mode
    // streaming aggregation, batch day-7 self-join assembly
    Key("stream_forecast", (s, d) => graft.streaming.StreamForecast.streamedForecast(s, d),
      SameAs("ts_forecast"), twin = true),
    Key("events_basket", Telemetry.basket _, Sql(
        """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
          |m AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
          |u AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
          |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
          |  FROM ut a JOIN ut b
          |    ON a.user_id = b.user_id AND a.event_type < b.event_type
          |  GROUP BY 1, 2)
          |SELECT p.type_a, p.type_b, ma.n AS n_a, mb.n AS n_b, p.n_ab,
          |  CAST(p.n_ab * u.n_users AS DOUBLE) / (ma.n * mb.n) AS lift
          |FROM p JOIN m ma ON ma.event_type = p.type_a
          |JOIN m mb ON mb.event_type = p.type_b CROSS JOIN u""".stripMargin)),
    // G. streaming twin: per-user type-set membership emits each
    // DISTINCT (user, type) cell once, final at arrival (no
    // sentinel); pair/lift assembly over the cell sink
    Key("stream_basket", (s, d) => graft.streaming.StreamBasket.streamedBasket(s, d),
      SameAs("events_basket"), twin = true),
    // forward variant: the same merge exec on negated integer time;
    // DuckDB's ASOF with a flipped inequality is the exact oracle
    Key("q_asof_forward", Relational.qAsOfForward _, Sql(
      """SELECT e.event_id, e.user_id, e.ts, p.pts AS next_purchase_ts,
        |  CASE WHEN p.pts IS NOT NULL
        |    THEN epoch_us(p.pts) - epoch_us(e.ts) END AS wait_us,
        |  p.purchase_value
        |FROM (SELECT * FROM events WHERE event_type <> 'purchase') e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts AS pts,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
        |ON e.user_id = p.user_id AND e.ts <= p.pts""".stripMargin)),
    Key("dq_freshness", (s, d) => Quality.freshness(s, d), Sql(
        """WITH hwm AS (SELECT MAX(ts) AS corpus_max FROM events)
          |SELECT event_type, MAX(ts) AS last_ts, COUNT(*) AS n_events,
          |  CAST(SUM(CASE WHEN ts >= corpus_max - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day,
          |  (epoch_us(MAX(corpus_max)) - epoch_us(MAX(ts))) // 1000000 AS lag_seconds,
          |  ((epoch_us(MAX(corpus_max)) - epoch_us(MAX(ts))) // 1000000) > 86400 AS is_stale
          |FROM events CROSS JOIN hwm
          |GROUP BY event_type""".stripMargin)),
    // G. streaming twin: per-type high-water mark + 24h-of-type-max
    // pruned buffer (the corpus window is always a subset); snapshot
    // flush, type-dimension staleness assembly
    Key("stream_freshness", (s, d) => graft.streaming.StreamFreshness.streamedFreshness(s, d),
      SameAs("dq_freshness"), twin = true),
    Key("q_cdc_apply", Changelog.cdcApply _, Sql(
      """SELECT user_id, value, updated_at, n_ops, n_deletes FROM (
        |  SELECT user_id,
        |    last(value ORDER BY epoch_us(ts)) AS value,
        |    last(ts ORDER BY epoch_us(ts)) AS updated_at,
        |    COUNT(*) AS n_ops,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
        |    last(CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END ORDER BY epoch_us(ts)) AS last_op
        |  FROM events GROUP BY user_id) t
        |WHERE last_op <> 'D'""".stripMargin)),
    // G. streaming changelog materialization: the CDC topic as two
    // micro-batches through q_cdc_apply's own per-key latest-op
    // election (Changelog.cdcCensus) as a complete-mode streaming
    // aggregation — batch-2 ops must fold into batch-1 state
    // (tombstones stay IN state: a late earlier upsert must still
    // lose to them)
    Key("stream_cdc", (s, d) => graft.streaming.StreamCdc.streamedCdc(s, d),
      SameAs("q_cdc_apply"), twin = true),
    Key("q_scd2", Changelog.scd2 _, Sql(
      """WITH ch AS (
        |  SELECT user_id, event_type, ts AS valid_from FROM (
        |    SELECT user_id, event_type, ts,
        |      LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |    FROM events) t
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, valid_from,
        |  LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY valid_from) AS BIGINT) AS version,
        |  (LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL) AS is_current
        |FROM ch""".stripMargin)),
    Key("ts_autocorr", Telemetry.autocorr _, Sql(
        """WITH p AS (SELECT event_type,
          |    CAST(value AS DECIMAL(18,2)) AS y,
          |    LAG(CAST(value AS DECIMAL(18,2)))
          |      OVER (PARTITION BY event_type ORDER BY ts, event_id) AS x
          |  FROM events),
          |s AS (SELECT event_type, COUNT(*) AS n_pairs,
          |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
          |    CAST(SUM(x * y) AS DOUBLE) AS sxy,
          |    CAST(SUM(x * x) AS DOUBLE) AS sxx,
          |    CAST(SUM(y * y) AS DOUBLE) AS syy
          |  FROM p WHERE x IS NOT NULL GROUP BY event_type)
          |SELECT event_type, n_pairs,
          |  (n_pairs * sxy - sx * sy) /
          |    (sqrt(n_pairs * sxx - sx * sx) * sqrt(n_pairs * syy - sy * sy)) AS autocorr
          |FROM s""".stripMargin)),
    // G. streaming twin: O(1) delay-line state per stream emits lag
    // pairs final at arrival (no sentinel); decimal power-sum
    // assembly over the pair sink
    Key("stream_autocorr", (s, d) => graft.streaming.StreamAutocorr.streamedAutocorr(s, d),
      SameAs("ts_autocorr"), twin = true),
    // all-integer Pearson over gap-filled hourly volumes; the dense
    // calendar makes missing hours explicit zero observations
    Key("ts_xcorr", (s, d) => Telemetry.xcorr(s, d), Sql(
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT MIN(h) AS lo, MAX(h) AS hi FROM c),
        |hours AS (SELECT unnest(generate_series(lo, hi)) AS h FROM bounds),
        |types AS (SELECT DISTINCT event_type FROM c),
        |grid AS (SELECT t.event_type, hs.h, COALESCE(c.n, 0) AS n
        |  FROM types t CROSS JOIN hours hs
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.h = hs.h),
        |lags AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS lag_h),
        |s AS (SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag_h,
        |    COUNT(*) AS n_hours,
        |    CAST(SUM(a.n) AS BIGINT) AS sx, CAST(SUM(b.n) AS BIGINT) AS sy,
        |    CAST(SUM(a.n * b.n) AS BIGINT) AS sxy,
        |    CAST(SUM(a.n * a.n) AS BIGINT) AS sxx,
        |    CAST(SUM(b.n * b.n) AS BIGINT) AS syy
        |  FROM grid a CROSS JOIN lags l
        |  JOIN grid b ON b.h = a.h + l.lag_h AND b.event_type > a.event_type
        |  GROUP BY 1, 2, 3)
        |SELECT type_a, type_b, lag_h, n_hours,
        |  n_hours * sxy - sx * sy AS num,
        |  n_hours * sxx - sx * sx AS den_x,
        |  n_hours * syy - sy * sy AS den_y,
        |  CASE WHEN n_hours * sxx - sx * sx > 0 AND n_hours * syy - sy * sy > 0
        |    THEN CAST(n_hours * sxy - sx * sy AS DOUBLE) /
        |      SQRT(CAST(n_hours * sxx - sx * sx AS DOUBLE) * CAST(n_hours * syy - sy * sy AS DOUBLE))
        |    ELSE 0.0 END AS xcorr
        |FROM s""".stripMargin), eager = Some(Bounds)),
    // streaming twin: the hourly census runs as an append-mode
    // tumbling-window aggregation; the lag-join assembly is the
    // batch code over the (final) sink — identical by construction
    // when cross-batch window state works
    Key("stream_xcorr", (s, d) => graft.streaming.StreamXcorr.streamedXcorr(s, d),
      SameAs("ts_xcorr"), twin = true),
    Key("events_alerts", (s, d) => Telemetry.alerts(s, d), Sql(
      """WITH r AS (SELECT event_id, user_id, event_type, value,
        |    CAST((length(event_type) * 7) % 40 + 30 AS BIGINT) AS threshold,
        |    epoch_us(ts) AS t_us
        |  FROM events WHERE value > (length(event_type) * 7) % 40 + 30),
        |l AS (SELECT *, LAG(t_us) OVER (
        |    PARTITION BY event_type, user_id ORDER BY t_us, event_id) AS prev_us
        |  FROM r)
        |SELECT event_id, user_id, event_type, value, threshold, t_us,
        |  (prev_us IS NULL OR t_us - prev_us > 1800000000) AS emitted
        |FROM l""".stripMargin)),
    // integer cross-multiplied VMR: gap hours enter only through the
    // global hour-range cardinality (zeros add nothing to the sums)
    Key("events_dispersion", Telemetry.dispersion _, Sql(
      """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h, COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT MAX(h) - MIN(h) + 1 AS n FROM c),
        |s AS (SELECT event_type, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx FROM c GROUP BY 1)
        |SELECT event_type, b.n AS n_hours, sx, sxx,
        |  b.n * sxx - sx * sx AS vmr_num,
        |  b.n * sx AS vmr_den,
        |  CAST(b.n * sxx - sx * sx AS DOUBLE) / CAST(b.n * sx AS DOUBLE) AS vmr,
        |  b.n * sxx - sx * sx > b.n * sx AS over_dispersed
        |FROM s CROSS JOIN b""".stripMargin), eager = Some(Bounds)),
    // streaming twin: the same staged hourly census as stream_xcorr,
    // VMR rollup over the final sink — identical by construction
    Key("stream_dispersion", (s, d) => graft.streaming.StreamXcorr.streamedDispersion(s, d),
      SameAs("events_dispersion"), twin = true),
    Key("events_streak", Telemetry.streaks _, Sql(
      """WITH days AS (SELECT DISTINCT user_id,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day FROM events),
        |isl AS (SELECT user_id, day,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days),
        |st AS (SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start_day
        |  FROM isl GROUP BY user_id, grp),
        |ranked AS (SELECT user_id,
        |    CAST(SUM(len) OVER (PARTITION BY user_id) AS BIGINT) AS n_active_days,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_streaks,
        |    len, start_day,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY len DESC, start_day ASC) AS rk
        |  FROM st)
        |SELECT user_id, n_active_days, n_streaks, len AS best_len,
        |  DATE '1970-01-01' + CAST(start_day AS INTEGER) AS best_start
        |FROM ranked WHERE rk = 1""".stripMargin)),
    // G. streaming twin: seven-integer per-user streak state replaces
    // the batch gaps-and-islands shuffles; per-user sentinel flush
    Key("stream_streak", (s, d) => graft.streaming.StreamStreak.streamedStreaks(s, d),
      SameAs("events_streak"), twin = true),
    Key("q_running_distinct", Telemetry.runningDistinct _, Sql(
      """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |act AS (SELECT day, COUNT(*) AS n_active_users FROM ud GROUP BY day),
        |fs AS (SELECT user_id, MIN(day) AS day FROM ud GROUP BY user_id),
        |nu AS (SELECT day, COUNT(*) AS n_new_users FROM fs GROUP BY day)
        |SELECT act.day, act.n_active_users,
        |  COALESCE(nu.n_new_users, 0) AS n_new_users,
        |  CAST(SUM(COALESCE(nu.n_new_users, 0)) OVER (ORDER BY act.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_distinct_users
        |FROM act LEFT JOIN nu ON act.day = nu.day""".stripMargin)),
    // G. streaming twin: per-user day-set state (time-axis bounded),
    // one final (user, day, is_first) emission per user-day, no
    // sentinel; day-dimension census over the sink
    Key("stream_active", (s, d) => graft.streaming.StreamActive.streamedActive(s, d),
      SameAs("q_running_distinct"), twin = true),
    Key("events_markov", Telemetry.markov _, Sql(
      """WITH bg AS (SELECT user_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_state,
        |    event_type AS to_state
        |  FROM events),
        |m AS (SELECT from_state, to_state, COUNT(*) AS n_transitions
        |  FROM bg WHERE from_state IS NOT NULL GROUP BY from_state, to_state)
        |SELECT from_state, to_state, n_transitions,
        |  CAST(SUM(n_transitions) OVER (PARTITION BY from_state) AS BIGINT) AS row_total,
        |  CAST(n_transitions AS DOUBLE) /
        |    CAST(SUM(n_transitions) OVER (PARTITION BY from_state) AS DOUBLE) AS p,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY from_state
        |    ORDER BY n_transitions DESC, to_state ASC) AS BIGINT) AS rnk
        |FROM m""".stripMargin)),
    // G. streaming twin: O(1) last-type state emits every bigram at
    // arrival (self-loops + NULL-to included); the types²-sized
    // matrix assembly runs over the append sink
    Key("stream_markov", (s, d) => graft.streaming.StreamMarkov.streamedMarkov(s, d),
      SameAs("events_markov"), twin = true),
    Key("ts_changepoint", (s, d) => Telemetry.changepoints(s, d), Sql(
      """WITH ev AS (SELECT event_type, event_id, ts,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |d AS (SELECT event_type, event_id, ts,
        |    COUNT(*) OVER pre AS n_pre,
        |    COUNT(*) OVER post AS n_post,
        |    CAST(SUM(v) OVER pre AS DOUBLE) / (COUNT(*) OVER pre) AS pre_mean,
        |    CAST(SUM(v) OVER post AS DOUBLE) / (COUNT(*) OVER post) AS post_mean
        |  FROM ev
        |  WINDOW pre AS (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
        |    post AS (PARTITION BY event_type ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING)),
        |j AS (SELECT event_type, event_id, ts, pre_mean, post_mean,
        |    post_mean - pre_mean AS jump
        |  FROM d WHERE n_pre = 8 AND n_post = 8),
        |k AS (SELECT event_type, event_id, ts, pre_mean, post_mean, jump,
        |    CAST(SUM(CAST(abs(jump) AS DECIMAL(18,6)))
        |        OVER (PARTITION BY event_type) AS DOUBLE) /
        |      (COUNT(*) OVER (PARTITION BY event_type)) AS mean_abs_jump
        |  FROM j)
        |SELECT event_type, event_id, ts, pre_mean, post_mean, jump, mean_abs_jump
        |FROM k WHERE abs(jump) > CAST(3.0 AS DOUBLE) * mean_abs_jump""".stripMargin)),
    Key("dq_benford", Quality.benford _, Sql(
      """WITH d AS (SELECT CAST(substr(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
        |    AS INTEGER) AS digit FROM lineitem),
        |g AS (SELECT digit, COUNT(*) AS n_rows FROM d GROUP BY digit)
        |SELECT digit, n_rows,
        |  CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) AS share,
        |  CASE digit
        |    WHEN 1 THEN CAST(0.301030 AS DOUBLE) WHEN 2 THEN CAST(0.176091 AS DOUBLE)
        |    WHEN 3 THEN CAST(0.124939 AS DOUBLE) WHEN 4 THEN CAST(0.096910 AS DOUBLE)
        |    WHEN 5 THEN CAST(0.079181 AS DOUBLE) WHEN 6 THEN CAST(0.066947 AS DOUBLE)
        |    WHEN 7 THEN CAST(0.057992 AS DOUBLE) WHEN 8 THEN CAST(0.051153 AS DOUBLE)
        |    WHEN 9 THEN CAST(0.045757 AS DOUBLE) END AS benford_expected,
        |  abs(CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) -
        |    CASE digit
        |      WHEN 1 THEN CAST(0.301030 AS DOUBLE) WHEN 2 THEN CAST(0.176091 AS DOUBLE)
        |      WHEN 3 THEN CAST(0.124939 AS DOUBLE) WHEN 4 THEN CAST(0.096910 AS DOUBLE)
        |      WHEN 5 THEN CAST(0.079181 AS DOUBLE) WHEN 6 THEN CAST(0.066947 AS DOUBLE)
        |      WHEN 7 THEN CAST(0.057992 AS DOUBLE) WHEN 8 THEN CAST(0.051153 AS DOUBLE)
        |      WHEN 9 THEN CAST(0.045757 AS DOUBLE) END) AS abs_dev
        |FROM g""".stripMargin)),
    // G. streaming twin: the batch nine-digit census as a
    // complete-mode streaming aggregation; nine-row Benford assembly
    Key("stream_benford", (s, d) => graft.streaming.StreamBenford.streamedBenford(s, d),
      SameAs("dq_benford"), twin = true),
    Key("dq_uniqueness", Quality.uniqueness _, Sql(
        """WITH a AS (SELECT COUNT(*) AS n FROM events GROUP BY event_id),
          |b AS (SELECT COUNT(*) AS n FROM events GROUP BY user_id, ts),
          |c AS (SELECT COUNT(*) AS n FROM events GROUP BY user_id, event_type, ts)
          |SELECT 'event_id' AS key_cols, CAST(SUM(n) AS BIGINT) AS n_rows,
          |  COUNT(*) AS n_keys,
          |  CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT) AS n_dup_keys,
          |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_surplus_rows,
          |  MAX(n) AS max_multiplicity FROM a
          |UNION ALL
          |SELECT 'user_id,ts', CAST(SUM(n) AS BIGINT), COUNT(*),
          |  CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT),
          |  CAST(SUM(n) - COUNT(*) AS BIGINT), MAX(n) FROM b
          |UNION ALL
          |SELECT 'user_id,event_type,ts', CAST(SUM(n) AS BIGINT), COUNT(*),
          |  CAST(COALESCE(SUM(CASE WHEN n > 1 THEN 1 END), 0) AS BIGINT),
          |  CAST(SUM(n) - COUNT(*) AS BIGINT), MAX(n) FROM c""".stripMargin)),
    // G. streaming twin: running-multiplicity emission — per-key
    // counter state (all three candidates in ONE pass), every
    // arrival emits its key's new multiplicity, final at arrival;
    // the batch headlines are plain aggregates of the emission log
    Key("stream_uniqueness", (s, d) => graft.streaming.StreamUniqueness.streamedUniqueness(s, d),
      SameAs("dq_uniqueness"), twin = true),
    Key("dq_drift", Quality.drift _, Sql(
      """WITH b AS (SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS cut FROM events),
        |c AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN epoch_us(ts) <= cut THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(SUM(CASE WHEN epoch_us(ts) > cut THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        |  FROM events, b GROUP BY event_type),
        |t AS (SELECT SUM(n_b) AS tb, SUM(n_a) AS ta FROM c)
        |SELECT event_type, n_a, n_b,
        |  CAST(n_a * tb AS DOUBLE) / ta AS expected_b,
        |  (CAST(n_b AS DOUBLE) - CAST(n_a * tb AS DOUBLE) / ta)
        |    * (CAST(n_b AS DOUBLE) - CAST(n_a * tb AS DOUBLE) / ta)
        |    / (CAST(n_a * tb AS DOUBLE) / ta) AS chi2_term
        |FROM c, t""".stripMargin)),
    Key("dq_volume", Quality.volume _, Sql(
      """WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, COUNT(*) AS n_days,
        |    CAST(SUM(n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu,
        |    CAST(SUM(n_events * n_events) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m2
        |  FROM daily GROUP BY event_type)
        |SELECT d.event_type, d.day, d.n_events, s.n_days,
        |  ((CAST(d.n_events AS DOUBLE) - s.mu) * (CAST(d.n_events AS DOUBLE) - s.mu)
        |     > 4.0 * (s.m2 - s.mu * s.mu)) AS is_spike
        |FROM daily d JOIN s USING (event_type)""".stripMargin)),
    // G. streaming twin: the batch per-type day census (time-axis
    // bounded) as a complete-mode streaming aggregation; spike
    // assembly over it
    Key("stream_volume", (s, d) => graft.streaming.StreamVolume.streamedVolume(s, d),
      SameAs("dq_volume"), twin = true),
    Key("dq_completeness", Quality.completeness _, Sql(
        """WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
          |    CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_ts,
          |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_user_id,
          |    CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_event_type,
          |    CAST(SUM(CASE WHEN event_type IS NOT NULL AND trim(event_type) = '' THEN 1 ELSE 0 END) AS BIGINT) AS blank_event_type,
          |    CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_value,
          |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_props,
          |    CAST(SUM(CASE WHEN props IS NOT NULL AND trim(props) = '' THEN 1 ELSE 0 END) AS BIGINT) AS blank_props
          |  FROM events)
          |SELECT column_name, n_rows, n_null, n_blank,
          |  CAST(n_rows - n_null - n_blank AS DOUBLE) / CAST(n_rows AS DOUBLE) AS populated_frac
          |FROM (
          |  SELECT 'ts' AS column_name, n_rows, null_ts AS n_null, CAST(0 AS BIGINT) AS n_blank FROM s
          |  UNION ALL SELECT 'user_id', n_rows, null_user_id, CAST(0 AS BIGINT) FROM s
          |  UNION ALL SELECT 'event_type', n_rows, null_event_type, blank_event_type FROM s
          |  UNION ALL SELECT 'value', n_rows, null_value, CAST(0 AS BIGINT) FROM s
          |  UNION ALL SELECT 'props', n_rows, null_props, blank_props FROM s) u""".stripMargin)),
    // G. streaming twin: the batch eleven-counter global aggregate as
    // a complete-mode streaming aggregation, batch unpivot
    Key("stream_completeness", (s, d) => graft.streaming.StreamCompleteness.streamedCompleteness(s, d),
      SameAs("dq_completeness"), twin = true),
    // G. join-key skew pre-flight: bounded-heap hot-key election over
    // the key census by (count DESC, key ASC), NULL mass its own
    // headline column, skew factor = n*K/N (one division)
    Key("dq_keyskew", (s, d) => Quality.keySkew(s, d), Sql(
        """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1),
          |s AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
          |    CAST(COUNT(*) AS BIGINT) AS n_keys,
          |    CAST(COALESCE(SUM(CASE WHEN user_id IS NULL THEN n END), 0) AS BIGINT) AS null_rows
          |  FROM c),
          |top AS (SELECT user_id, n,
          |    CAST(ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS BIGINT) AS rnk
          |  FROM c WHERE user_id IS NOT NULL)
          |SELECT rnk, user_id, n, n_rows, n_keys, null_rows,
          |  CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share,
          |  CAST(n * n_keys AS DOUBLE) / CAST(n_rows AS DOUBLE) AS skew_factor
          |FROM top CROSS JOIN s WHERE rnk <= 10""".stripMargin), eager = Some(Shared)),
    // G. streaming twin: the batch key census as a complete-mode
    // streaming aggregation, batch stats + bounded-heap election
    Key("stream_keyskew", (s, d) => graft.streaming.StreamKeySkew.streamedKeySkew(s, d),
      SameAs("dq_keyskew"), twin = true),
    Key("events_rfm", Telemetry.rfm _, Sql(
      """WITH u AS (
        |  SELECT user_id, MAX(epoch_us(ts)) AS last_us, COUNT(*) AS frequency,
        |    COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |      THEN CAST(value AS DECIMAL(18,2)) END), 0) AS monetary_dec
        |  FROM events GROUP BY user_id),
        |hw AS (SELECT MAX(epoch_us(ts)) AS hi_us FROM events),
        |s AS (SELECT user_id, (hi_us - last_us) // 86400000000 AS recency_days,
        |    frequency, monetary_dec FROM u, hw)
        |SELECT user_id, recency_days, frequency,
        |  CAST(monetary_dec AS DOUBLE) AS monetary,
        |  CAST(NTILE(4) OVER (ORDER BY recency_days ASC, user_id ASC NULLS FIRST) AS BIGINT) AS r_score,
        |  CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id ASC NULLS FIRST) AS BIGINT) AS f_score,
        |  CAST(NTILE(4) OVER (ORDER BY monetary_dec DESC, user_id ASC NULLS FIRST) AS BIGINT) AS m_score
        |FROM s""".stripMargin)),
    // G. streaming twin: the batch per-user census as a complete-mode
    // streaming aggregation; quartile assembly over it
    Key("stream_rfm", (s, d) => graft.streaming.StreamRfm.streamedRfm(s, d),
      SameAs("events_rfm"), twin = true),
    Key("q_mode", Relational.qMode _, Sql(
      """WITH census AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2)
        |SELECT n_name, mode_segment, n_mode, n_customers, n_segments FROM (
        |  SELECT c_nationkey, c_mktsegment AS mode_segment, n AS n_mode,
        |    ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY n DESC, c_mktsegment) AS rn,
        |    CAST(SUM(n) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_customers,
        |    COUNT(*) OVER (PARTITION BY c_nationkey) AS n_segments
        |  FROM census) t JOIN nation ON n_nationkey = c_nationkey
        |WHERE rn = 1""".stripMargin)),
    Key("q_asof_nearest", Relational.qAsOfNearest _, Sql(
      """WITH d AS (SELECT o_custkey AS u, o_orderdate AS t, 0 AS is_event,
        |    CAST(NULL AS BIGINT) AS event_id, o_orderdate AS od,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM orders GROUP BY o_custkey, o_orderdate),
        |ev AS (SELECT user_id AS u, ts AS t, 1 AS is_event, event_id,
        |    CAST(NULL AS TIMESTAMP) AS od, CAST(NULL AS DOUBLE) AS day_total
        |  FROM events WHERE ts IS NOT NULL),
        |un AS (SELECT * FROM d UNION ALL SELECT * FROM ev),
        |w AS (SELECT *,
        |    LAST_VALUE(od IGNORE NULLS) OVER (PARTITION BY u ORDER BY t, is_event ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_od,
        |    LAST_VALUE(day_total IGNORE NULLS) OVER (PARTITION BY u ORDER BY t, is_event ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS back_total,
        |    FIRST_VALUE(od IGNORE NULLS) OVER (PARTITION BY u ORDER BY t, is_event ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_od,
        |    FIRST_VALUE(day_total IGNORE NULLS) OVER (PARTITION BY u ORDER BY t, is_event ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS fwd_total
        |  FROM un),
        |f AS (SELECT *, (back_od IS NOT NULL AND (fwd_od IS NULL
        |    OR epoch_us(t) - epoch_us(back_od) <= epoch_us(fwd_od) - epoch_us(t))) AS use_back
        |  FROM w WHERE is_event = 1)
        |SELECT event_id, u AS user_id, t AS ts,
        |  CASE WHEN use_back THEN back_od ELSE fwd_od END AS near_order_date,
        |  CASE WHEN use_back THEN back_total ELSE fwd_total END AS near_day_total,
        |  CASE WHEN back_od IS NULL AND fwd_od IS NULL THEN CAST(NULL AS VARCHAR)
        |       WHEN use_back THEN 'back' ELSE 'fwd' END AS direction
        |FROM f""".stripMargin)),
    Key("q_percent_rank", Relational.qPercentRank _, Sql(
      """SELECT c_custkey, c_nationkey, c_acctbal,
        |  percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS pct_rank,
        |  cume_dist() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS cume
        |FROM customer""".stripMargin)),
    Key("ts_seasonal", Telemetry.seasonal _, Sql(
      """WITH cells AS (SELECT event_type,
        |    ((epoch_us(ts) // 3600000000) % 24 + 24) % 24 AS hod,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |c2 AS (SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        |  FROM cells GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(SUM(n_events) AS BIGINT) AS n_type FROM c2 GROUP BY 1)
        |SELECT event_type, hod, n_events, n_days,
        |  CAST(n_events * 24 AS DOUBLE) / CAST(n_type AS DOUBLE) AS seasonal_idx
        |FROM c2 JOIN t USING (event_type)""".stripMargin), eager = Some(Shared)),
    Key("events_interarrival", Telemetry.interarrival _, Sql(
      """WITH g AS (SELECT event_type, event_id,
        |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY event_type ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |r AS (SELECT event_type, event_id, gap_us,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap_us, event_id) AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM g WHERE gap_us IS NOT NULL)
        |SELECT event_type, MAX(n) AS n_gaps,
        |  MAX(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS p50_us,
        |  MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END) AS p90_us,
        |  MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN gap_us END) AS p99_us,
        |  MAX(gap_us) AS max_us
        |FROM r GROUP BY event_type""".stripMargin)),
    Key("text_entropy", TextAnalysis.entropy _, Sql(
      """WITH cp AS (SELECT doc_id, ascii(c) AS cp
        |    FROM documents, UNNEST(string_split(text, '')) AS t(c)
        |    WHERE length(text) > 0),
        |cc AS (SELECT doc_id, cp, COUNT(*) AS c FROM cp GROUP BY 1, 2),
        |agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_cps,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(c * (c - 1)) AS BIGINT) AS coll_pairs
        |  FROM cc GROUP BY doc_id)
        |SELECT doc_id, n_cps, n_distinct, coll_pairs,
        |  CASE WHEN coll_pairs > 0
        |    THEN CAST(n_cps * (n_cps - 1) AS DOUBLE) / CAST(coll_pairs AS DOUBLE)
        |    ELSE CAST(NULL AS DOUBLE) END AS eff_alphabet
        |FROM agg""".stripMargin)),
    Key("text_novelty", TextAnalysis.novelty _, Sql(
      """WITH grams AS (SELECT doc_id, list_distinct(CASE WHEN length(lower(text)) >= 4
        |  THEN list_transform(range(1, length(lower(text))-2), i -> substr(lower(text), i, 4))
        |  ELSE [lower(text)] END) AS gs FROM documents),
        |idx AS (SELECT doc_id, unnest(gs) AS gram FROM grams),
        |fs AS (SELECT gram, MIN(doc_id) AS first_seen FROM idx GROUP BY gram)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen_before,
        |  1.0 - CAST(SUM(CASE WHEN first_seen < doc_id THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
        |FROM idx JOIN fs USING (gram) GROUP BY doc_id""".stripMargin)),
    // F. language-ID confusion matrix + per-language recall (the
    // eval harness beside the langid heuristic, the ann_recall stance)
    // over the SAME prediction CTE — per-language totals and cell
    // shares from the cells, never a corpus re-scan
    Key("text_langid_eval", TextAnalysis.langIdEval _, Sql(
      s"""WITH cells AS (
        |  SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM ($langidPredSql) p GROUP BY 1, 2)
        |SELECT lang, pred_lang, n_docs,
        |  CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS n_lang,
        |  CAST(n_docs AS DOUBLE) /
        |    CAST(CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS DOUBLE) AS cell_share,
        |  lang = pred_lang AS is_diagonal
        |FROM cells""".stripMargin)),
    // streaming twin on the SAME oracle: a gram first seen in an
    // earlier micro-batch must classify later docs from state
    Key("stream_novelty", (s, d) => graft.streaming.StreamNovelty.streamedNovelty(s, d),
      SameAs("text_novelty"), twin = true),
    Key("corpus_curriculum", (s, d) => Curation.curriculum(s, d), Sql(
      """WITH r AS (SELECT doc_id, n_chars AS difficulty,
        |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS pos,
        |    COUNT(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, difficulty, pos, CAST((4 * pos) // n AS BIGINT) AS phase
        |FROM r""".stripMargin)),
    Key("events_ltv", Telemetry.ltv _, Sql(
      """WITH cohorts AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |p AS (SELECT user_id, date_trunc('week', ts) AS p_week, value
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |cells AS (SELECT cohort_week,
        |    CAST(datediff('day', cohort_week, p_week) // 7 AS BIGINT) AS week_offset,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS rev_dec
        |  FROM cohorts JOIN p USING (user_id) WHERE p_week >= cohort_week
        |  GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, n_buyers,
        |  CAST(rev_dec AS DOUBLE) AS revenue,
        |  CAST(SUM(rev_dec) OVER (PARTITION BY cohort_week ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_revenue
        |FROM cells""".stripMargin)),
    // G. streaming twin: earliest-signup election + time-axis-bounded
    // per-week cent sums; snapshot flush because a late earlier
    // signup re-offsets the whole slice
    Key("stream_ltv", (s, d) => graft.streaming.StreamLtv.streamedLtv(s, d),
      SameAs("events_ltv"), twin = true),
    // streaming twin on the SAME oracle: a gap straddling the cut
    // must come out of per-type last-arrival state
    Key("stream_interarrival", (s, d) => graft.streaming.StreamInterarrival.streamedInterarrival(s, d),
      SameAs("events_interarrival"), twin = true),
    // streaming twin on the SAME oracle: cell counts fold across the
    // staged cut in per-(type, hod, day) state
    Key("stream_seasonal", (s, d) => graft.streaming.StreamSeasonal.streamedSeasonal(s, d),
      SameAs("ts_seasonal"), twin = true),
    // streaming twin on the SAME oracle: (dow, hour) cell counters
    // fold across the staged cut in exact-cents state
    Key("stream_heatmap", (s, d) => graft.streaming.StreamHeatmap.streamedHeatmap(s, d),
      SameAs("events_heatmap"), twin = true),
    // streaming twin on the SAME oracle: scan-local flags fold into
    // per-shard counter state across the staged cut
    Key("stream_quarantine", (s, d) => graft.streaming.StreamQuarantine.streamedQuarantine(s, d),
      SameAs("events_quarantine"), twin = true),
    // the q_sketch_* KMV aggregate per event type as a complete-mode
    // streaming aggregation; the k-min set of a SET is fold-order
    // independent, so the streamed sketch and the KMV estimate replay
    // deterministically
    Key("stream_distinct", (s, d) => graft.streaming.StreamDistinct.streamedDistinct(s, d), Sql(
      s"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events
         |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL AND ts IS NOT NULL),
         |hs AS (SELECT event_type, list_slice(list_sort(list_distinct(list(h))), 1, 64) AS hs
         |  FROM (SELECT event_type, ${ph("CAST(user_id AS VARCHAR)")} AS h FROM ut) t
         |  GROUP BY 1)
         |SELECT event_type, CAST(len(hs) AS BIGINT) AS n_sketch,
         |  CASE WHEN len(hs) < 64 THEN CAST(len(hs) AS DOUBLE)
         |       ELSE CAST(63 AS DOUBLE) * CAST(1000000007 AS DOUBLE) / CAST(hs[64] AS DOUBLE) END AS est_distinct
         |FROM hs""".stripMargin), twin = true),
    // deterministic shuffled order (content-hash rank) + exact
    // running token sum, admitted while cum <= budget
    Key("corpus_fill_budget", (s, d) => Curation.fillBudget(s, d), Sql(
      s"""WITH t AS (SELECT doc_id, ${ph("text")} AS h,
         |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id,
         |    CAST(ROW_NUMBER() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos, n_tokens,
         |    CAST(SUM(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM t)
         |SELECT doc_id, pos, n_tokens, cum_tokens FROM r
         |WHERE cum_tokens <= 20000""".stripMargin)),
    // streaming twin on the SAME oracle: the per-user second-gate
    // state must survive a second straddling the micro-batch cut
    Key("stream_downsample", (s, d) => graft.streaming.StreamDownsample.streamedDownsample(s, d),
      SameAs("downsample_1hz"), twin = true),
    // events_ratecap's own TopKPairs census (Telemetry.rateCapCensus)
    // as a complete-mode streaming aggregation, then its assembly:
    // keeper sets and totals fold across the staged cut in per-(user,
    // day) state
    Key("stream_ratecap", (s, d) => graft.streaming.StreamRatecap.streamedRatecap(s, d),
      SameAs("events_ratecap"), twin = true),
    // streaming twin on the SAME oracle: a bigram whose halves land
    // in different micro-batches must come out of cross-batch state
    Key("stream_paths", (s, d) => graft.streaming.StreamPaths.streamedPaths(s, d),
      SameAs("events_paths"), twin = true),
    // D. deduplication
    Key("dedup_exact", Dedup.exact _, Sql(
      s"""SELECT ${ph("text")} AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY 1""".stripMargin)),
    Key("dedup_minhash", Dedup.minhash _, Sql(
      s"""WITH $minhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM vp""".stripMargin)),
    Key("dedup_clusters", (s, d) => Dedup.clusters(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM cc""".stripMargin), eager = Some(Rounds)),
    Key("dedup_apply", (s, d) => Dedup.applyDedup(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)""".stripMargin), eager = Some(Rounds)),
    Key("dedup_keep_best", (s, d) => Dedup.keepBest(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes
         |SELECT cluster_id, keeper_id, keeper_chars, cluster_size FROM (
         |  SELECT cc.cluster_id, d.doc_id AS keeper_id, d.n_chars AS keeper_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cc.cluster_id ORDER BY d.n_chars DESC, d.doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY cc.cluster_id) AS cluster_size
         |  FROM cc JOIN documents d USING (doc_id)) t
         |WHERE rn = 1""".stripMargin), eager = Some(Rounds)),
    Key("dedup_sensitivity", (s, d) => Dedup.sensitivity(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |th AS (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold FROM UNNEST(range(2,9)) AS t(i)),
         |x AS (SELECT th.threshold, vp.doc_a, vp.doc_b
         |  FROM vp CROSS JOIN th WHERE vp.jaccard >= th.threshold)
         |SELECT threshold, CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
         |  CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
         |FROM (SELECT threshold, unnest([doc_a, doc_b]) AS doc FROM x) u
         |GROUP BY threshold""".stripMargin)),
    Key("dedup_url", Dedup.urlDedup _, Sql(
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'http://' ELSE 'https://' END) ||
        |  (CASE WHEN doc_id % 3 = 0 THEN upper(source) || '.Example.COM' ELSE source || '.example.com' END) ||
        |  '/' || lang || '/item-' || CAST(doc_id % 50 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 5 != 0 AND doc_id % 7 = 0 THEN '?ref=home&utm_source=feed'
        |        WHEN doc_id % 5 != 0 AND doc_id % 7 = 1 THEN '?utm_source=feed&utm_campaign=x'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 11 = 0 THEN '#section' ELSE '' END) AS url
        |FROM documents),
        |n AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '#.*', '') AS u2 FROM u),
        |c AS (SELECT doc_id, url,
        |  lower(regexp_extract(u2, '^[^/?]+')) ||
        |  regexp_replace(regexp_replace(regexp_replace(u2, '^[^/?]+', ''), '[?&]utm_[^&#]*', '', 'g'), '/$', '') AS canonical_url
        |FROM n)
        |SELECT canonical_url, MIN(doc_id) AS keeper_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_raw_variants
        |FROM c GROUP BY 1""".stripMargin)),
    // streaming twin on the SAME oracle: a signup in batch 1 must
    // cohort activity arriving in batch 2 from per-user state
    Key("stream_retention", (s, d) => graft.streaming.StreamRetention.streamedRetention(s, d),
      SameAs("events_retention"), twin = true),
    Key("graph_kcore", (s, d) => Dedup.kcore(s, d), Sql(
      s"""WITH RECURSIVE $minhashPairsCtes,
         |e0 AS (SELECT doc_a AS u, doc_b AS v FROM vp UNION SELECT doc_b, doc_a FROM vp),
         |n0 AS (SELECT DISTINCT u AS node FROM e0),
         |k1 AS (SELECT u AS node FROM e0 GROUP BY u HAVING COUNT(*) >= 2),
         |e1 AS (SELECT e0.u, e0.v FROM e0 JOIN k1 a ON e0.u = a.node JOIN k1 b ON e0.v = b.node),
         |k2 AS (SELECT u AS node FROM e1 GROUP BY u HAVING COUNT(*) >= 2),
         |e2 AS (SELECT e1.u, e1.v FROM e1 JOIN k2 a ON e1.u = a.node JOIN k2 b ON e1.v = b.node),
         |k3 AS (SELECT u AS node FROM e2 GROUP BY u HAVING COUNT(*) >= 2),
         |e3 AS (SELECT e2.u, e2.v FROM e2 JOIN k3 a ON e2.u = a.node JOIN k3 b ON e2.v = b.node),
         |fd AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS final_degree FROM e3 GROUP BY u)
         |SELECT n0.node AS doc_id,
         |  CAST((CASE WHEN n0.node IN (SELECT node FROM k1) THEN 1 ELSE 0 END)
         |     + (CASE WHEN n0.node IN (SELECT node FROM k2) THEN 1 ELSE 0 END)
         |     + (CASE WHEN n0.node IN (SELECT node FROM k3) THEN 1 ELSE 0 END) AS BIGINT) AS rounds_survived,
         |  n0.node IN (SELECT node FROM k3) AS in_core,
         |  COALESCE(fd.final_degree, 0) AS final_degree
         |FROM n0 LEFT JOIN fd USING (node)""".stripMargin), eager = Some(Rounds)),
    // corpus-proportional query side (vec_id ≡ 0 mod 10), each query
    // scoring only its OWN inverted list — the k-NN-graph build shape
    Key("ann_knn_graph", (s, d) => Similarity.knnGraph(s, d), Sql(
      s"""WITH nz AS (SELECT * FROM embeddings WHERE ${dot("embedding", "embedding")} > 0),
         |ncents AS (SELECT GREATEST(16, n // 300) AS nc FROM (SELECT COUNT(*) AS n FROM embeddings) t),
         |c AS (SELECT vec_id AS cid, embedding AS cvec FROM nz, ncents WHERE vec_id < nc),
         |scored AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM nz e CROSS JOIN c),
         |assign AS (SELECT cid, vec_id, embedding FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |q AS (SELECT cid, vec_id AS query_id, embedding AS qv FROM assign WHERE vec_id % 10 = 0)
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT q.query_id, a.vec_id AS neighbor_id, ${cos("q.qv", "a.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${cos("q.qv", "a.embedding")} DESC, a.vec_id) AS BIGINT) AS rnk
         |  FROM q JOIN assign a USING (cid)
         |  WHERE a.vec_id != q.query_id) t
         |WHERE rnk <= 5""".stripMargin), eager = Some(Driver)),
    // recall@k of the IVF search vs the brute-force ground truth on
    // the same query set — both top-k elections deterministic, so the
    // metric is exact
    Key("ann_recall", (s, d) => Similarity.annRecall(s, d), Sql(
      s"""WITH bt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id < 10) t
         |WHERE rnk <= 5),
         |ncents AS (SELECT GREATEST(16, n // 250) AS nc FROM (SELECT COUNT(*) AS n FROM embeddings) t),
         |nprobe AS (SELECT GREATEST(4, CAST(CEIL(LOG2(nc)) AS BIGINT)) AS np FROM ncents),
         |c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings, ncents WHERE vec_id < nc),
         |scored AS (SELECT e.vec_id, e.embedding, c.cid, c.cvec, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (SELECT cid, vec_id, embedding FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z,
         |  nprobe WHERE rn <= np),
         |iv AS (SELECT query_id, neighbor_id FROM (
         |  SELECT p.query_id, a.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY ${cos("p.qv", "a.embedding")} DESC, a.vec_id) AS BIGINT) AS rnk
         |  FROM probes p JOIN assign a USING (cid)
         |  WHERE a.vec_id != p.query_id) t
         |WHERE rnk <= 5),
         |r AS (SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN iv.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
         |  FROM bt LEFT JOIN iv USING (query_id, neighbor_id)
         |  GROUP BY bt.query_id)
         |SELECT query_id, n_true, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM r""".stripMargin), eager = Some(Driver)),
    // E. the LSH tier's measured recall (VERDICT r8 #4): recall@3 of
    // the LSH bucketed election vs brute ground truth on the
    // deterministic query sample (vec_id % 50 = 0) — the measured
    // number behind the documented LSH recall trade
    Key("lsh_recall", (s, d) => Similarity.lshRecall(s, d), Sql(
      s"""WITH $sigsCte,
         |bt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id % 50 = 0) t
         |WHERE rnk <= 3),
         |lt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${cos("a.embedding", "b.embedding")} DESC, b.vec_id) AS BIGINT) AS rnk
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id != b.vec_id) t
         |WHERE rnk <= 3 AND query_id % 50 = 0),
         |r AS (SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN lt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
         |  FROM bt LEFT JOIN lt USING (query_id, neighbor_id)
         |  GROUP BY bt.query_id)
         |SELECT query_id, n_true, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM r""".stripMargin)),
    // OR-construction LSH with 1-bit multi-probe: the query side of
    // each of the 4 tables probes its own bucket plus the `planes`
    // 1-flip neighbors; candidates meet in ANY (table, probe);
    // cross-table duplicate pairs collapse before the election
    // (cosine is fold-exact either way)
    Key("ann_lsh_multi", (s, d) => Similarity.lshMultiTopK(s, d), Sql(
      s"""WITH $msigsCte,
         |$mprobesCte
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT query_id, neighbor_id, cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cos("a.embedding", "b.embedding")} AS cosine
         |    FROM mprobes a JOIN msigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id != b.vec_id) c) t
         |WHERE rnk <= 3""".stripMargin), eager = Some(Gate)),
    // recall@3 of the multi-table tier on the same sample + ground
    // truth as lsh_recall — the measured gain of the OR-construction
    Key("lsh_multi_recall", (s, d) => Similarity.lshMultiRecall(s, d), Sql(
      s"""WITH $msigsCte,
         |bt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id % 50 = 0) t
         |WHERE rnk <= 3),
         |$mprobesCte,
         |mlt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rnk
         |  FROM (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cos("a.embedding", "b.embedding")} AS cosine
         |    FROM mprobes a JOIN msigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id != b.vec_id) c) t
         |WHERE rnk <= 3 AND query_id % 50 = 0),
         |r AS (SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN mlt.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
         |  FROM bt LEFT JOIN mlt USING (query_id, neighbor_id)
         |  GROUP BY bt.query_id)
         |SELECT query_id, n_true, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM r""".stripMargin), eager = Some(Gate)),
    // pair-recall of the bucketed embedding near-dup tier vs the
    // exact all-pairs >= 0.35 ground truth (one audit row)
    Key("dedup_embed_recall", (s, d) => Similarity.embedPairRecall(s, d), Sql(
      s"""WITH $sigsCte,
         |bt AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |  WHERE ${cos("a.embedding", "b.embedding")} >= 0.35),
         |g AS (SELECT vec_a, vec_b FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cos("a.embedding", "b.embedding")} AS cosine
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id) t
         |  WHERE cosine >= 0.35)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
         |  CAST(COALESCE(SUM(CASE WHEN g.vec_a IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_found_pairs,
         |  COALESCE(CAST(SUM(CASE WHEN g.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 1.0) AS recall
         |FROM bt LEFT JOIN g USING (vec_a, vec_b)""".stripMargin)),
    // E. IVF list-balance audit: per-list load over the same
    // assignment CTE, exact-micro fit mass (floor(cos*1e6) longs —
    // double sums are order-dependent)
    Key("ann_index_stats", (s, d) => Similarity.annIndexStats(s, d), Sql(
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         |scored AS (SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (SELECT cid, CAST(FLOOR(ccos * 1000000.0) AS BIGINT) AS cm FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |    CAST(SUM(cm) AS BIGINT) AS sum_cos_micro,
         |    MIN(cm) AS min_cos_micro, MAX(cm) AS max_cos_micro
         |  FROM assign GROUP BY 1)
         |SELECT cid, n_vectors, sum_cos_micro, min_cos_micro, max_cos_micro,
         |  CAST(SUM(n_vectors) OVER () AS BIGINT) AS n_total,
         |  CAST(n_vectors AS DOUBLE) /
         |    CAST(CAST(SUM(n_vectors) OVER () AS BIGINT) AS DOUBLE) AS load_share,
         |  n_vectors * 16 > CAST(SUM(n_vectors) OVER () AS BIGINT) * 2 AS hot
         |FROM cells""".stripMargin)),
    // E. streaming twin: scan-local broadcast-codebook assignment,
    // the batch O(K) list census as a complete-mode streaming
    // aggregation
    Key("stream_ann_ingest", (s, d) => graft.streaming.StreamAnnIngest.streamedAnnIngest(s, d),
      SameAs("ann_index_stats"), twin = true),
    // recall@k of brute search on 16-dim-truncated vectors vs the
    // full-dim ground truth — the serve-at-lower-dims question
    Key("embed_truncate_eval", (s, d) => Similarity.truncateEval(s, d), Sql(
      s"""WITH bt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id < 10) t
         |WHERE rnk <= 5),
         |te AS (SELECT vec_id, list_slice(embedding, 1, 16) AS tv FROM embeddings),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cosN("q.tv", "e.tv", 16)} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM te q JOIN te e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id < 10) t
         |WHERE rnk <= 5),
         |r AS (SELECT bt.query_id, CAST(COUNT(*) AS BIGINT) AS n_true,
         |    CAST(SUM(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
         |  FROM bt LEFT JOIN tr USING (query_id, neighbor_id)
         |  GROUP BY bt.query_id)
         |SELECT query_id, n_true, n_found,
         |  CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE) AS recall
         |FROM r""".stripMargin)),
    Key("dedup_report", (s, d) => Dedup.dedupReport(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes,
         |lab AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars
         |  FROM cc JOIN documents d USING (doc_id)),
         |pc AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size,
         |    CAST(SUM(n_chars) AS BIGINT) AS chars_total,
         |    CAST(SUM(CASE WHEN doc_id <> cluster_id THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped
         |  FROM lab GROUP BY cluster_id)
         |SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
         |  CAST(SUM(cluster_size - 1) AS BIGINT) AS n_losers,
         |  CAST(SUM(chars_total) AS BIGINT) AS chars_total,
         |  CAST(SUM(chars_dropped) AS BIGINT) AS chars_dropped
         |FROM pc GROUP BY cluster_size""".stripMargin), eager = Some(Rounds)),
    Key("dedup_minhash_est", (s, d) => Dedup.minhashEstimate(s, d), Sql(
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
         |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
         |  THEN list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
         |  ELSE [array_to_string(t, ' ')] END) AS shingles FROM toks),
         |hs AS (SELECT doc_id, list_transform(shingles, s -> ${ph("s")}) AS hh FROM sh),
         |mh AS (SELECT doc_id, list_transform(range(0,16), j ->
         |  list_min(list_transform(hh, h -> (CAST(37 + 101*j AS BIGINT)*h + CAST(1000003*j + 12345 AS BIGINT)) % 2147483647))) AS m FROM hs),
         |mhallbands AS (SELECT doc_id, m, b, list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(m, 4*b+1, 4*b+4)), (h,x) -> (h*31+x) % 1000000007) AS bkey
         |  FROM mh, UNNEST(range(0,4)) AS tb(b)),
         |mhrare AS (SELECT b, bkey FROM mhallbands GROUP BY b, bkey HAVING COUNT(*) <= 200),
         |bands AS (SELECT mhallbands.* FROM mhallbands JOIN mhrare USING (b, bkey))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_filter(range(1,17), i -> a.m[i] = b.m[i])) AS DOUBLE) / 16.0 AS est_jaccard
         |FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin)),
    Key("dedup_simhash", (s, d) => Dedup.simhash(s, d), Sql(
      s"""WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
         |th AS (SELECT doc_id, list_transform(t, tok ->
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(tok,''), c -> CAST(ascii(c) AS BIGINT))), (h,c) -> (h*31+c) % 2147483647)
         |  + list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(tok,''), c -> CAST(ascii(c) AS BIGINT))), (h,c) -> (h*37+c) % 2147483647) * 2147483648) AS hs FROM toks),
         |sh AS (SELECT doc_id, CASE WHEN hs IS NULL THEN NULL ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
         |  list_transform(range(0,62), i -> CASE WHEN 2*len(list_filter(hs, h -> (h & (CAST(1 AS BIGINT) << i)) != 0)) - len(hs) > 0
         |    THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)), (a,x) -> a+x) END AS simhash FROM th),
         |allbands AS (SELECT doc_id, simhash, b, ((simhash >> (16*b)) & 65535) AS bkey FROM sh, UNNEST(range(0,4)) AS tb(b)),
         |rare AS (SELECT b, bkey FROM allbands GROUP BY b, bkey HAVING COUNT(*) <= 200),
         |bands AS (SELECT allbands.* FROM allbands JOIN rare USING (b, bkey))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 12""".stripMargin)),
    Key("dedup_ngram", (s, d) => Dedup.ngram(s, d), Sql(
      """WITH grams AS (SELECT doc_id, lower(text) AS lw, list_distinct(CASE WHEN length(lower(text)) >= 4
        |  THEN list_transform(range(1, length(lower(text))-2), i -> substr(lower(text), i, 4))
        |  ELSE [lower(text)] END) AS gs FROM documents),
        |sizes AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS ng FROM grams),
        |idx AS (SELECT gram, list(doc_id) AS docs FROM (SELECT doc_id, lw, unnest(gs) AS gram FROM grams) u GROUP BY gram HAVING COUNT(DISTINCT lw) <= 50),
        |pairs AS (SELECT p.a AS doc_a, p.b AS doc_b, COUNT(*) AS shared FROM (
        |  SELECT unnest(list_filter(flatten(list_transform(docs, a -> list_transform(docs, b -> {'a': a, 'b': b}))), p -> p.a < p.b)) AS p FROM idx) z
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / CAST(sa.ng + sb.ng - shared AS DOUBLE) AS jaccard
        |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin), eager = Some(Shared)),
    Key("dedup_embed", Dedup.embed _, Sql(
      s"""WITH $sigsCte
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ${cos("a.embedding", "b.embedding")} AS cosine
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id) t
         |WHERE cosine >= 0.35""".stripMargin)),
    Key("dedup_containment", (s, d) => Dedup.containment(s, d), Sql(
      """WITH grams AS (SELECT doc_id, lower(text) AS lw, list_distinct(CASE WHEN length(lower(text)) >= 4
        |  THEN list_transform(range(1, length(lower(text))-2), i -> substr(lower(text), i, 4))
        |  ELSE [lower(text)] END) AS gs FROM documents),
        |sizes AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS ng FROM grams),
        |idx AS (SELECT gram, list(doc_id) AS docs FROM (SELECT doc_id, lw, unnest(gs) AS gram FROM grams) u GROUP BY gram HAVING COUNT(DISTINCT lw) <= 50),
        |pairs AS (SELECT p.a AS doc_a, p.b AS doc_b, COUNT(*) AS shared FROM (
        |  SELECT unnest(list_filter(flatten(list_transform(docs, a -> list_transform(docs, b -> {'a': a, 'b': b}))), p -> p.a < p.b)) AS p FROM idx) z
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / CAST(LEAST(sa.ng, sb.ng) AS DOUBLE) AS containment
        |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |ORDER BY containment DESC, doc_a, doc_b LIMIT 20""".stripMargin), eager = Some(Shared)),
    Key("dedup_substring", (s, d) => Dedup.substringDup(s, d), Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |pos AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 8
        |    THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
        |    ELSE [array_to_string(t, ' ')] END) AS gram FROM toks),
        |dup AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
        |cnt AS (SELECT doc_id, COUNT(*) AS dup_pos FROM pos JOIN dup USING (gram) GROUP BY doc_id),
        |tot AS (SELECT doc_id, CAST(GREATEST(len(t) - 7, 1) AS BIGINT) AS n_positions FROM toks)
        |SELECT tot.doc_id, tot.n_positions,
        |  COALESCE(cnt.dup_pos, 0) AS n_dup_positions,
        |  CAST(COALESCE(cnt.dup_pos, 0) AS DOUBLE) / CAST(tot.n_positions AS DOUBLE) AS dup_frac
        |FROM tot LEFT JOIN cnt USING (doc_id)""".stripMargin)),
    Key("dedup_fuzzy", (s, d) => Dedup.fuzzy(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |docs AS (SELECT doc_id, substr(text, 1, 512) AS head,
         |    LEAST(n_chars, 512) AS hlen
         |  FROM documents)
         |SELECT p.doc_a AS doc_id1, p.doc_b AS doc_id2,
         |  CAST(levenshtein(da.head, db.head) AS BIGINT) AS edit_distance,
         |  da.hlen AS len1, db.hlen AS len2,
         |  CAST(1.0 AS DOUBLE) - CAST(levenshtein(da.head, db.head) AS DOUBLE) /
         |    CAST(GREATEST(da.hlen, db.hlen) AS DOUBLE) AS similarity
         |FROM pairs p JOIN docs da ON da.doc_id = p.doc_a
         |  JOIN docs db ON db.doc_id = p.doc_b
         |WHERE levenshtein(da.head, db.head) <=
         |  CAST(0.25 AS DOUBLE) * CAST(GREATEST(da.hlen, db.hlen) AS DOUBLE)""".stripMargin)),
    Key("graph_pagerank", (s, d) => Dedup.pagerank(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM vp UNION SELECT doc_b, doc_a FROM vp),
         |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
         |nodes AS (SELECT DISTINCT u AS node FROM e),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM nodes),
         |r0 AS (SELECT node, CAST(1000000 AS BIGINT) // cnt AS r FROM nodes CROSS JOIN n),
         |c1 AS (SELECT e.v AS node, CAST(SUM(r0.r // deg.d) AS BIGINT) AS s
         |  FROM e JOIN r0 ON r0.node = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
         |r1 AS (SELECT nodes.node,
         |    (CAST(15000000 AS BIGINT) // (100 * cnt)) + ((85 * COALESCE(c1.s, 0)) // 100) AS r
         |  FROM nodes CROSS JOIN n LEFT JOIN c1 ON c1.node = nodes.node),
         |c2 AS (SELECT e.v AS node, CAST(SUM(r1.r // deg.d) AS BIGINT) AS s
         |  FROM e JOIN r1 ON r1.node = e.u JOIN deg ON deg.u = e.u GROUP BY e.v),
         |r2 AS (SELECT nodes.node,
         |    (CAST(15000000 AS BIGINT) // (100 * cnt)) + ((85 * COALESCE(c2.s, 0)) // 100) AS r
         |  FROM nodes CROSS JOIN n LEFT JOIN c2 ON c2.node = nodes.node)
         |SELECT r2.node AS doc_id, CAST(r2.r AS BIGINT) AS pr_micro, deg.d AS degree
         |FROM r2 JOIN deg ON deg.u = r2.node""".stripMargin), eager = Some(Rounds)),
    Key("graph_triangles", (s, d) => Dedup.triangles(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |und AS (SELECT doc_a AS u, doc_b AS v FROM vp),
         |deg AS (SELECT node, COUNT(*) AS d FROM (
         |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) z GROUP BY node),
         |o AS (SELECT
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.u < und.v) THEN und.u ELSE und.v END AS src,
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.u < und.v) THEN und.v ELSE und.u END AS dst,
         |    CASE WHEN da.d < db.d OR (da.d = db.d AND und.u < und.v) THEN db.d ELSE da.d END AS dd
         |  FROM und JOIN deg da ON da.node = und.u JOIN deg db ON db.node = und.v),
         |w AS (SELECT o1.src AS a, o1.dst AS b, o2.dst AS c FROM o o1 JOIN o o2
         |  ON o1.src = o2.src AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))),
         |t AS (SELECT a, b, c FROM w SEMI JOIN o ON o.src = w.b AND o.dst = w.c)
         |SELECT node AS doc_id, COUNT(*) AS n_triangles FROM (
         |  SELECT a AS node FROM t UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t) z
         |GROUP BY node""".stripMargin), eager = Some(Gate)),
    Key("graph_degrees", (s, d) => Dedup.degreeDist(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |und AS (SELECT doc_a AS u, doc_b AS v FROM vp),
         |deg AS (SELECT node, COUNT(*) AS d FROM (
         |  SELECT u AS node FROM und UNION ALL SELECT v FROM und) z GROUP BY node)
         |SELECT d AS degree, COUNT(*) AS n_nodes FROM deg GROUP BY d""".stripMargin), eager = Some(Shared)),
    Key("graph_cneighbors", (s, d) => Dedup.commonNeighbors(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM vp UNION ALL SELECT doc_b, doc_a FROM vp),
         |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
         |w AS (SELECT e1.v AS doc_a, e2.v AS doc_b
         |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v),
         |cn AS (SELECT w.doc_a, w.doc_b, COUNT(*) AS n_common
         |  FROM w SEMI JOIN vp ON vp.doc_a = w.doc_a AND vp.doc_b = w.doc_b
         |  GROUP BY w.doc_a, w.doc_b)
         |SELECT vp.doc_a, vp.doc_b, COALESCE(cn.n_common, 0) AS n_common,
         |  da.d AS deg_a, db.d AS deg_b,
         |  CASE WHEN da.d + db.d - 2 - COALESCE(cn.n_common, 0) > 0
         |    THEN CAST(COALESCE(cn.n_common, 0) AS DOUBLE) /
         |         CAST(da.d + db.d - 2 - COALESCE(cn.n_common, 0) AS DOUBLE) END AS nbr_jaccard
         |FROM vp
         |LEFT JOIN cn ON cn.doc_a = vp.doc_a AND cn.doc_b = vp.doc_b
         |JOIN deg da ON da.u = vp.doc_a
         |JOIN deg db ON db.u = vp.doc_b""".stripMargin), eager = Some(Shared)),
    Key("graph_reach", (s, d) => Dedup.reach(s, d), Sql(
      s"""WITH $minhashPairsCtes,
         |e AS (SELECT doc_a AS u, doc_b AS v FROM vp UNION ALL SELECT doc_b, doc_a FROM vp),
         |s0 AS (SELECT DISTINCT u AS node FROM e WHERE u % 10 = 0),
         |f1 AS (SELECT DISTINCT e.v AS node FROM e JOIN s0 ON e.u = s0.node),
         |f2 AS (SELECT DISTINCT e.v AS node FROM e JOIN f1 ON e.u = f1.node),
         |f3 AS (SELECT DISTINCT e.v AS node FROM e JOIN f2 ON e.u = f2.node)
         |SELECT node AS doc_id, MIN(hops) AS hops FROM (
         |  SELECT node, CAST(0 AS BIGINT) AS hops FROM s0
         |  UNION ALL SELECT node, 1 FROM f1
         |  UNION ALL SELECT node, 2 FROM f2
         |  UNION ALL SELECT node, 3 FROM f3) lv
         |GROUP BY node""".stripMargin), eager = Some(Shared)),
    // component partition ⇒ every edge internal ⇒ Q = 1 − Σ(D_c/2m)²;
    // integer counts + one double division with the same shape
    Key("graph_modularity", (s, d) => Dedup.modularity(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes,
         |deg AS (SELECT u AS node, COUNT(*) AS d FROM e GROUP BY u),
         |mm AS (SELECT COUNT(*) AS m FROM vp),
         |comp AS (SELECT cc.cluster_id, COUNT(*) AS n_nodes,
         |    CAST(SUM(deg.d) AS BIGINT) AS deg_sum
         |  FROM cc JOIN deg ON deg.node = cc.doc_id GROUP BY 1)
         |SELECT cluster_id, n_nodes, deg_sum, deg_sum // 2 AS n_edges,
         |  deg_sum * deg_sum AS dsq,
         |  CAST(deg_sum * deg_sum AS DOUBLE) / CAST(4 * mm.m * mm.m AS DOUBLE) AS share
         |FROM comp CROSS JOIN mm""".stripMargin), eager = Some(Rounds)),
    // E. similarity search
    Key("ann_brute", (s, d) => Similarity.bruteTopK(s, d), Sql(
      s"""SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, ${cos("q.embedding", "e.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS BIGINT) AS rnk
         |  FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |  WHERE q.vec_id < 10) t
         |WHERE rnk <= 5""".stripMargin)),
    Key("embed_knn_eval", (s, d) => Similarity.knnEval(s, d), Sql(
      s"""WITH nn AS (
         |  SELECT query_id, true_label, n_label FROM (
         |    SELECT q.vec_id AS query_id, q.label AS true_label, e.label AS n_label,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, e.vec_id) AS rnk
         |    FROM embeddings q JOIN embeddings e ON e.vec_id != q.vec_id
         |    WHERE q.vec_id < 50) t WHERE rnk <= 5),
         |v AS (SELECT query_id, true_label, n_label, COUNT(*) AS n_votes
         |  FROM nn GROUP BY 1, 2, 3)
         |SELECT query_id, true_label, n_label AS pred_label,
         |  CAST(n_votes AS BIGINT) AS n_votes, n_label = true_label AS correct
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY n_votes DESC, n_label) AS rn FROM v) z
         |WHERE rn = 1""".stripMargin)),
    Key("ann_lsh", (s, d) => Similarity.lshTopK(s, d), Sql(
      s"""WITH $sigsCte
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, ${cos("a.embedding", "b.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY ${cos("a.embedding", "b.embedding")} DESC, b.vec_id) AS BIGINT) AS rnk
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id != b.vec_id) t
         |WHERE rnk <= 3""".stripMargin)),
    // adaptive codebook/probe width mirrors Similarity.ivfTopK:
    // nc = GREATEST(16, N // 250), np = GREATEST(4, ceil(log2 nc))
    // — every test SF stays at 16/4
    Key("ann_ivf", (s, d) => Similarity.ivfTopK(s, d), Sql(
      s"""WITH ncents AS (SELECT GREATEST(16, n // 250) AS nc FROM (SELECT COUNT(*) AS n FROM embeddings) t),
         |nprobe AS (SELECT GREATEST(4, CAST(CEIL(LOG2(nc)) AS BIGINT)) AS np FROM ncents),
         |c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings, ncents WHERE vec_id < nc),
         |scored AS (SELECT e.vec_id, e.embedding, c.cid, c.cvec, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (SELECT cid, vec_id, embedding FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z,
         |  nprobe WHERE rn <= np)
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cos("p.qv", "a.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY ${cos("p.qv", "a.embedding")} DESC, a.vec_id) AS BIGINT) AS rnk
         |  FROM probes p JOIN assign a USING (cid)
         |  WHERE a.vec_id != p.query_id) t
         |WHERE rnk <= 5""".stripMargin), eager = Some(Driver)),
    Key("ann_pq", (s, d) => Similarity.pqTopK(s, d), Sql(
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         |ep AS (SELECT e.vec_id, c.cid,
         |    ${pqSd(pqSub("e.embedding", 0), pqSub("c.cvec", 0))} AS d0,
         |    ${pqSd(pqSub("e.embedding", 1), pqSub("c.cvec", 1))} AS d1,
         |    ${pqSd(pqSub("e.embedding", 2), pqSub("c.cvec", 2))} AS d2,
         |    ${pqSd(pqSub("e.embedding", 3), pqSub("c.cvec", 3))} AS d3
         |  FROM embeddings e CROSS JOIN c),
         |codes AS (SELECT vec_id,
         |    struct_extract(min({'d': d0, 'c': cid}), 'c') AS c0,
         |    struct_extract(min({'d': d1, 'c': cid}), 'c') AS c1,
         |    struct_extract(min({'d': d2, 'c': cid}), 'c') AS c2,
         |    struct_extract(min({'d': d3, 'c': cid}), 'c') AS c3
         |  FROM ep GROUP BY vec_id),
         |lp AS (SELECT e.vec_id AS query_id, c.cid,
         |    ${pqSd(pqSub("e.embedding", 0), pqSub("c.cvec", 0))} AS q0,
         |    ${pqSd(pqSub("e.embedding", 1), pqSub("c.cvec", 1))} AS q1,
         |    ${pqSd(pqSub("e.embedding", 2), pqSub("c.cvec", 2))} AS q2,
         |    ${pqSd(pqSub("e.embedding", 3), pqSub("c.cvec", 3))} AS q3
         |  FROM embeddings e CROSS JOIN c WHERE e.vec_id < 10),
         |luta AS (SELECT query_id,
         |    list(q0 ORDER BY cid) AS a0, list(q1 ORDER BY cid) AS a1,
         |    list(q2 ORDER BY cid) AS a2, list(q3 ORDER BY cid) AS a3
         |  FROM lp GROUP BY query_id),
         |scored AS (SELECT l.query_id, x.vec_id AS neighbor_id,
         |    a0[CAST(c0+1 AS INT)] + a1[CAST(c1+1 AS INT)] + a2[CAST(c2+1 AS INT)] + a3[CAST(c3+1 AS INT)] AS approx_dist
         |  FROM codes x CROSS JOIN luta l WHERE x.vec_id != l.query_id)
         |SELECT query_id, neighbor_id, approx_dist, rnk FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS BIGINT) AS rnk
         |  FROM scored) t
         |WHERE rnk <= 5""".stripMargin)),
    // IVF probes (from ann_ivf) restrict which inverted lists each
    // query scores; ADC scoring (from ann_pq) prices each candidate
    Key("ann_ivfpq", (s, d) => Similarity.ivfpqTopK(s, d), Sql(
      s"""WITH ${ivfpqCtes(5)}
         |SELECT query_id, neighbor_id, approx_dist, rnk FROM ipq""".stripMargin)),
    Key("ann_ivfopq", (s, d) => Similarity.ivfopqTopK(s, d), Sql(
      s"""WITH ${ivfopqCtes(5)}
         |SELECT query_id, neighbor_id, approx_dist, rnk FROM ipq""".stripMargin), eager = Some(Driver)),
    // ann_ivf's CTE chain with the label predicate PRE-filtering the
    // index side of the probe join (hybrid-search / hard-negative
    // semantics: neighbors must carry a DIFFERENT label)
    Key("ann_filtered", (s, d) => Similarity.filteredTopK(s, d), Sql(
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         |scored AS (SELECT e.vec_id, e.embedding, e.label, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (SELECT cid, vec_id, embedding, label FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z
         |  WHERE rn <= 4)
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT p.query_id, a.vec_id AS neighbor_id, ${cos("p.qv", "a.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY ${cos("p.qv", "a.embedding")} DESC, a.vec_id) AS BIGINT) AS rnk
         |  FROM probes p JOIN assign a USING (cid)
         |  WHERE a.vec_id != p.query_id AND a.label != p.qlabel) t
         |WHERE rnk <= 5""".stripMargin)),
    // ann_ivf's probe structure with the rank replaced by a
    // scan-local similarity floor (result size is data-dependent)
    Key("ann_range", (s, d) => Similarity.rangeSearch(s, d), Sql(
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
         |scored AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
         |  FROM embeddings e CROSS JOIN c),
         |assign AS (SELECT cid, vec_id, embedding FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
         |  WHERE rn = 1),
         |probes AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z
         |  WHERE rn <= 4)
         |SELECT p.query_id, a.vec_id AS neighbor_id, ${cos("p.qv", "a.embedding")} AS cosine
         |FROM probes p JOIN assign a USING (cid)
         |WHERE a.vec_id != p.query_id AND ${cos("p.qv", "a.embedding")} >= 0.2""".stripMargin)),
    Key("embed_kmeans", (s, d) => Similarity.kmeans(s, d), Sql(
      s"""WITH $kmeansAssignCtes
         |SELECT vec_id, c1, cluster, (c1 <> cluster) AS moved FROM ka""".stripMargin), eager = Some(Rounds)),
    Key("dedup_semdedup", (s, d) => Similarity.semdedup(s, d), Sql(
      s"""WITH $kmeansAssignCtes,
         |e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM ka a JOIN ka b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id
         |  JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.35),
         |nb AS (SELECT vec_id, COUNT(*) AS n FROM (
         |  SELECT va AS vec_id FROM p UNION ALL SELECT vb FROM p) u GROUP BY vec_id)
         |SELECT k.vec_id, k.cluster,
         |  CAST(COALESCE(nb.n, 0) AS BIGINT) AS n_dup_neighbors,
         |  k.vec_id NOT IN (SELECT vb FROM p) AS keep
         |FROM ka k LEFT JOIN nb ON nb.vec_id = k.vec_id""".stripMargin), eager = Some(Rounds)),
    // ADC top-10 candidates fetch raw vectors and re-rank by EXACT
    // cosine — quantization error affects recall, never the scores
    Key("ann_refine", (s, d) => Similarity.refineTopK(s, d), Sql(
      s"""WITH ${ivfpqCtes(10)}
         |SELECT query_id, neighbor_id, cosine, rnk FROM (
         |  SELECT i.query_id, i.neighbor_id, ${cos("q.embedding", "e.embedding")} AS cosine,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY i.query_id ORDER BY ${cos("q.embedding", "e.embedding")} DESC, i.neighbor_id) AS BIGINT) AS rnk
         |  FROM ipq i JOIN embeddings q ON q.vec_id = i.query_id
         |  JOIN embeddings e ON e.vec_id = i.neighbor_id) t
         |WHERE rnk <= 5""".stripMargin)),
    // norm-squared sums export as floor(v*1e6) integers: a raw double
    // sum would be aggregation-order-dependent
    Key("embed_profile", Similarity.embedProfile _, Sql(
      s"""WITH p AS (SELECT label, ${dot("embedding", "embedding")} AS n2,
         |    len(embedding) AS dim,
         |    len(list_filter(embedding, x -> x = 0)) AS zeros
         |  FROM embeddings)
         |SELECT label, COUNT(*) AS n_vecs,
         |  CAST(MIN(dim) AS BIGINT) AS dim_min, CAST(MAX(dim) AS BIGINT) AS dim_max,
         |  MIN(n2) AS norm2_min, MAX(n2) AS norm2_max,
         |  CAST(SUM(CAST(FLOOR(n2 * 1000000.0) AS BIGINT)) AS BIGINT) AS norm2_micro_sum,
         |  CAST(SUM(zeros) AS BIGINT) AS n_zero_dims
         |FROM p GROUP BY label""".stripMargin)),
    // floor(v + 0.5) spelled out on both sides — round() is
    // half-to-even vs half-away across engines; scale and the q_*
    // checksums replay the identical IEEE expression order
    Key("embed_quantize", Similarity.quantize _, Sql(
      """WITH m AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id, ma,
        |    list_transform(embedding, x -> CASE WHEN ma > 0
        |      THEN CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END) AS qs
        |  FROM m)
        |SELECT vec_id, ma / 127.0 AS scale,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qs), (a,b) -> a+b) AS BIGINT) AS q_sum,
        |  list_min(qs) AS q_min, list_max(qs) AS q_max
        |FROM q""".stripMargin)),
    Key("embed_gram", Similarity.gram _, Sql(
      """WITH m AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id, CASE WHEN ma > 0
        |    THEN list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qs
        |  FROM m)
        |SELECT i, j, COUNT(*) AS n_vecs,
        |  CAST(SUM(qs[i + 1] * qs[j + 1]) AS BIGINT) AS gram_q
        |FROM q, range(0, 64) t1(i), range(0, 64) t2(j)
        |WHERE j >= i
        |GROUP BY i, j""".stripMargin)),
    Key("embed_pca", (s, d) => Similarity.pca(s, d), Sql(
      """WITH m AS (SELECT vec_id, label, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id, label, CASE WHEN ma > 0
        |    THEN list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qs
        |  FROM m),
        |g AS (SELECT i, j, CAST(SUM(qs[i + 1] * qs[j + 1]) AS BIGINT) AS g
        |  FROM q, range(0, 64) t1(i), range(0, 64) t2(j) GROUP BY i, j),
        |v1 AS (SELECT i, CAST(SUM(g) AS BIGINT) AS v FROM g GROUP BY i),
        |v2 AS (SELECT g.i AS i, SUM(CAST(g.g AS HUGEINT) * v1.v) AS v
        |  FROM g JOIN v1 ON v1.i = g.j GROUP BY g.i)
        |SELECT q.vec_id, q.label,
        |  CAST(SUM(CAST(qs[v2.i + 1] AS HUGEINT) * v2.v) AS DOUBLE) AS pc1
        |FROM q, v2 GROUP BY q.vec_id, q.label""".stripMargin), eager = Some(Driver)),
    // integer-exact centroid drift: same int8 quantize rule as pca,
    // per-(batch, dim) BIGINT sums, one final double division + sqrt
    Key("embed_drift", (s, d) => Similarity.drift(s, d), Sql(
      """WITH m AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id // 100 AS batch, CASE WHEN ma > 0
        |    THEN list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qs
        |  FROM m),
        |s AS (SELECT batch, i, CAST(SUM(qs[i + 1]) AS BIGINT) AS s
        |  FROM q, range(0, 64) t(i) GROUP BY 1, 2),
        |n AS (SELECT batch, COUNT(*) AS n FROM q GROUP BY 1),
        |p AS (SELECT a.batch AS batch_a, b.batch AS batch_b,
        |    CAST(SUM(a.s * b.s) AS BIGINT) AS dot,
        |    CAST(SUM(a.s * a.s) AS BIGINT) AS norm_a,
        |    CAST(SUM(b.s * b.s) AS BIGINT) AS norm_b
        |  FROM s a JOIN s b ON b.batch = a.batch + 1 AND b.i = a.i GROUP BY 1, 2)
        |SELECT p.batch_a, p.batch_b, na.n AS n_a, nb.n AS n_b,
        |  p.dot, p.norm_a, p.norm_b,
        |  CASE WHEN p.norm_a > 0 AND p.norm_b > 0
        |    THEN CAST(p.dot AS DOUBLE) / SQRT(CAST(p.norm_a AS DOUBLE) * CAST(p.norm_b AS DOUBLE))
        |    ELSE 0.0 END AS cosine
        |FROM p JOIN n na ON na.batch = p.batch_a
        |       JOIN n nb ON nb.batch = p.batch_b""".stripMargin), eager = Some(Shared)),
    // rational-free outlier gate: dist^2 > 4x mean dist^2 cross-
    // multiplied to integers (n2d2*n > 4*sum) — no division to round
    Key("embed_outliers", (s, d) => Similarity.outliers(s, d), Sql(
      """WITH m AS (SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
        |  FROM embeddings),
        |q AS (SELECT vec_id, vec_id // 100 AS batch, CASE WHEN ma > 0
        |    THEN list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / ma + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qs
        |  FROM m),
        |s AS (SELECT batch, i, CAST(SUM(qs[i + 1]) AS BIGINT) AS s
        |  FROM q, range(0, 64) t(i) GROUP BY 1, 2),
        |sa AS (SELECT batch, list(s ORDER BY i) AS sarr FROM s GROUP BY 1),
        |n AS (SELECT batch, COUNT(*) AS n FROM q GROUP BY 1),
        |v AS (SELECT j.vec_id, j.batch,
        |    CAST(SUM((j.n * j.qs[i + 1] - j.sarr[i + 1]) * (j.n * j.qs[i + 1] - j.sarr[i + 1])) AS BIGINT) AS n2d2
        |  FROM (SELECT q.vec_id, q.batch, q.qs, n.n, sa.sarr
        |    FROM q JOIN n ON n.batch = q.batch JOIN sa ON sa.batch = q.batch) j,
        |    range(0, 64) t(i)
        |  GROUP BY 1, 2),
        |b AS (SELECT batch, CAST(SUM(n2d2) AS BIGINT) AS sum_n2d2, COUNT(*) AS nb
        |  FROM v GROUP BY 1)
        |SELECT v.vec_id, v.batch, v.n2d2,
        |  v.n2d2 * b.nb > b.sum_n2d2 * 4 AS is_outlier
        |FROM v JOIN b ON b.batch = v.batch""".stripMargin)),
    Key("ann_pq_trained", (s, d) => Similarity.pqTrain(s, d), Sql(
      s"""WITH q AS (
         |  SELECT vec_id, sub,
         |    list_transform(range(1 + 16*sub, 17 + 16*sub),
         |      i -> CAST(round(CAST(embedding[i] AS DOUBLE)*1000000) AS BIGINT)) AS qv
         |  FROM embeddings, (SELECT unnest(range(4)) AS sub) ss),
         |qd AS (SELECT vec_id, sub, qv,
         |    list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv FROM q),
         |seeds AS (SELECT sub, vec_id AS cid,
         |    list_transform(qv, v -> CAST(v AS DOUBLE)) AS cvec
         |  FROM q WHERE vec_id < 16),
         |d1 AS (SELECT a.vec_id, a.sub, a.qv, s.cid, ${kmDistN("a.dv", "s.cvec", 16)} AS d
         |  FROM qd a JOIN seeds s ON s.sub = a.sub),
         |a1 AS (SELECT vec_id, sub, qv, cid AS c1 FROM (
         |  SELECT vec_id, sub, qv, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM d1) x
         |  WHERE rn = 1),
         |m2 AS (SELECT sub, c1 AS cid, pos,
         |    CAST(SUM(v) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean
         |  FROM (SELECT sub, c1, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1) e
         |  GROUP BY sub, cid, pos),
         |c2 AS (SELECT sub, cid, list(mean ORDER BY pos) AS cvec FROM m2 GROUP BY sub, cid),
         |d2 AS (SELECT a.vec_id, a.sub, a.c1, c.cid, ${kmDistN("a.dv2", "c.cvec", 16)} AS d
         |  FROM (SELECT vec_id, sub, c1,
         |      list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv2 FROM a1) a
         |  JOIN c2 c ON c.sub = a.sub),
         |ka AS (SELECT vec_id, sub, c1, cid AS code FROM (
         |  SELECT vec_id, sub, c1, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM d2) y
         |  WHERE rn = 1)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, c1, code, (c1 <> code) AS moved
         |FROM ka""".stripMargin), eager = Some(Rounds)),
    // OPQ: variance-balanced dimension permutation (serpentine deal
    // of dims ranked by integer variance numerator), then the same
    // Lloyd CTEs as ann_pq_trained over the permuted subspaces
    Key("ann_opq", (s, d) => Similarity.opqTrain(s, d), Sql(
      s"""WITH qz AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv64 FROM embeddings),
         |dvs AS (SELECT i, COUNT(*) AS n, SUM(CAST(qv64[i+1] AS HUGEINT)) AS s,
         |    SUM(CAST(qv64[i+1] AS HUGEINT) * qv64[i+1]) AS ss
         |  FROM qz, range(0,64) t(i) GROUP BY i),
         |rk AS (SELECT i, ROW_NUMBER() OVER (ORDER BY (n*ss - s*s) DESC, i) - 1 AS r FROM dvs),
         |pm AS (SELECT i, r // 4 AS pos,
         |    CASE WHEN (r // 4) % 2 = 0 THEN r % 4 ELSE 3 - (r % 4) END AS sub FROM rk),
         |q AS (SELECT vec_id, sub, list(qv64[i+1] ORDER BY pos) AS qv
         |  FROM qz, pm GROUP BY vec_id, sub),
         |qd AS (SELECT vec_id, sub, qv, list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv FROM q),
         |seeds AS (SELECT sub, vec_id AS cid, list_transform(qv, v -> CAST(v AS DOUBLE)) AS cvec FROM q WHERE vec_id < 16),
         |d1 AS (SELECT a.vec_id, a.sub, a.qv, s.cid, ${kmDistN("a.dv", "s.cvec", 16)} AS d
         |  FROM qd a JOIN seeds s ON s.sub = a.sub),
         |a1 AS (SELECT vec_id, sub, qv, cid AS c1 FROM (
         |  SELECT vec_id, sub, qv, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM d1) x
         |  WHERE rn = 1),
         |m2 AS (SELECT sub, c1 AS cid, pos,
         |    CAST(SUM(v) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean
         |  FROM (SELECT sub, c1, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1) e
         |  GROUP BY sub, cid, pos),
         |c2 AS (SELECT sub, cid, list(mean ORDER BY pos) AS cvec FROM m2 GROUP BY sub, cid),
         |d2 AS (SELECT a.vec_id, a.sub, a.c1, c.cid, ${kmDistN("a.dv2", "c.cvec", 16)} AS d
         |  FROM (SELECT vec_id, sub, c1,
         |      list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv2 FROM a1) a
         |  JOIN c2 c ON c.sub = a.sub),
         |ka AS (SELECT vec_id, sub, c1, cid AS code FROM (
         |  SELECT vec_id, sub, c1, cid,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) AS rn FROM d2) y
         |  WHERE rn = 1)
         |SELECT vec_id, CAST(sub AS BIGINT) AS sub, c1, code, (c1 <> code) AS moved
         |FROM ka""".stripMargin), eager = Some(Rounds)),
    // F. text analysis
    Key("text_langid", TextAnalysis.langId _,
      Sql((s"SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match FROM ($langidPredSql) d"))),
    Key("text_quality", TextAnalysis.quality _, Sql(
      """SELECT doc_id, n_chars_actual, n_tokens, avg_token_len, punct_ratio, digit_ratio, stop_ratio,
        |  (n_tokens >= 10 AND punct_ratio < 0.1) AS is_quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_actual,
        |    CAST(len(toks) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(toks) > 0 THEN CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, x -> CAST(length(x) AS BIGINT))), (a,b) -> a+b) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS avg_token_len,
        |    CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS punct_ratio,
        |    CASE WHEN length(text) > 0 THEN CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE) END AS digit_ratio,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> x='the' OR x='and' OR x='of' OR x='to' OR x='is')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) END AS stop_ratio
        |  FROM (SELECT doc_id, text, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents) a) b""".stripMargin)),
    Key("text_tokens", TextAnalysis.tokenCounts _, Sql(
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_sub_tokens,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
        |FROM documents""".stripMargin)),
    Key("text_fingerprint", TextAnalysis.fingerprint _, Sql(
      s"""WITH g AS (SELECT doc_id, lower(text) AS lc,
         |  list_distinct(CASE WHEN length(lower(text)) >= 8
         |    THEN list_transform(range(1, length(lower(text))-6), i -> substr(lower(text), i, 8))
         |    ELSE [lower(text)] END) AS grams FROM documents)
         |SELECT doc_id, ${ph("lc")} AS full_hash,
         |  list_min(list_transform(grams, x -> ${ph("x")})) AS min_kgram_hash,
         |  CAST(CASE WHEN lc IS NULL THEN NULL ELSE len(grams) END AS BIGINT) AS n_distinct_kgrams
         |FROM g""".stripMargin)),
    // winnowing (k=8, w=4): positional k-gram rolling hashes, window
    // minima, distinct fingerprint VALUES — selection order-free, so
    // both engines agree however window ties resolve
    Key("text_winnow", (s, d) => TextAnalysis.winnow(s, d), Sql(
      s"""WITH $winnowCtes,
         |f AS (SELECT doc_id, hs, mins, list_distinct(mins) AS fps FROM w)
         |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
         |  CAST(len(mins) AS BIGINT) AS n_windows,
         |  CAST(len(fps) AS BIGINT) AS n_fingerprints,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), fps), (a,x) -> a+x) AS fp_sum,
         |  list_min(fps) AS fp_min FROM f""".stripMargin)),
    // winnowing prints + df-capped overlap join against the eval
    // holdout (doc_id < 50), threshold at 3 shared fingerprints
    Key("decontaminate_winnow", (s, d) => TextAnalysis.decontaminateWinnow(s, d), Sql(
      s"""WITH $winnowCtes,
         |fp AS (SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM w),
         |lwm AS (SELECT doc_id, lower(text) AS lw FROM documents),
         |keep AS (SELECT fp FROM fp JOIN lwm USING (doc_id) GROUP BY fp
         |         HAVING COUNT(DISTINCT lw) <= 100),
         |ev AS (SELECT DISTINCT f.fp FROM fp f JOIN keep USING (fp) WHERE f.doc_id < 50)
         |SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_fps,
         |  COUNT(*) >= 3 AS contaminated
         |FROM fp f JOIN ev USING (fp)
         |WHERE f.doc_id >= 50 GROUP BY 1""".stripMargin)),
    Key("text_topterms", (s, d) => TextAnalysis.topTerms(s, d), Sql(
      """SELECT term, COUNT(*) AS doc_freq FROM (
        |  SELECT doc_id, unnest(list_distinct(regexp_split_to_array(lower(text), '\s+'))) AS term
        |  FROM documents) t
        |GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20""".stripMargin)),
    Key("q_cms_topterms", (s, d) => TextAnalysis.cmsTopTerms(s, d), Sql(
      s"""WITH terms AS (SELECT DISTINCT doc_id, term FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |    FROM documents) u),
         |th AS (SELECT doc_id, term, ${ph("term")} AS h FROM terms),
         |params(j, a, b) AS (VALUES (0, 506952114, 12345), (1, 1013904228, 52848),
         |  (2, 1520856342, 93351), (3, 2027808456, 133854)),
         |bc AS (SELECT p.j, ((th.h * p.a + p.b) % 2147483647) % 1024 AS bucket, COUNT(*) AS c
         |  FROM th CROSS JOIN params p GROUP BY 1, 2),
         |top AS (SELECT term, ANY_VALUE(h) AS h, COUNT(*) AS doc_freq FROM th
         |  GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20)
         |SELECT t.term, t.doc_freq, MIN(COALESCE(bc.c, 0)) AS cms_est
         |FROM top t CROSS JOIN params p
         |LEFT JOIN bc ON bc.j = p.j AND bc.bucket = ((t.h * p.a + p.b) % 2147483647) % 1024
         |GROUP BY t.term, t.doc_freq""".stripMargin)),
    // F. streaming twin: the batch per-term census (vocabulary-
    // bounded state) as a complete-mode streaming aggregation, CMS
    // grid + top-k over it via the additivity identity
    Key("stream_topterms", (s, d) => graft.streaming.StreamTopTerms.streamedTopTerms(s, d),
      SameAs("q_cms_topterms"), twin = true),
    Key("text_tfidf", TextAnalysis.tfidf _, Sql(
      """WITH terms AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents) u
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM terms GROUP BY term),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, top_term, tfidf FROM (
        |  SELECT t.doc_id, t.term AS top_term,
        |    CAST(t.tf AS DOUBLE) * ((CAST(n.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) AS tfidf,
        |    ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY CAST(t.tf AS DOUBLE) * ((CAST(n.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) DESC, t.term) AS rnk
        |  FROM terms t JOIN dfreq d ON t.term = d.term CROSS JOIN n) z
        |WHERE rnk = 1""".stripMargin)),
    // F. BM25 more-like-this retrieval: df-capped posting join,
    // reciprocal-rational idf (no libm ln), per-term contributions
    // floored to integer micros so the per-(query, doc) sum is
    // order-free and engine-exact; the query term-set is each query
    // doc's 3 rarest terms (df asc, term asc — the deterministic
    // keyword cut that also minimizes posting fan-out); ROW_NUMBER
    // here IS the bounded-heap election's order
    Key("text_bm25", (s, d) => TextAnalysis.bm25(s, d), Sql(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |postings AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_tokens FROM dl),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY 1),
        |qterms AS (SELECT query_doc_id, term, df, n_docs, tot_tokens FROM (
        |  SELECT p.doc_id AS query_doc_id, p.term, d.df, s.n_docs, s.tot_tokens,
        |    ROW_NUMBER() OVER (PARTITION BY p.doc_id ORDER BY d.df, p.term) AS qrn
        |  FROM postings p JOIN dfreq d USING (term) CROSS JOIN stats s
        |  WHERE p.doc_id % 50 = 0) zq WHERE qrn <= 3),
        |scored AS (SELECT q.query_doc_id, p.doc_id,
        |    CAST(SUM(CAST(FLOOR(
        |      ((CAST(q.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5)) *
        |      ((CAST(p.tf AS DOUBLE) * 2.2) /
        |       (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
        |         (CAST(q.tot_tokens AS DOUBLE) / CAST(q.n_docs AS DOUBLE)))))) * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM qterms q JOIN postings p USING (term) JOIN dl ON dl.doc_id = p.doc_id
        |  WHERE p.doc_id != q.query_doc_id
        |  GROUP BY 1, 2)
        |SELECT query_doc_id, doc_id, score_micro,
        |  CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_doc_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
        |  FROM scored) z
        |WHERE rnk <= 5""".stripMargin), eager = Some(Shared)),
    // free-text mode: the query table is a VALUES restatement of
    // TextAnalysis.DefaultBm25Queries; same floored-micro Okapi sums
    Key("text_bm25_query", (s, d) => TextAnalysis.bm25Query(s, d), Sql(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS term FROM documents),
        |postings AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(dl) AS BIGINT) AS tot_tokens FROM dl),
        |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY 1),
        |qt AS (SELECT CAST(query_id AS BIGINT) AS query_id,
        |    unnest(list_distinct(regexp_split_to_array(lower(query_text), '\s+'))) AS term
        |  FROM (VALUES (0, 'fast sort merge'), (1, 'spark query window'),
        |        (2, 'dup stream'), (3, 'customer table scan'),
        |        (4, 'big data batch')) q(query_id, query_text)),
        |qterms AS (SELECT qt.query_id, qt.term, d.df, s.n_docs, s.tot_tokens
        |  FROM qt JOIN dfreq d USING (term) CROSS JOIN stats s),
        |scored AS (SELECT q.query_id, p.doc_id,
        |    CAST(SUM(CAST(FLOOR(
        |      ((CAST(q.n_docs AS DOUBLE) - CAST(q.df AS DOUBLE) + 0.5) / (CAST(q.df AS DOUBLE) + 0.5)) *
        |      ((CAST(p.tf AS DOUBLE) * 2.2) /
        |       (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl.dl AS DOUBLE) /
        |         (CAST(q.tot_tokens AS DOUBLE) / CAST(q.n_docs AS DOUBLE)))))) * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
        |  FROM qterms q JOIN postings p USING (term) JOIN dl ON dl.doc_id = p.doc_id
        |  GROUP BY 1, 2)
        |SELECT query_id, doc_id, score_micro,
        |  CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rnk
        |  FROM scored) z
        |WHERE rnk <= 5""".stripMargin), eager = Some(Shared)),
    Key("sample_strata", (s, d) => TextAnalysis.sampleStrata(s, d), Sql(
      s"""SELECT doc_id, lang, source, bucket FROM (
         |  SELECT doc_id, lang, source, ${ph("text")} % 100 AS bucket FROM documents) t
         |WHERE bucket < 20""".stripMargin)),
    Key("sample_weighted", (s, d) => TextAnalysis.sampleWeighted(s, d), Sql(
      s"""SELECT doc_id, source, n_chars,
         |  CAST(LEAST(1000, n_chars * 1000 // 600) AS BIGINT) AS w_millis
         |FROM documents
         |WHERE ${ph("text")} % 1000 < LEAST(1000, n_chars * 1000 // 600)""".stripMargin)),
    Key("sample_pergroup", (s, d) => TextAnalysis.samplePerGroup(s, d), Sql(
      s"""SELECT source, rnk, doc_id, h, n_group FROM (
         |  SELECT source, doc_id, ${ph("text")} AS h,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY ${ph("text")} ASC, doc_id ASC) AS BIGINT) AS rnk,
         |    COUNT(*) OVER (PARTITION BY source) AS n_group
         |  FROM documents) t
         |WHERE rnk <= 10""".stripMargin)),
    Key("sample_split", TextAnalysis.sampleSplit _, Sql(
      """SELECT doc_id, source, n_chars, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM (SELECT doc_id, source, n_chars,
        |    (doc_id * 2654435761) % 4294967296 % 100 AS bucket
        |  FROM documents) t""".stripMargin)),
    Key("sample_negative", (s, d) => Curation.sampleNegative(s, d), Sql(
      s"""WITH d AS (SELECT doc_id, source, ${ph("text")} AS h FROM documents
         |  WHERE text IS NOT NULL AND source IS NOT NULL),
         |s AS (SELECT source, COUNT(*) AS n,
         |    ROW_NUMBER() OVER (ORDER BY source) - 1 AS sidx FROM d GROUP BY source),
         |r AS (SELECT doc_id, source,
         |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS rnk FROM d),
         |a AS (SELECT d.doc_id AS anchor_id, d.source AS anchor_source, s.sidx AS asidx
         |  FROM d JOIN s ON s.source = d.source WHERE d.doc_id < 32),
         |e AS (SELECT anchor_id, anchor_source, asidx, j AS slot
         |  FROM a, (SELECT unnest(range(4)) AS j) js),
         |x AS (SELECT e.*, ${ph("concat(CAST(anchor_id AS VARCHAR), ':', CAST(slot AS VARCHAR))")} % (ns.cnt - 1) AS t
         |  FROM e, (SELECT COUNT(*) AS cnt FROM s) ns),
         |y AS (SELECT *, CASE WHEN t >= asidx THEN t + 1 ELSE t END AS nsidx FROM x),
         |z AS (SELECT y.anchor_id, y.slot, y.anchor_source, s.source AS neg_source,
         |    ${ph("concat(CAST(anchor_id AS VARCHAR), ':', CAST(slot AS VARCHAR), ':neg')")} % s.n AS rnk
         |  FROM y JOIN s ON s.sidx = y.nsidx)
         |SELECT z.anchor_id, z.slot, z.anchor_source, r.doc_id AS neg_id, z.neg_source
         |FROM z JOIN r ON r.source = z.neg_source AND r.rnk = z.rnk""".stripMargin)),
    Key("text_hashvec", (s, d) => TextAnalysis.hashVec(s, d), Sql(
      s"""SELECT source, bucket, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS n_docs
         |FROM (SELECT doc_id, source, ${ph("term")} % 64 AS bucket FROM (
         |  SELECT doc_id, source,
         |    unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
         |  FROM documents) u) t
         |GROUP BY source, bucket""".stripMargin)),
    // the embed_kmeans CTE chain re-played over hashed TF vectors:
    // same seeding, same fold-exact distance, same (d, cid) argmin
    Key("text_topics", (s, d) => TextAnalysis.topics(s, d), Sql(
      s"""WITH $topicsAssignCtes
         |SELECT doc_id, c1, cluster, (c1 <> cluster) AS moved FROM ka""".stripMargin), eager = Some(Rounds)),
    // topic x source contingency, independence cross-multiplied to
    // integers: o*N vs rc*cs — no expected-count division to round
    Key("corpus_topic_balance", TextAnalysis.topicBalance _, Sql(
      s"""WITH $topicsAssignCtes,
         |cells AS (SELECT ka.cluster AS cluster_id, d.source, COUNT(*) AS o
         |  FROM ka JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |rc AS (SELECT cluster_id, CAST(SUM(o) AS BIGINT) AS rc FROM cells GROUP BY 1),
         |cs AS (SELECT source, CAST(SUM(o) AS BIGINT) AS cs FROM cells GROUP BY 1),
         |nt AS (SELECT CAST(SUM(o) AS BIGINT) AS n_total FROM cells)
         |SELECT c.cluster_id, c.source, CAST(c.o AS BIGINT) AS n_docs,
         |  rc.rc, cs.cs, nt.n_total,
         |  c.o * nt.n_total - rc.rc * cs.cs AS dev_num,
         |  CAST(c.o * nt.n_total AS DOUBLE) / CAST(rc.rc * cs.cs AS DOUBLE) AS skew,
         |  c.o * nt.n_total > rc.rc * cs.cs AS over_rep
         |FROM cells c JOIN rc USING (cluster_id) JOIN cs USING (source)
         |  CROSS JOIN nt""".stripMargin), eager = Some(Rounds)),
    // the full training trajectory gates: three chained census +
    // greedy-rewrite rounds, rewrite via the run-parity rule
    Key("text_bpe_train", (s, d) => TextAnalysis.bpeTrain(s, d), Sql(
      s"""WITH w AS (SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
         |    FROM documents) u
         |  WHERE regexp_matches(word, '^[\\x21-\\x7e]+$$') GROUP BY word),
         |s0 AS (SELECT word, freq, regexp_split_to_array(word, '') AS syms FROM w),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS round, a AS sym_a, b AS sym_b, n AS n_merged FROM t1
         |  UNION ALL SELECT 2, a, b, n FROM t2
         |  UNION ALL SELECT 3, a, b, n FROM t3) m""".stripMargin), eager = Some(Rounds)),
    // the artifact applied: per-doc fertility through the trained
    // final symbol table; out-of-domain words pass through as 1 token
    Key("text_bpe_encode", (s, d) => TextAnalysis.bpeEncode(s, d), Sql(
      s"""WITH w AS (SELECT word, COUNT(*) AS freq FROM (
         |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
         |    FROM documents) u
         |  WHERE regexp_matches(word, '^[\\x21-\\x7e]+$$') GROUP BY word),
         |s0 AS (SELECT word, freq, regexp_split_to_array(word, '') AS syms FROM w),
         |${bpeRoundCtes(1)},
         |${bpeRoundCtes(2)},
         |${bpeRoundCtes(3)},
         |wl AS (SELECT word, CAST(len(syms) AS BIGINT) AS wlen FROM s3),
         |dw AS (SELECT doc_id, word, COUNT(*) AS n FROM (
         |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
         |    FROM documents) u GROUP BY 1, 2)
         |SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
         |  CAST(SUM(n * COALESCE(wlen, 1)) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(n * COALESCE(wlen, 1)) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS fertility
         |FROM dw LEFT JOIN wl USING (word) GROUP BY doc_id""".stripMargin), eager = Some(Rounds)),
    Key("text_gopher", (s, d) => TextAnalysis.gopherRules(s, d), Sql(
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS words
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(CASE WHEN words IS NULL THEN NULL
        |         ELSE COALESCE(list_sum(list_transform(words, x -> length(x))), 0) END AS BIGINT) AS sum_word_chars,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_intersect(list_transform(words, x -> lower(x)),
        |      ['a','the','be','to','of','and','that','have','with'])) AS BIGINT) AS n_stop_hits
        |  FROM w)
        |SELECT doc_id, lang, n_words, sum_word_chars, n_alpha_words, n_stop_hits,
        |  n_words >= 5 AND n_words <= 100000 AS ok_words,
        |  sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10 AS ok_mean_len,
        |  n_alpha_words * 10 >= n_words * 8 AS ok_alpha,
        |  n_stop_hits >= 2 AS ok_stop,
        |  (n_words >= 5 AND n_words <= 100000)
        |    AND (sum_word_chars >= n_words * 3 AND sum_word_chars <= n_words * 10)
        |    AND (n_alpha_words * 10 >= n_words * 8) AND (n_stop_hits >= 2) AS pass
        |FROM c""".stripMargin)),
    Key("corpus_select", (s, d) => TextAnalysis.corpusSelect(s, d), Sql(
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(list_intersect(list_transform(w, x -> lower(x)),
        |      ['a','the','be','to','of','and','that','have','with']))) AS BIGINT) * 1000
        |      + CAST(len(w) AS BIGINT) AS score
        |  FROM (SELECT doc_id,
        |      list_filter(regexp_split_to_array(text, '\s+'), x -> length(x) > 0) AS w
        |    FROM documents) t),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM s)
        |SELECT doc_id, score, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 8000""".stripMargin)),
    Key("text_dsir", (s, d) => TextAnalysis.dsir(s, d), Sql(
      s"""WITH terms AS (
         |  SELECT doc_id, lang,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> length(x) > 0)) AS term
         |  FROM documents),
         |tb AS (SELECT doc_id, lang, ${ph("term")} % 64 AS bucket FROM terms),
         |freqs AS (
         |  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS tf_all,
         |    CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tf_target
         |  FROM tb GROUP BY bucket),
         |totals AS (
         |  SELECT CAST(SUM(tf_all) AS BIGINT) AS n_all,
         |    CAST(SUM(tf_target) AS BIGINT) AS n_target FROM freqs),
         |scored AS (
         |  SELECT doc_id, COUNT(*) AS n_terms,
         |    CAST(SUM(tf_target) AS BIGINT) AS target_evidence,
         |    CAST(SUM(tf_all) AS BIGINT) AS corpus_evidence
         |  FROM tb JOIN freqs USING (bucket) GROUP BY doc_id)
         |SELECT doc_id, n_terms, target_evidence, corpus_evidence,
         |  CAST(target_evidence AS DECIMAL(38,0)) * n_all
         |    > CAST(corpus_evidence AS DECIMAL(38,0)) * n_target AS selected
         |FROM scored, totals""".stripMargin)),
    Key("decontaminate", (s, d) => TextAnalysis.decontaminate(s, d), Sql(
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 5
        |    THEN list_transform(range(1, len(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
        |    ELSE [array_to_string(t, ' ')] END)) AS shingle
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents) a),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
        |SELECT s.doc_id, COUNT(*) AS n_shared_shingles
        |FROM sh s JOIN ev USING (shingle)
        |WHERE s.doc_id >= 50
        |GROUP BY s.doc_id""".stripMargin)),
    // semantic twin: max-cosine vs the broadcast holdout, argmax ties
    // to the smaller holdout id
    Key("decontaminate_semantic", (s, d) => Similarity.decontaminateSemantic(s, d), Sql(
      s"""SELECT vec_id, nearest_holdout, max_cosine, max_cosine >= 0.35 AS contaminated FROM (
         |  SELECT e.vec_id, h.vec_id AS nearest_holdout,
         |    ${cos("e.embedding", "h.embedding")} AS max_cosine,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cos("e.embedding", "h.embedding")} DESC, h.vec_id) AS rn
         |  FROM embeddings e JOIN embeddings h ON h.vec_id < 50
         |  WHERE e.vec_id >= 50) t
         |WHERE rn = 1""".stripMargin)),
    Key("decontaminate_frac", (s, d) => TextAnalysis.decontaminateFrac(s, d), Sql(
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 5
        |    THEN list_transform(range(1, len(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
        |    ELSE [array_to_string(t, ' ')] END)) AS shingle
        |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents) a),
        |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
        |tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= 50),
        |tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY doc_id),
        |hit AS (SELECT t.doc_id, COUNT(*) AS n_hit FROM tr t JOIN ev USING (shingle) GROUP BY t.doc_id)
        |SELECT tot.doc_id, n_shingles, COALESCE(n_hit, 0) AS n_hit,
        |  COALESCE(n_hit, 0) * 100 >= n_shingles * 20 AS contaminated
        |FROM tot LEFT JOIN hit USING (doc_id)""".stripMargin)),
    Key("text_redact", (s, d) => TextAnalysis.redact(s, d), Sql(
      """SELECT doc_id,
        |  regexp_replace(text, '(?i)customer', '<REDACTED>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text, '(?i)customer')) AS BIGINT) AS n_redactions
        |FROM documents""".stripMargin)),
    // quality gate + dedup survivors + decontamination + stratified
    // sample, as one conjunction over the same cluster/shingle CTEs
    // the individual oracles use
    Key("corpus_pipeline", (s, d) => TextAnalysis.corpusPipeline(s, d), Sql(
      s"""WITH RECURSIVE $clusterCtes,
         |sh5 AS (
         |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(t) >= 5
         |    THEN list_transform(range(1, len(t)-3), i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))
         |    ELSE [array_to_string(t, ' ')] END)) AS shingle
         |  FROM toks),
         |ev5 AS (SELECT DISTINCT shingle FROM sh5 WHERE doc_id < 50),
         |contaminated AS (SELECT DISTINCT s.doc_id FROM sh5 s JOIN ev5 USING (shingle) WHERE s.doc_id >= 50)
         |SELECT doc_id, lang, source, n_tokens, bucket FROM (
         |  SELECT doc_id, lang, source,
         |    CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
         |      / CAST(length(text) AS DOUBLE) AS punct_ratio,
         |    ${ph("text")} % 100 AS bucket
         |  FROM documents) b
         |WHERE n_tokens >= 10 AND punct_ratio < 0.1 AND bucket < 20
         |  AND doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
         |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin), eager = Some(Rounds)),
    Key("text_repetition", TextAnalysis.repetition _, Sql(
      """WITH g AS (SELECT doc_id, unnest(CASE WHEN length(lower(text)) >= 4
        |    THEN list_transform(range(1, length(lower(text))-2), i -> substr(lower(text), i, 4))
        |    ELSE [lower(text)] END) AS gram FROM documents),
        |c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
        |  CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_gram_frac
        |FROM c GROUP BY doc_id""".stripMargin)),
    Key("corpus_cap", (s, d) => Curation.corpusCap(s, d), Sql(
      """SELECT source, doc_id, score, rnk FROM (
        |  SELECT source, doc_id, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk
        |  FROM (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(lower(text), '\s+')) AS BIGINT) AS score
        |    FROM documents) t) z
        |WHERE rnk <= 20""".stripMargin)),
    Key("dedup_lines", (s, d) => Curation.dedupLines(s, d), Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |cl AS (SELECT doc_id,
        |  list_transform(range(0, CAST(ceil(len(t)/10.0) AS BIGINT)),
        |    i -> array_to_string(t[(i*10+1):(i*10+10)], ' ')) AS chunks
        |  FROM toks),
        |chunks AS (SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS cidx,
        |  unnest(chunks) AS chunk FROM cl),
        |firsts AS (SELECT doc_id, cidx, chunk,
        |  row_number() OVER (PARTITION BY chunk ORDER BY doc_id, cidx) AS rn FROM chunks),
        |tot AS (SELECT doc_id, COUNT(*) AS total_chunks FROM chunks GROUP BY doc_id)
        |SELECT f.doc_id,
        |  string_agg(f.chunk, ' ' ORDER BY f.cidx) AS text_dedup,
        |  COUNT(*) AS kept_chunks,
        |  MIN(t.total_chunks) AS total_chunks
        |FROM firsts f JOIN tot t USING (doc_id)
        |WHERE f.rn = 1
        |GROUP BY f.doc_id""".stripMargin)),
    Key("decontaminate_bloom", (s, d) => Curation.decontaminateBloom(s, d),
      SameAs("decontaminate")),
    Key("corpus_pack", (s, d) => Curation.corpusPack(s, d), Sql(
      """SELECT doc_id, n_tokens, start_off,
        |  CAST(floor(start_off / 2048.0) AS BIGINT) AS pack_id,
        |  start_off % 2048 AS off_in_pack,
        |  (CAST(floor((start_off + n_tokens - 1) / 2048.0) AS BIGINT)
        |     > CAST(floor(start_off / 2048.0) AS BIGINT)) AS spans_packs
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM (SELECT doc_id,
        |    CAST(COALESCE(len(regexp_split_to_array(lower(text), '\s+')), 0) AS BIGINT) AS n_tokens
        |    FROM documents) t) z""".stripMargin)),
    Key("source_mix", (s, d) => Curation.sourceMix(s, d), Sql(
      s"""SELECT doc_id, lang, source, bucket, target_pct FROM (
         |  SELECT doc_id, lang, source, ${ph("text")} % 100 AS bucket,
         |    CAST(CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 30
         |      WHEN lang = 'fr' THEN 20 ELSE 10 END AS BIGINT) AS target_pct
         |  FROM documents) t
         |WHERE bucket < target_pct""".stripMargin)),
    Key("corpus_epochs", (s, d) => Curation.corpusEpochs(s, d), Sql(
      s"""SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy FROM (
         |  SELECT doc_id, lang,
         |    CASE WHEN lang = 'en' THEN 2
         |         WHEN lang = 'de' THEN 1 + CASE WHEN bucket < 50 THEN 1 ELSE 0 END
         |         WHEN lang = 'fr' THEN CASE WHEN bucket < 30 THEN 1 ELSE 0 END
         |         ELSE 1 END AS n
         |  FROM (SELECT doc_id, lang, ${ph("text")} % 100 AS bucket FROM documents) b) t""".stripMargin)),
    // NULL-text docs have no content hash → excluded from the hash
    // permutation (decided r11 semantics, mirrored in corpusShard)
    Key("corpus_shard", (s, d) => Curation.corpusShard(s, d), Sql(
      s"""SELECT doc_id, shard, pos FROM (
         |  SELECT doc_id, h % 16 AS shard,
         |    CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) AS BIGINT) AS pos
         |  FROM (SELECT doc_id, ${ph("text")} AS h FROM documents
         |        WHERE text IS NOT NULL) t) z""".stripMargin)),
    // windows are purely positional: starts 0, 25, 50, ... while
    // start < n, tail window short — ceil(n/25) windows per doc
    Key("corpus_windows", (s, d) => Curation.corpusWindows(s, d), Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents)
        |SELECT doc_id, win_idx,
        |  CAST(least(50, len(t) - win_idx*25) AS BIGINT) AS win_len,
        |  array_to_string(t[(win_idx*25+1):(win_idx*25+50)], ' ') AS win_text
        |FROM (SELECT doc_id, t,
        |  unnest(range(0, CAST(ceil(len(t)/25.0) AS BIGINT))) AS win_idx FROM toks) z
        |WHERE len(t) > 0""".stripMargin)),
    Key("corpus_merge", (s, d) => Curation.corpusMerge(s, d), Sql(
      """WITH docs AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |allv AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS rev, n_chars FROM docs
        |  UNION ALL SELECT doc_id, 2, n_chars + 7 FROM docs WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 100000, 1, n_chars FROM docs WHERE doc_id % 13 = 0)
        |SELECT doc_id, rev, n_chars, n_versions FROM (
        |  SELECT doc_id, rev, n_chars,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rev DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n_versions
        |  FROM allv) z
        |WHERE rn = 1""".stripMargin)),
    Key("corpus_compact", (s, d) => Curation.compact(s, d), Sql(
      """WITH sized AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, n_bytes,
        |    SUM(n_bytes) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes
        |      AS start_off
        |  FROM sized)
        |SELECT CAST(FLOOR(start_off / 4096) AS BIGINT) AS file_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_bytes) AS BIGINT) AS file_bytes,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM packed GROUP BY file_id""".stripMargin)),
    Key("corpus_diff", Curation.snapshotDiff _, Sql(
      """WITH base AS (
        |  SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes
        |  FROM documents),
        |delta AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN n_bytes + 7 ELSE n_bytes END AS n_bytes
        |  FROM base WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000, n_bytes FROM base WHERE doc_id % 13 = 0)
        |SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
        |  b.n_bytes AS base_bytes, d.n_bytes AS delta_bytes,
        |  CASE WHEN b.doc_id IS NULL THEN 'added'
        |       WHEN d.doc_id IS NULL THEN 'removed'
        |       WHEN b.n_bytes <> d.n_bytes THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM base b FULL OUTER JOIN delta d ON b.doc_id = d.doc_id""".stripMargin)),
    Key("corpus_timetravel", (s, d) => Curation.timeTravel(s, d), Sql(
      """WITH docs AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |vlog AS (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS rev, n_chars FROM docs
        |  UNION ALL SELECT doc_id, 2, n_chars + 7 FROM docs WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, 3, n_chars + 14 FROM docs WHERE doc_id % 21 = 0
        |  UNION ALL SELECT doc_id + 100000, 2, n_chars FROM docs WHERE doc_id % 13 = 0)
        |SELECT doc_id, rev, n_chars, n_visible FROM (
        |  SELECT doc_id, rev, n_chars,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY rev DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY doc_id) AS n_visible
        |  FROM vlog WHERE rev <= 2) z
        |WHERE rn = 1""".stripMargin)),
    // retained snapshots >= 2 read: every rev >= 2, plus the latest
    // rev <= 2 per doc; anything older is deletable
    Key("corpus_vacuum", (s, d) => Curation.vacuum(s, d), Sql(
      """WITH docs AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars FROM documents),
        |log AS (SELECT doc_id, 1 AS rev, n_chars FROM docs
        |  UNION ALL SELECT doc_id, 2, n_chars + 7 FROM docs WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id, 3, n_chars + 14 FROM docs WHERE doc_id % 21 = 0
        |  UNION ALL SELECT doc_id + 100000, 2, n_chars FROM docs WHERE doc_id % 13 = 0),
        |r AS (SELECT *,
        |    MAX(CASE WHEN rev <= 2 THEN rev END) OVER (PARTITION BY doc_id) AS max_below
        |  FROM log)
        |SELECT CAST(rev AS BIGINT) AS rev, COUNT(*) AS n_revisions,
        |  CAST(COUNT(*) FILTER (WHERE NOT (rev >= 2 OR rev = max_below)) AS BIGINT) AS n_deletable,
        |  CAST(COALESCE(SUM(n_chars) FILTER (WHERE NOT (rev >= 2 OR rev = max_below)), 0) AS BIGINT) AS bytes_deletable
        |FROM r GROUP BY rev""".stripMargin)),
    Key("text_boilerplate", (s, d) => Curation.boilerplate(s, d), Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |cl AS (SELECT doc_id,
        |  list_transform(range(0, CAST(ceil(len(t)/10.0) AS BIGINT)),
        |    i -> array_to_string(t[(i*10+1):(i*10+10)], ' ')) AS chunks
        |  FROM toks),
        |chunks AS (SELECT doc_id, generate_subscripts(chunks, 1) - 1 AS cidx,
        |  unnest(chunks) AS chunk FROM cl),
        |reps AS (SELECT lower(text) AS lw, MIN(doc_id) AS pid FROM documents GROUP BY lower(text)),
        |rtoks AS (SELECT pid, regexp_split_to_array(lw, '\s+') AS t FROM reps),
        |rcl AS (SELECT pid,
        |  list_transform(range(0, CAST(ceil(len(t)/10.0) AS BIGINT)),
        |    i -> array_to_string(t[(i*10+1):(i*10+10)], ' ')) AS chunks
        |  FROM rtoks),
        |rchunks AS (SELECT pid, unnest(chunks) AS chunk FROM rcl),
        |boiler AS (SELECT chunk FROM (
        |  SELECT chunk, COUNT(DISTINCT pid) AS df FROM rchunks GROUP BY chunk) z
        |  WHERE df > 1),
        |tot AS (SELECT doc_id, COUNT(*) AS total_chunks FROM chunks GROUP BY doc_id),
        |kept AS (SELECT c.doc_id,
        |    string_agg(c.chunk, ' ' ORDER BY c.cidx) AS text_clean,
        |    COUNT(*) AS kept_chunks
        |  FROM chunks c ANTI JOIN boiler b ON c.chunk = b.chunk
        |  GROUP BY c.doc_id)
        |SELECT t.doc_id, COALESCE(k.text_clean, '') AS text_clean,
        |  CAST(COALESCE(k.kept_chunks, 0) AS BIGINT) AS kept_chunks, t.total_chunks
        |FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id""".stripMargin)),
    Key("text_bpe_pairs", (s, d) => TextAnalysis.bpePairs(s, d), Sql(
      """SELECT pair, n_occurrences FROM (
        |  SELECT pair, COUNT(*) AS n_occurrences FROM (
        |    SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS pair
        |    FROM (SELECT regexp_split_to_array(lower(text), '\s+') AS t FROM documents) a) b
        |  GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 30) z""".stripMargin)),
    Key("text_ngram_lm", TextAnalysis.ngramLm _, Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |big AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks WHERE len(t) >= 2),
        |occ AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM big GROUP BY doc_id, bigram),
        |dfc AS (SELECT bigram, COUNT(*) AS df FROM occ GROUP BY bigram)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(cnt*df) AS BIGINT) AS sum_df,
        |  CAST(SUM(cnt*df) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS lm_score
        |FROM occ JOIN dfc USING (bigram) GROUP BY doc_id""".stripMargin)),
    // NTILE(3) is the oracle spelling; the engine computes the same
    // tercile arithmetically from the two-phase distributed rank
    Key("text_ppl_bucket", (s, d) => TextAnalysis.pplBucket(s, d), Sql(
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents),
        |big AS (SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks WHERE len(t) >= 2),
        |occ AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM big GROUP BY doc_id, bigram),
        |dfc AS (SELECT bigram, COUNT(*) AS df FROM occ GROUP BY bigram),
        |lm AS (SELECT doc_id, CAST(SUM(cnt*df) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS lm_score
        |  FROM occ JOIN dfc USING (bigram) GROUP BY doc_id)
        |SELECT l.doc_id, d.lang, l.lm_score,
        |  CAST(NTILE(3) OVER (PARTITION BY d.lang ORDER BY l.lm_score, l.doc_id) AS BIGINT) AS bucket
        |FROM lm l JOIN documents d ON l.doc_id = d.doc_id""".stripMargin), eager = Some(Shared)),
    Key("text_lexdiv", TextAnalysis.lexdiv _, Sql(
      """SELECT doc_id,
        |  CAST(len(t) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
        |  CAST(len(list_filter(range(1, len(t) + 1), i ->
        |    (i = 1 OR s[i] <> s[i-1]) AND (i = len(t) OR s[i] <> s[i+1]))) AS BIGINT) AS n_hapax,
        |  CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS ttr,
        |  CAST(len(list_filter(range(1, len(t) + 1), i ->
        |    (i = 1 OR s[i] <> s[i-1]) AND (i = len(t) OR s[i] <> s[i+1]))) AS DOUBLE)
        |    / CAST(len(t) AS DOUBLE) AS hapax_frac
        |FROM (SELECT doc_id, t, list_sort(t) AS s FROM (
        |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents) a) b""".stripMargin)),
    // round-robin needs a source group and a hash position: NULL
    // source / NULL text excluded on both engines (decided r11)
    Key("corpus_interleave", (s, d) => Curation.interleave(s, d), Sql(
      s"""WITH s AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
         |  FROM (SELECT DISTINCT source FROM documents
         |        WHERE text IS NOT NULL AND source IS NOT NULL) d),
         |ns AS (SELECT COUNT(*) AS n FROM s),
         |r AS (SELECT doc_id, source,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY ${ph("text")}, doc_id) - 1 AS BIGINT)
         |      AS rank_in_source
         |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL)
         |SELECT r.doc_id, r.source, s.sidx, r.rank_in_source,
         |  r.rank_in_source * ns.n + s.sidx AS global_pos
         |FROM r JOIN s USING (source) CROSS JOIN ns""".stripMargin)),
    Key("corpus_zorder", (s, d) => Curation.zorder(s, d), Sql(
      s"""WITH d AS (SELECT doc_id, LEAST(length(text)//4, 255) AS x, ${ph("text")} % 256 AS y
         |  FROM documents WHERE text IS NOT NULL),
         |z AS (SELECT doc_id, x, y, CAST($zTerms AS BIGINT) AS zv FROM d),
         |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY zv, doc_id) AS rn FROM z)
         |SELECT CAST((rn - 1) // 32 AS BIGINT) AS file_id, COUNT(*) AS n_docs,
         |  CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
         |  CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
         |  MIN(zv) AS z_min, MAX(zv) AS z_max
         |FROM r GROUP BY 1""".stripMargin)),
    // the same two-predicate scan planned against per-file min/max
    // stats under both layouts — the pruning payoff of the z-curve
    Key("corpus_prune", (s, d) => Curation.pruneDemo(s, d), Sql(
      s"""WITH d AS (SELECT doc_id, LEAST(length(text)//4, 255) AS x, ${ph("text")} % 256 AS y
         |  FROM documents WHERE text IS NOT NULL),
         |z AS (SELECT doc_id, x, y, CAST($zTerms AS BIGINT) AS zv FROM d),
         |zr AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY zv, doc_id) AS rn FROM z),
         |lr AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn FROM z),
         |m AS (
         |  SELECT 'zorder' AS layout, CAST((rn - 1) // 32 AS BIGINT) AS file_id,
         |    COUNT(*) AS n_docs,
         |    MIN(x) AS x_min, MAX(x) AS x_max, MIN(y) AS y_min, MAX(y) AS y_max
         |  FROM zr GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'linear', CAST((rn - 1) // 32 AS BIGINT), COUNT(*),
         |    MIN(x), MAX(x), MIN(y), MAX(y)
         |  FROM lr GROUP BY 1, 2)
         |SELECT layout, file_id, n_docs,
         |  NOT (x_max >= 32 AND x_min <= 63 AND y_max >= 64 AND y_min <= 127) AS pruned
         |FROM m""".stripMargin)),
    // oracle recomputes the view DIRECTLY over the merged corpus — the
    // incremental path must equal the full recompute
    Key("corpus_mv_refresh", Curation.mvRefresh _, Sql(
      """WITH base AS (SELECT doc_id, lang, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
        |merged AS (
        |  SELECT lang, CASE WHEN doc_id % 7 = 0 THEN n_bytes + 7 ELSE n_bytes END AS n_bytes
        |  FROM base WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT lang, n_bytes FROM base WHERE doc_id % 13 = 0)
        |SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes
        |FROM merged GROUP BY lang""".stripMargin)),
    // F. streaming twin: the MV maintained live from the delta feed —
    // the batch delta sums per (snapshot, language) as a complete-mode
    // streaming aggregation, then the batch null-safe full-outer merge
    // against the standing view; a language's delta rows straddling
    // the cut must fold into ONE accumulated cell
    Key("stream_mv_refresh", (s, d) => graft.streaming.StreamMvRefresh.streamedMvRefresh(s, d),
      SameAs("corpus_mv_refresh"), twin = true),
    // F. streaming twin: MIN/MAX maintained under deletes — bounded
    // candidate synopsis per language, rescan-on-expose escape hatch.
    // The oracle is the FULL RECOMPUTE over the merged corpus: the
    // synopsis path and the rescan-on-expose path must both be
    // indistinguishable from it
    Key("stream_mv_minmax", (s, d) => graft.streaming.StreamMvMinMax.streamedMvMinMax(s, d), Sql(
      """WITH base AS (SELECT doc_id, lang, CAST(strlen(text) AS BIGINT) AS n_bytes FROM documents),
        |merged AS (
        |  SELECT lang, CASE WHEN doc_id % 7 = 0 THEN n_bytes + 7 ELSE n_bytes END AS n_bytes
        |  FROM base WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT lang, n_bytes FROM base WHERE doc_id % 13 = 0)
        |SELECT lang, MIN(n_bytes) AS min_bytes, MAX(n_bytes) AS max_bytes
        |FROM merged GROUP BY lang""".stripMargin), twin = true),
    Key("corpus_profile", Curation.profile _, Sql(
      """SELECT 'doc_id' AS column_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT(doc_id) AS n_nulls, COUNT(DISTINCT doc_id) AS n_distinct,
        |  CAST(MIN(doc_id) AS VARCHAR) AS min_v, CAST(MAX(doc_id) AS VARCHAR) AS max_v FROM documents
        |UNION ALL SELECT 'lang', COUNT(*), COUNT(*) - COUNT(lang),
        |  COUNT(DISTINCT lang), MIN(lang), MAX(lang) FROM documents
        |UNION ALL SELECT 'source', COUNT(*), COUNT(*) - COUNT(source),
        |  COUNT(DISTINCT source), MIN(source), MAX(source) FROM documents
        |UNION ALL SELECT 'n_chars', COUNT(*), COUNT(*) - COUNT(n_chars),
        |  COUNT(DISTINCT n_chars), CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
        |UNION ALL SELECT 'text', COUNT(*), COUNT(*) - COUNT(text),
        |  COUNT(DISTINCT text), substr(MIN(text), 1, 16), substr(MAX(text), 1, 16) FROM documents""".stripMargin)),
    // the merge restated as set algebra: survivors ∪ revised ∪ copies
    Key("corpus_upsert", Curation.upsert _, Sql(
      s"""WITH up AS (SELECT doc_id, text || ' v2' AS text, lang, source,
         |    n_chars + 3 AS n_chars FROM documents WHERE doc_id % 10 = 0),
         |ins AS (SELECT doc_id + 1000000 AS doc_id, 'copy: ' || text AS text,
         |    lang, source, n_chars + 6 AS n_chars FROM documents WHERE doc_id % 10 = 2),
         |keep AS (SELECT * FROM documents WHERE doc_id % 10 NOT IN (0, 1)),
         |merged AS (SELECT * FROM keep UNION ALL SELECT * FROM up
         |  UNION ALL SELECT * FROM ins)
         |SELECT source, COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(SUM(${ph("text")}) AS BIGINT) AS text_hash_sum
         |FROM merged GROUP BY source""".stripMargin)),
    // A. binary frames
    Key("frame_roundtrip", Frames.roundtrip _, Sql(
      """SELECT event_id, user_id AS device_id, epoch_us(ts) // 1000000 AS ts_secs,
        |  CAST(7 AS BIGINT) AS n_samples,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768)),
        |    (a,b) -> a+b) AS sample_sum
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL""".stripMargin)),
    Key("frame_extract", Frames.extract _, Sql(
      """SELECT event_id, user_id AS device_id, epoch_us(ts) // 1000000 AS ts_secs,
        |  (event_id*7 + CAST(FLOOR(value) AS BIGINT)) % 32768 AS first_sample,
        |  (event_id*7 + 78 + CAST(FLOOR(value) AS BIGINT)) % 32768 AS last_sample,
        |  CAST(24 AS BIGINT) AS frame_bytes
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL""".stripMargin)),
    Key("frame_stats", Frames.stats _, Sql(
        """SELECT device_id, COUNT(*) AS n_frames, CAST(SUM(fs) AS BIGINT) AS sample_sum,
          |  MIN(fmin) AS sample_min, MAX(fmax) AS sample_max,
          |  CAST(SUM(fs) AS DOUBLE) / CAST(COUNT(*) * 7 AS DOUBLE) AS sample_avg
          |FROM (
          |  SELECT user_id AS device_id,
          |    list_reduce(list_prepend(CAST(0 AS BIGINT), ss), (a,b) -> a+b) AS fs,
          |    list_min(ss) AS fmin, list_max(ss) AS fmax
          |  FROM (SELECT user_id, event_id,
          |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768) AS ss
          |    FROM events
          |    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL) a) b
          |GROUP BY device_id""".stripMargin)),
    // A. streaming twin: the live wire decoder — scan-local
    // UnpackFrame before the stateful shuffle, the batch four-integer
    // device census as a complete-mode streaming aggregation
    Key("stream_frame_stats", (s, d) => graft.streaming.StreamFrameStats.streamedFrameStats(s, d),
      SameAs("frame_stats"), twin = true),
    // delta + zigzag + varint over the PARSED int16 samples: d0 is
    // the absolute first sample, later deltas are the mod-32768
    // differences; varint boundaries at 2^7 / 2^14 (int16 deltas
    // never exceed 3 bytes)
    Key("frame_delta", Frames.delta _, Sql(
      """WITH f AS (
        |  SELECT user_id AS device_id,
        |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768) AS ss
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL),
        |d AS (
        |  SELECT device_id,
        |    list_transform(range(0,7), i -> CASE WHEN i = 0 THEN ss[1] ELSE ss[i+1] - ss[i] END) AS ds
        |  FROM f),
        |e AS (
        |  SELECT device_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_transform(ds, x -> CASE WHEN x >= 0 THEN x*2 ELSE -x*2 - 1 END),
        |        v -> CAST(1 + CASE WHEN v >= 128 THEN 1 ELSE 0 END
        |                     + CASE WHEN v >= 16384 THEN 1 ELSE 0 END AS BIGINT))),
        |      (a,b) -> a+b) AS eb
        |  FROM d)
        |SELECT device_id, COUNT(*) AS n_frames,
        |  CAST(COUNT(*) * 14 AS BIGINT) AS raw_bytes,
        |  CAST(SUM(eb) AS BIGINT) AS enc_bytes,
        |  CAST(SUM(eb) AS DOUBLE) / CAST(COUNT(*) * 14 AS DOUBLE) AS ratio
        |FROM e GROUP BY device_id""".stripMargin)),
    Key("frame_wire", (s, d) => Frames.wire(s, d), Sql(
      """SELECT user_id AS device_id, COUNT(*) AS n_frames,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768)),
        |    (a,b) -> a+b)) AS BIGINT) AS sample_sum,
        |  TRUE AS sync_ok
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id""".stripMargin)),
    // the payload checksum replays only over frames that SURVIVE the
    // deterministic corruption (event_id % 97 == 0 flips the magic)
    Key("frame_resync", (s, d) => Frames.resync(s, d), Sql(
      """SELECT user_id AS device_id, COUNT(*) AS n_frames,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 97 <> 0) AS BIGINT) AS n_recovered,
        |  CAST(COUNT(*) FILTER (WHERE event_id % 97 = 0) AS BIGINT) AS n_corrupted,
        |  CAST(COALESCE(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768)),
        |    (a,b) -> a+b)) FILTER (WHERE event_id % 97 <> 0), 0) AS BIGINT) AS sample_sum
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY user_id""".stripMargin)),
    // the index is a pure access-path property: the oracle is the
    // plain time-window query over the source events (window =
    // 2024-01-05 .. 2024-01-08 UTC in epoch seconds, matching the
    // frame codec's unix_micros div 1000000 truncation)
    Key("frame_lookup", (s, d) => Frames.lookup(s, d), Sql(
      """SELECT user_id AS device_id, COUNT(*) AS n_frames,
        |  CAST(SUM(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768)),
        |    (a,b) -> a+b)) AS BIGINT) AS sample_sum
        |FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
        |  AND epoch_us(ts) // 1000000 >= 1704412800
        |  AND epoch_us(ts) // 1000000 < 1704672000
        |GROUP BY user_id""".stripMargin), eager = Some(Staging)),
    // G. multimodal
    // blob sizes and payload bytes are UTF-8 BYTE quantities:
    // strlen() (bytes), not length() (code points), and the payload
    // head sum walks the hex of the encoded text — exact for any
    // Unicode corpus, not just ASCII
    Key("mm_meta", Multimodal.meta _, Sql(
      """SELECT doc_id,
        |  CAST(CASE WHEN lang = 'en' THEN 33 WHEN lang = 'de' THEN 21
        |            WHEN lang = 'es' THEN 30 ELSE 12 END + strlen(text) AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE (n_chars % 64) + 1 END AS BIGINT) AS width,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE (doc_id % 48) + 1 END AS BIGINT) AS height,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN lang = 'en' THEN 'png' WHEN lang = 'de' THEN 'jpeg'
        |       WHEN lang = 'es' THEN 'webp' ELSE 'raw' END AS format,
        |  CASE WHEN text IS NULL THEN NULL ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, LEAST(strlen(text), 8)),
        |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT))),
        |    (a,b) -> a+b) END AS payload_head_sum
        |FROM documents""".stripMargin)),
    Key("mm_resize", (s, d) => Multimodal.resize(s, d), Sql(
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN lang = 'en' THEN 'png' WHEN lang = 'de' THEN 'jpeg'
        |       WHEN lang = 'es' THEN 'webp' ELSE 'raw' END AS format,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE greatest(((n_chars % 64) + 1) // 2, 1) END AS BIGINT) AS width,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE greatest(((doc_id % 48) + 1) // 2, 1) END AS BIGINT) AS height,
        |  CAST(CASE WHEN text IS NULL THEN NULL
        |            WHEN lang = 'en' THEN 33 WHEN lang = 'de' THEN 21
        |            WHEN lang = 'es' THEN 30 ELSE 12 END
        |       + least(strlen(text), 16) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin)),
    Key("mm_framesample", (s, d) => Frames.frameSample(s, d), Sql(
      """SELECT device_id, COUNT(*) AS n_sampled,
        |  CAST(SUM(ssum) AS BIGINT) AS sample_sum,
        |  MIN(ts_secs) AS first_ts_secs, MAX(ts_secs) AS last_ts_secs
        |FROM (
        |  SELECT user_id AS device_id, epoch_us(ts) // 1000000 AS ts_secs,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(0,7), i -> (event_id*7 + i*13 + CAST(FLOOR(value) AS BIGINT)) % 32768)),
        |      (a,b) -> a+b) AS ssum,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL) t
        |WHERE (rn - 1) % 4 = 0
        |GROUP BY device_id""".stripMargin)),
    // dl IS NULL ⇔ text IS NULL: a NULL blob decodes to NULL on the
    // Spark side, so every dial-derived column needs the guard too
    // (DuckDB's NULL-ignoring LEAST(dl, 8) = 8 would otherwise walk
    // hex(NULL) instead of returning NULL)
    Key("mm_audio", Multimodal.audio _, Sql(
      """SELECT doc_id,
        |  CAST(44 + dl AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN dl IS NULL THEN NULL ELSE ch END AS BIGINT) AS channels,
        |  CAST(CASE WHEN dl IS NULL THEN NULL ELSE rate END AS BIGINT) AS sample_rate,
        |  CAST(dl // (ch * 2) AS BIGINT) AS n_samples,
        |  CAST((dl // (ch * 2)) * 1000000 // rate AS BIGINT) AS duration_us,
        |  CASE WHEN dl IS NULL THEN NULL ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, LEAST(dl, 8)),
        |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT))),
        |    (a,b) -> a+b) END AS payload_head_sum
        |FROM (SELECT doc_id, text,
        |    (doc_id % 2 + 1) AS ch,
        |    CASE WHEN lang = 'en' THEN 16000 WHEN lang = 'de' THEN 44100
        |         WHEN lang = 'es' THEN 8000 ELSE 22050 END AS rate,
        |    strlen(text) - strlen(text) % ((doc_id % 2 + 1) * 2) AS dl
        |  FROM documents) t""".stripMargin)),
    Key("mm_audio_downsample", Multimodal.audioDownsample _, Sql(
      """SELECT doc_id,
        |  CAST(44 + dl2 AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN dl2 IS NULL THEN NULL ELSE rate // 2 END AS BIGINT) AS sample_rate,
        |  CAST(dl2 // (ch * 2) AS BIGINT) AS n_samples,
        |  CAST((dl2 // (ch * 2)) * 1000000 // (rate // 2) AS BIGINT) AS duration_us
        |FROM (SELECT doc_id, ch, rate,
        |    (dl // 2) - (dl // 2) % (ch * 2) AS dl2
        |  FROM (SELECT doc_id,
        |      (doc_id % 2 + 1) AS ch,
        |      CASE WHEN lang = 'en' THEN 16000 WHEN lang = 'de' THEN 44100
        |           WHEN lang = 'es' THEN 8000 ELSE 22050 END AS rate,
        |      strlen(text) - strlen(text) % ((doc_id % 2 + 1) * 2) AS dl
        |    FROM documents) a) t""".stripMargin)),
    // s16le walk over the RIFF-located payload: byte pairs to SIGNED
    // samples (>= 32768 wraps negative), integer amplitude stats
    Key("mm_audio_stats", Multimodal.audioStats _, Sql(
      """WITH base AS (SELECT doc_id, text,
        |    strlen(text) - strlen(text) % ((doc_id % 2 + 1) * 2) AS dl
        |  FROM documents),
        |raw AS (SELECT doc_id, dl,
        |    list_transform(range(0, dl // 2), i ->
        |      CAST(('0x' || substr(hex(encode(text)), 4*i+1, 2)) AS BIGINT)
        |      + 256 * CAST(('0x' || substr(hex(encode(text)), 4*i+3, 2)) AS BIGINT)) AS rs
        |  FROM base),
        |sgn AS (SELECT doc_id, dl,
        |    list_transform(rs, x -> ABS(CASE WHEN x >= 32768 THEN x - 65536 ELSE x END)) AS absl
        |  FROM raw)
        |SELECT doc_id,
        |  CAST(dl // 2 AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN dl IS NULL THEN NULL
        |       ELSE COALESCE(list_max(absl), 0) END AS BIGINT) AS peak_abs,
        |  CASE WHEN dl IS NULL THEN NULL
        |       ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), absl), (a, b) -> a + b)
        |  END AS sum_abs,
        |  CAST(CASE WHEN dl IS NULL THEN NULL
        |       ELSE len(list_filter(absl, a -> a > 32000)) END AS BIGINT) AS n_loud,
        |  CASE WHEN dl // 2 > 0
        |    THEN (list_reduce(list_prepend(CAST(0 AS BIGINT), absl), (a, b) -> a + b) * 1000) // (dl // 2)
        |    ELSE 0 END AS mean_abs_milli
        |FROM sgn""".stripMargin)),
    // 32-sample windows, active when sum |s16le| > 20000·32 = 640000
    Key("mm_audio_vad", Multimodal.audioVad _, Sql(
      """WITH base AS (SELECT doc_id, text,
        |    strlen(text) - strlen(text) % ((doc_id % 2 + 1) * 2) AS dl
        |  FROM documents),
        |raw AS (SELECT doc_id, dl,
        |    list_transform(range(0, dl // 2), i ->
        |      CAST(('0x' || substr(hex(encode(text)), 4*i+1, 2)) AS BIGINT)
        |      + 256 * CAST(('0x' || substr(hex(encode(text)), 4*i+3, 2)) AS BIGINT)) AS rs
        |  FROM base),
        |sgn AS (SELECT doc_id, dl,
        |    list_transform(rs, x -> ABS(CASE WHEN x >= 32768 THEN x - 65536 ELSE x END)) AS absl
        |  FROM raw),
        |w AS (SELECT doc_id, (dl // 2) // 32 AS nw,
        |    list_transform(range(0, (dl // 2) // 32), k ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_slice(absl, k*32 + 1, k*32 + 32)), (a, b) -> a + b)) AS ws
        |  FROM sgn)
        |SELECT doc_id, CAST(nw AS BIGINT) AS n_windows,
        |  CAST(CASE WHEN nw IS NULL THEN NULL
        |       ELSE len(list_filter(ws, s -> s > 640000)) END AS BIGINT) AS n_active,
        |  CAST(CASE WHEN nw IS NULL THEN NULL
        |       ELSE COALESCE(list_max(ws), 0) END AS BIGINT) AS max_win_sum,
        |  CAST(CASE WHEN nw IS NULL THEN NULL
        |       ELSE COALESCE(list_min(list_filter(list_transform(range(0, nw), k ->
        |      CASE WHEN ws[k+1] > 640000 THEN k ELSE NULL END), x -> x IS NOT NULL)), -1)
        |    END AS BIGINT) AS first_active
        |FROM w""".stripMargin)),
    // header = ftyp(24) + moov(116) + mdat header(8) = 148 bytes; the
    // brand/timescale/duration dials restate Multimodal.packedVideo
    Key("mm_video", Multimodal.video _, Sql(
      """SELECT doc_id,
        |  CAST(148 + strlen(text) AS BIGINT) AS n_bytes,
        |  CASE WHEN text IS NULL THEN NULL ELSE brand END AS brand,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE tsc END AS BIGINT) AS timescale,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE dur END AS BIGINT) AS duration_ticks,
        |  CAST(CASE WHEN text IS NULL THEN NULL
        |       ELSE dur * 1000000 // tsc END AS BIGINT) AS duration_us,
        |  CAST(strlen(text) AS BIGINT) AS mdat_len,
        |  CASE WHEN text IS NULL THEN NULL ELSE list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, LEAST(strlen(text), 8)),
        |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT))),
        |    (a,b) -> a+b) END AS payload_head_sum
        |FROM (SELECT doc_id, text,
        |    CASE WHEN lang = 'en' THEN 'isom' WHEN lang = 'de' THEN 'mp42'
        |         WHEN lang = 'es' THEN 'avc1' ELSE 'mp41' END AS brand,
        |    CASE WHEN lang = 'en' THEN 90000 WHEN lang = 'de' THEN 600
        |         WHEN lang = 'es' THEN 1000 ELSE 30000 END AS tsc,
        |    (n_chars * 3 + doc_id) % 100000 AS dur
        |  FROM documents) t""".stripMargin)),
    Key("mm_video_trim", Multimodal.videoTrim _, Sql(
      """SELECT doc_id,
        |  CAST(148 + strlen(text) // 2 AS BIGINT) AS n_bytes,
        |  CASE WHEN text IS NULL THEN NULL ELSE brand END AS brand,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE dur // 2 END AS BIGINT) AS duration_ticks,
        |  CAST(CASE WHEN text IS NULL THEN NULL
        |       ELSE (dur // 2) * 1000000 // tsc END AS BIGINT) AS duration_us,
        |  CAST(strlen(text) // 2 AS BIGINT) AS mdat_len
        |FROM (SELECT doc_id, text,
        |    CASE WHEN lang = 'en' THEN 'isom' WHEN lang = 'de' THEN 'mp42'
        |         WHEN lang = 'es' THEN 'avc1' ELSE 'mp41' END AS brand,
        |    CASE WHEN lang = 'en' THEN 90000 WHEN lang = 'de' THEN 600
        |         WHEN lang = 'es' THEN 1000 ELSE 30000 END AS tsc,
        |    (n_chars * 3 + doc_id) % 100000 AS dur
        |  FROM documents) t""".stripMargin)),
    // outputs derive from the PARSED stss table; the oracle replays
    // the arithmetic the packed table encodes (k = 1 + (n-1) div se).
    // A NULL blob never packs, so the parsed stss table is NULL on
    // the Spark side — every dial-derived output guards on text
    Key("mm_video_keyframes", Multimodal.videoKeyframes _, Sql(
      """SELECT doc_id,
        |  CASE WHEN text IS NULL THEN NULL ELSE k END AS n_sync,
        |  CAST(CASE WHEN text IS NULL THEN NULL ELSE 1 END AS BIGINT) AS first_sync,
        |  CASE WHEN text IS NULL THEN NULL ELSE 1 + (k - 1) * se END AS last_sync,
        |  CASE WHEN text IS NULL THEN NULL
        |       ELSE k + se * (k * (k - 1) // 2) END AS sync_sum
        |FROM (SELECT doc_id, text, se, 1 + (n - 1) // se AS k
        |  FROM (SELECT doc_id, text, n_chars % 50 + 10 AS n, doc_id % 7 + 1 AS se
        |    FROM documents) t) u""".stripMargin)),
    Key("mm_phash", (s, d) => Multimodal.phash(s, d), Sql(
      s"""WITH $phashPairsCtes
         |SELECT doc_a, doc_b, hamming FROM pp""".stripMargin)),
    Key("mm_dedup_clusters", (s, d) => Multimodal.phashClusters(s, d), Sql(
      s"""WITH RECURSIVE $phashPairsCtes,
         |pe AS (SELECT doc_a AS u, doc_b AS v FROM pp UNION SELECT doc_b, doc_a FROM pp),
         |pn AS (SELECT DISTINCT u AS node FROM pe),
         |preach AS (SELECT node, node AS r FROM pn
         |  UNION SELECT preach.node, pe.v AS r FROM preach JOIN pe ON pe.u = preach.r),
         |pcc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM preach GROUP BY node)
         |SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
         |FROM pcc""".stripMargin), eager = Some(Rounds)),
    Key("mm_av_sync", (s, d) => Multimodal.avSync(s, d), Sql(
      """SELECT doc_id, audio_us, video_us, video_us - audio_us AS drift_us,
        |  abs(video_us - audio_us) <= 1000000 AS in_sync
        |FROM (SELECT doc_id,
        |    CAST((dl // (ch * 2)) * 1000000 // rate AS BIGINT) AS audio_us,
        |    CAST(CASE WHEN dl IS NULL THEN NULL
        |         ELSE dur * 1000000 // tsc END AS BIGINT) AS video_us
        |  FROM (SELECT doc_id,
        |      (doc_id % 2 + 1) AS ch,
        |      CASE WHEN lang = 'en' THEN 16000 WHEN lang = 'de' THEN 44100
        |           WHEN lang = 'es' THEN 8000 ELSE 22050 END AS rate,
        |      strlen(text) - strlen(text) % ((doc_id % 2 + 1) * 2) AS dl,
        |      CASE WHEN lang = 'en' THEN 90000 WHEN lang = 'de' THEN 600
        |           WHEN lang = 'es' THEN 1000 ELSE 30000 END AS tsc,
        |      (n_chars * 3 + doc_id) % 100000 AS dur
        |    FROM documents) t) u""".stripMargin)),
    // B. streaming relay (Structured Streaming, driven to completion)
    Key("stream_relay", graft.streaming.StreamRelay.windowedRelay _, Sql(
      """SELECT make_timestamp((epoch_ms(ts) // 300000) * 300000 * 1000) AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bytes_total
        |FROM events GROUP BY 1, 2""".stripMargin), twin = true),
    // D. streaming incremental dedup: the documents corpus as two
    // micro-batches through the stateful LSH band index; it recovers
    // the batch minhashEstimate pair set (same hashes, same agree/16
    // estimate) only if batch-2 arrivals are caught against batch-1
    // state
    Key("dedup_stream", (s, d) => graft.streaming.StreamDedup.streamedDedup(s, d),
      SameAs("dedup_minhash_est"), twin = true),
    // D. streaming exact dedup: keeper state per content hash; the
    // arrival log aggregates to the batch dedup_exact result only if
    // batch-2 copies hit batch-1 state
    Key("dedup_exact_stream", graft.streaming.StreamDedup.streamedExactDedup _,
      SameAs("dedup_exact"), twin = true),
    // D. streaming URL dedup: order-free (min, count) cells per
    // (canonical, raw URL) as a complete-mode streaming aggregation;
    // the census row per canonical URL assembles from the final cells
    Key("dedup_url_stream", graft.streaming.StreamUrlDedup.streamedUrlDedup _,
      SameAs("dedup_url"), twin = true),
    // B. streaming sessionization: the events table as two median-
    // time micro-batches + a sentinel barrier through per-user open-
    // session state; aggregates to the batch session_windows result
    // only if straddling sessions continue from cross-batch state
    Key("stream_sessions", (s, d) => graft.streaming.StreamSessions.streamedSessions(s, d),
      SameAs("session_windows"), twin = true),
    // B. streaming budget: the events table as two median-time micro-
    // batches through per-user integer-cents state; aggregates to the
    // batch data_budget result only if budget state carries across
    // batches
    Key("stream_budget", (s, d) => graft.streaming.StreamRelay.streamedBudget(s, d),
      SameAs("data_budget"), twin = true),
    // B. streaming queue-TTL lifetime accounting: pending unsent
    // messages held in per-stream state until the next good send
    // slot classifies them; shares queue_ttl's oracle, so cross-batch
    // pending state is gate-checked, not just spec-checked
    Key("stream_ttl", (s, d) => graft.streaming.StreamTtl.streamedTtl(s, d),
      SameAs("queue_ttl"), twin = true),
    // B. stream-stream interval join: control and data streams joined
    // on key + time bound with watermark-evicted buffers; the staged
    // split guarantees at least one match must come from cross-batch
    // state. The oracle is the equivalent batch range join: every
    // streamed match (incl. the forced cross-batch one) must appear
    // exactly once
    Key("stream_join", (s, d) => graft.streaming.StreamJoin.streamedJoin(s, d), Sql(
      """SELECT d.event_id, d.user_id, d.ts, c.event_id AS ctl_event_id,
        |  c.event_type AS ctl_type,
        |  epoch_us(d.ts) - epoch_us(c.ts) AS delay_us
        |FROM events d JOIN events c ON d.user_id = c.user_id
        |WHERE c.event_type IN ('signup', 'error')
        |  AND d.event_type NOT IN ('signup', 'error')
        |  AND c.ts >= d.ts - INTERVAL 10 MINUTE AND c.ts <= d.ts""".stripMargin), twin = true),
    // stream-static broadcast enrichment: live purchases joined per
    // micro-batch against the per-user batch profile, stateless
    Key("stream_enrich", (s, d) => graft.streaming.StreamEnrich.streamedEnrich(s, d), Sql(
      """WITH prof AS (SELECT user_id, COUNT(*) AS hist_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS hist_value
        |  FROM events GROUP BY user_id)
        |SELECT e.user_id, COUNT(*) AS n_purchases,
        |  MAX(p.hist_events) AS hist_events, MAX(p.hist_value) AS hist_value
        |FROM events e JOIN prof p ON e.user_id = p.user_id
        |WHERE e.event_type = 'purchase'
        |GROUP BY e.user_id""".stripMargin), twin = true),
    // B. watermarked tumbling-window aggregation in append mode:
    // shares beacon_5min's oracle — the once-per-closed-window
    // emission must equal the batch groupBy exactly, including
    // windows whose rows straddle the micro-batch cut
    Key("stream_beacon", (s, d) => graft.streaming.StreamBeacon.streamedBeacon(s, d),
      SameAs("beacon_5min"), twin = true),
    // B/G. streaming OHLC candles: day windows keyed by event_type in
    // append mode + a sink-side lag view for the close delta; shares
    // ts_ohlc's oracle — candles straddling the micro-batch cut must
    // carry window state across it
    Key("stream_ohlc", (s, d) => graft.streaming.StreamOhlc.streamedOhlc(s, d),
      SameAs("ts_ohlc"), twin = true),
    // B. streaming last-touch attribution: O(1)-per-user touch state
    // in flatMapGroupsWithState; shares events_attribution's oracle —
    // batch-2 purchases must credit batch-1 touches from state
    Key("stream_attribution", (s, d) => graft.streaming.StreamAttribution.streamedAttribution(s, d),
      SameAs("events_attribution"), twin = true),
    // streaming funnel: a typed Aggregator per user as a complete-mode
    // streaming aggregation — batch-2 signups must retroactively
    // legitimize batch-1 purchases
    Key("stream_funnel", (s, d) => graft.streaming.StreamFunnel.streamedFunnel(s, d),
      SameAs("events_funnel"), twin = true),
    // a batch-2 alert must see batch-1 state to suppress correctly
    Key("stream_alerts", (s, d) => graft.streaming.StreamAlerts.streamedAlerts(s, d),
      SameAs("events_alerts"), twin = true),
  )

  lazy val byName: Map[String, Key] = {
    val m = table.map(k => k.name -> k).toMap
    require(m.size == table.size, "a key name is listed twice")
    m
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    table.map(k => k.name -> k.run).toMap

  /** Each key's DuckDB SQL, with identical output column names and
    * engine-exact semantics (SURVEY §5). */
  lazy val oracleSql: Map[String, String] = {
    def sql(k: Key): String = k.oracle match {
      case Sql(text) => text
      case SameAs(b) => sql(byName(b))
    }
    table.map(k => k.name -> sql(k)).toMap
  }

  /** DuckDB fragment: the polynomial hash of SURVEY §5 (mirrors
    * graft.functions.HashFns.polyHash). */
  private def ph(s: String): String =
    // NULL-preserving like Spark's native polyHash: DuckDB's
    // list_prepend(0, string_split(NULL)) would otherwise collapse
    // ph(NULL) to 0 = ph('') and merge the NULL-text group with the
    // empty-text group (r10 documents-adversarial finding)
    s"CASE WHEN $s IS NULL THEN NULL ELSE list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split($s,''), c -> CAST(ascii(c) AS BIGINT))), (h,c) -> (h*31+c) % 1000000007) END"

  /** DuckDB CTEs replaying TextAnalysis.winnowArrays (k=8, w=4) down
    * to `w (doc_id, hs, mins)` — shared by the text_winnow and
    * decontaminate_winnow oracles. */
  private def winnowCtes: String =
    s"""b AS (SELECT doc_id, lower(text) AS lc FROM documents),
       |g AS (SELECT doc_id, CASE WHEN length(lc) >= 8
       |    THEN list_transform(range(1, length(lc)-6), i -> ${ph("substr(lc, CAST(i AS INT), 8)")})
       |    ELSE CAST([] AS BIGINT[]) END AS hs FROM b),
       |w AS (SELECT doc_id, hs, CASE
       |    WHEN len(hs) >= 4 THEN list_transform(range(1, len(hs)-2),
       |      j -> list_min(list_slice(hs, CAST(j AS INT), CAST(j+3 AS INT))))
       |    WHEN len(hs) > 0 THEN [list_min(hs)]
       |    ELSE CAST([] AS BIGINT[]) END AS mins FROM g)""".stripMargin

  /** DuckDB fragment: 8-bit × 8-bit Morton interleave of columns
    * x and y (mirrors Curation.zorder's bit arithmetic). */
  private def zTerms: String =
    (0 until 8).map(i =>
      s"(((x >> $i) & 1) * ${1L << (2 * i)} + ((y >> $i) & 1) * ${1L << (2 * i + 1)})")
      .mkString(" + ")

  /** DuckDB fragment: fixed-order dot product (mirrors VecFns.dot). */
  private def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,64), i -> CAST($a[i+1] AS DOUBLE)*CAST($b[i+1] AS DOUBLE))), (x,y) -> x+y)"

  /** NULL-norm guard mirrors VecFns.norm: a zero vector's cosine is
    * NULL in both engines (Spark 0/0 on doubles is NaN, DuckDB is
    * NULL — without the shared guard the engines diverge). */
  private def cos(a: String, b: String): String =
    s"(${dot(a, b)} / ((CASE WHEN ${dot(a, a)} > 0 THEN sqrt(${dot(a, a)}) END) * (CASE WHEN ${dot(b, b)} > 0 THEN sqrt(${dot(b, b)}) END)))"

  /** dot/cos over the first n dims (embed_truncate_eval's slices). */
  private def dotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,$n), i -> CAST($a[i+1] AS DOUBLE)*CAST($b[i+1] AS DOUBLE))), (x,y) -> x+y)"
  private def cosN(a: String, b: String, n: Int): String =
    s"(${dotN(a, b, n)} / ((CASE WHEN ${dotN(a, a, n)} > 0 THEN sqrt(${dotN(a, a, n)}) END) * (CASE WHEN ${dotN(b, b, n)} > 0 THEN sqrt(${dotN(b, b, n)}) END)))"

  /** DuckDB fragments for the PQ oracle: sub-space slice and
    * fold-exact squared L2 (elements cast to double BEFORE the
    * subtraction, mirroring Similarity.pqTopK). */
  /** DuckDB CTE chain for ann_ivfopq: the ann_opq variance-ranked
    * serpentine permutation gathers each vector into a contiguous-
    * per-subspace float list `pe`, then the ivfpq chain runs with pe
    * in the PQ tiers (coarse IVF stays on the raw vector — a
    * permutation never changes cosine). */
  private def ivfopqCtes(k: Int): String =
    s"""oqz AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv64 FROM embeddings),
       |odvs AS (SELECT i, COUNT(*) AS n, SUM(CAST(qv64[i+1] AS HUGEINT)) AS s,
       |    SUM(CAST(qv64[i+1] AS HUGEINT) * qv64[i+1]) AS ss
       |  FROM oqz, range(0,64) t(i) GROUP BY i),
       |ork AS (SELECT i, ROW_NUMBER() OVER (ORDER BY (n*ss - s*s) DESC, i) - 1 AS r FROM odvs),
       |opm AS (SELECT i, r // 4 AS pos,
       |    CASE WHEN (r // 4) % 2 = 0 THEN r % 4 ELSE 3 - (r % 4) END AS sub FROM ork),
       |operm AS (SELECT e.vec_id, list(e.embedding[opm.i+1] ORDER BY opm.sub, opm.pos) AS pe
       |  FROM embeddings e, opm GROUP BY e.vec_id),
       |c AS (SELECT e.vec_id AS cid, e.embedding AS cvec, p.pe AS cpe
       |  FROM embeddings e JOIN operm p ON p.vec_id = e.vec_id WHERE e.vec_id < 16),
       |scored AS (SELECT e.vec_id, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
       |  FROM embeddings e CROSS JOIN c),
       |assign AS (SELECT cid, vec_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
       |  WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z
       |  WHERE rn <= 4),
       |ep AS (SELECT e.vec_id, c.cid,
       |    ${pqSd(pqSub("e.pe", 0), pqSub("c.cpe", 0))} AS d0,
       |    ${pqSd(pqSub("e.pe", 1), pqSub("c.cpe", 1))} AS d1,
       |    ${pqSd(pqSub("e.pe", 2), pqSub("c.cpe", 2))} AS d2,
       |    ${pqSd(pqSub("e.pe", 3), pqSub("c.cpe", 3))} AS d3
       |  FROM operm e CROSS JOIN c),
       |codes AS (SELECT vec_id,
       |    struct_extract(min({'d': d0, 'c': cid}), 'c') AS c0,
       |    struct_extract(min({'d': d1, 'c': cid}), 'c') AS c1,
       |    struct_extract(min({'d': d2, 'c': cid}), 'c') AS c2,
       |    struct_extract(min({'d': d3, 'c': cid}), 'c') AS c3
       |  FROM ep GROUP BY vec_id),
       |lp AS (SELECT e.vec_id AS query_id, c.cid,
       |    ${pqSd(pqSub("e.pe", 0), pqSub("c.cpe", 0))} AS q0,
       |    ${pqSd(pqSub("e.pe", 1), pqSub("c.cpe", 1))} AS q1,
       |    ${pqSd(pqSub("e.pe", 2), pqSub("c.cpe", 2))} AS q2,
       |    ${pqSd(pqSub("e.pe", 3), pqSub("c.cpe", 3))} AS q3
       |  FROM operm e CROSS JOIN c WHERE e.vec_id < 10),
       |luta AS (SELECT query_id,
       |    list(q0 ORDER BY cid) AS a0, list(q1 ORDER BY cid) AS a1,
       |    list(q2 ORDER BY cid) AS a2, list(q3 ORDER BY cid) AS a3
       |  FROM lp GROUP BY query_id),
       |sc2 AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    a0[CAST(c0+1 AS INT)] + a1[CAST(c1+1 AS INT)] + a2[CAST(c2+1 AS INT)] + a3[CAST(c3+1 AS INT)] AS approx_dist
       |  FROM probes p JOIN assign a USING (cid)
       |  JOIN codes x ON x.vec_id = a.vec_id
       |  JOIN luta l ON l.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id),
       |ipq AS (SELECT query_id, neighbor_id, approx_dist, rnk FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc2) t
       |WHERE rnk <= $k)""".stripMargin

  private def pqSub(e: String, mi: Int): String =
    s"list_slice($e, ${mi * 16 + 1}, ${(mi + 1) * 16})"
  private def pqSd(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,16), i -> " +
      s"(CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)) * (CAST($a[i+1] AS DOUBLE) - CAST($b[i+1] AS DOUBLE)))), (x,y) -> x+y)"

  /** DuckDB CTE chain replaying Similarity.ivfpqTopK down to `ipq
    * (query_id, neighbor_id, approx_dist, rnk)`, ADC top-`k` per
    * query — shared by the ann_ivfpq oracle (k=5) and the ann_refine
    * oracle (k=10 candidates re-ranked by exact cosine). */
  private def ivfpqCtes(k: Int): String =
    s"""c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 16),
       |scored AS (SELECT e.vec_id, e.embedding, c.cid, ${cos("e.embedding", "c.cvec")} AS ccos
       |  FROM embeddings e CROSS JOIN c),
       |assign AS (SELECT cid, vec_id FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored) z
       |  WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cid FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored WHERE vec_id < 10) z
       |  WHERE rn <= 4),
       |ep AS (SELECT e.vec_id, c.cid,
       |    ${pqSd(pqSub("e.embedding", 0), pqSub("c.cvec", 0))} AS d0,
       |    ${pqSd(pqSub("e.embedding", 1), pqSub("c.cvec", 1))} AS d1,
       |    ${pqSd(pqSub("e.embedding", 2), pqSub("c.cvec", 2))} AS d2,
       |    ${pqSd(pqSub("e.embedding", 3), pqSub("c.cvec", 3))} AS d3
       |  FROM embeddings e CROSS JOIN c),
       |codes AS (SELECT vec_id,
       |    struct_extract(min({'d': d0, 'c': cid}), 'c') AS c0,
       |    struct_extract(min({'d': d1, 'c': cid}), 'c') AS c1,
       |    struct_extract(min({'d': d2, 'c': cid}), 'c') AS c2,
       |    struct_extract(min({'d': d3, 'c': cid}), 'c') AS c3
       |  FROM ep GROUP BY vec_id),
       |lp AS (SELECT e.vec_id AS query_id, c.cid,
       |    ${pqSd(pqSub("e.embedding", 0), pqSub("c.cvec", 0))} AS q0,
       |    ${pqSd(pqSub("e.embedding", 1), pqSub("c.cvec", 1))} AS q1,
       |    ${pqSd(pqSub("e.embedding", 2), pqSub("c.cvec", 2))} AS q2,
       |    ${pqSd(pqSub("e.embedding", 3), pqSub("c.cvec", 3))} AS q3
       |  FROM embeddings e CROSS JOIN c WHERE e.vec_id < 10),
       |luta AS (SELECT query_id,
       |    list(q0 ORDER BY cid) AS a0, list(q1 ORDER BY cid) AS a1,
       |    list(q2 ORDER BY cid) AS a2, list(q3 ORDER BY cid) AS a3
       |  FROM lp GROUP BY query_id),
       |sc2 AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |    a0[CAST(c0+1 AS INT)] + a1[CAST(c1+1 AS INT)] + a2[CAST(c2+1 AS INT)] + a3[CAST(c3+1 AS INT)] AS approx_dist
       |  FROM probes p JOIN assign a USING (cid)
       |  JOIN codes x ON x.vec_id = a.vec_id
       |  JOIN luta l ON l.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id),
       |ipq AS (SELECT query_id, neighbor_id, approx_dist, rnk FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_dist, neighbor_id) AS BIGINT) AS rnk
       |  FROM sc2) t
       |WHERE rnk <= $k)""".stripMargin

  /** DuckDB CTE chain producing the verified MinHash candidate pairs
    * (doc_a, doc_b, jaccard >= 0.2) as `vp` — shared by the
    * dedup_minhash oracle and the dedup_clusters recursive-CTE
    * oracle so both gate the same pair set. */
  private def minhashPairsCtes: String =
    s"""toks AS (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
       |  THEN list_transform(range(1, len(t)-1), i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
       |  ELSE [array_to_string(t, ' ')] END) AS shingles FROM toks),
       |hs AS (SELECT doc_id, shingles, list_transform(shingles, s -> ${ph("s")}) AS hh FROM sh),
       |mh AS (SELECT doc_id, list_transform(range(0,16), j ->
       |  list_min(list_transform(hh, h -> (CAST(37 + 101*j AS BIGINT)*h + CAST(1000003*j + 12345 AS BIGINT)) % 2147483647))) AS m FROM hs),
       |mhallbands AS (SELECT doc_id, b, list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(m, 4*b+1, 4*b+4)), (h,x) -> (h*31+x) % 1000000007) AS bkey
       |  FROM mh, UNNEST(range(0,4)) AS tb(b)),
       |mhrare AS (SELECT b, bkey FROM mhallbands GROUP BY b, bkey HAVING COUNT(*) <= 200),
       |bands AS (SELECT mhallbands.* FROM mhallbands JOIN mhrare USING (b, bkey)),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |vp AS (SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT p.doc_a, p.doc_b,
       |    CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) /
       |    CAST(len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE) AS jaccard
       |  FROM pairs p JOIN sh sa ON sa.doc_id = p.doc_a JOIN sh sb ON sb.doc_id = p.doc_b) t
       |WHERE jaccard >= 0.2)""".stripMargin

  /** Extends the pair CTEs to connected components (`cc`): symmetric
    * edges → reachability closure → min-label component per node. */
  private def clusterCtes: String =
    s"""$minhashPairsCtes,
       |e AS (SELECT doc_a AS u, doc_b AS v FROM vp UNION SELECT doc_b, doc_a FROM vp),
       |nodes AS (SELECT DISTINCT u AS node FROM e),
       |reach AS (SELECT node, node AS r FROM nodes
       |  UNION SELECT reach.node, e.v AS r FROM reach JOIN e ON e.u = reach.r),
       |cc AS (SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node)""".stripMargin

  /** DuckDB fragment: the mm_phash banded-Hamming candidate pairs
    * (`pp`), shared by mm_phash and mm_dedup_clusters — the ahash /
    * band / stop-bucket dials restate Multimodal.phash. */
  private val phashPairsCtes: String =
    """bytes AS (SELECT doc_id,
      |    list_transform(range(0, LEAST(strlen(text), 62)),
      |      i -> CAST(('0x' || substr(hex(encode(text)), 2*i+1, 2)) AS BIGINT)) AS bs
      |  FROM documents WHERE strlen(text) >= 1),
      |sums AS (SELECT doc_id, bs,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), bs), (a,b) -> a+b) AS s,
      |    CAST(len(bs) AS BIGINT) AS n FROM bytes),
      |ah AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, n), i -> CASE WHEN bs[i+1] > (s // n)
      |      THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)), (a,x) -> a+x) AS ahash
      |  FROM sums),
      |allbands AS (SELECT doc_id, ahash, b, ((ahash >> (16*b)) & 65535) AS bkey
      |  FROM ah, UNNEST(range(0,4)) AS tb(b)),
      |rare AS (SELECT b, bkey FROM allbands GROUP BY b, bkey HAVING COUNT(*) <= 200),
      |bands AS (SELECT allbands.* FROM allbands JOIN rare USING (b, bkey)),
      |pp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 8)""".stripMargin

  /** DuckDB fragment: adaptive-width hyperplane signatures CTE
    * (mirrors Similarity.sigBuckets / VecFns.lshSignature): width =
    * smallest p in [4,24] with 2^p*200 >= N (integer predicate,
    * engine-exact), hot buckets > 800 dropped (stop-band). */
  private val sigsCte: String =
    """nplanes AS (SELECT MIN(p) AS planes
      |  FROM UNNEST(range(4,25)) AS tpl(p), (SELECT COUNT(*) AS n FROM embeddings) cn
      |  WHERE (CAST(1 AS BIGINT) << p) * 200 >= cn.n),
      |allsigs AS (
      |  SELECT vec_id, embedding, CAST(SUM(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig FROM (
      |    SELECT vec_id, embedding, p,
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,64), d ->
      |        CAST(embedding[d+1] AS DOUBLE) * CAST(((1 + (p*64+d)*2654435761) % 1000003) - 500001 AS DOUBLE))), (a,t) -> a+t) AS proj
      |    FROM embeddings, nplanes, UNNEST(range(0, planes)) AS tp(p)) q
      |  GROUP BY vec_id, embedding),
      |sigrare AS (SELECT sig FROM allsigs GROUP BY sig HAVING COUNT(*) <= 800),
      |sigs AS (SELECT allsigs.* FROM allsigs JOIN sigrare USING (sig))""".stripMargin

  /** Multi-table (OR-construction) variant of sigsCte:
    * GREATEST(4, planes) independent hyperplane tables (the r11
    * adaptive width — Similarity.adaptiveTables), table t's plane p
    * drawing coefficients at global plane index t·planes+p — mirrors
    * Similarity.sigBucketsMulti / VecExprs.lshSig(v, planes, t·planes)
    * exactly. */
  private val msigsCte: String =
    """nplanes AS (SELECT MIN(p) AS planes
      |  FROM UNNEST(range(4,25)) AS tpl(p), (SELECT COUNT(*) AS n FROM embeddings) cn
      |  WHERE (CAST(1 AS BIGINT) << p) * 200 >= cn.n),
      |mallsigs AS (
      |  SELECT vec_id, embedding, t, CAST(SUM(CASE WHEN proj > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig FROM (
      |    SELECT vec_id, embedding, t, p,
      |      list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,64), d ->
      |        CAST(embedding[d+1] AS DOUBLE) * CAST(((1 + ((t*planes+p)*64+d)*2654435761) % 1000003) - 500001 AS DOUBLE))), (a,x) -> a+x) AS proj
      |    FROM embeddings, nplanes, UNNEST(range(0, GREATEST(4, planes))) AS tt(t), UNNEST(range(0, planes)) AS tp(p)) q
      |  GROUP BY vec_id, embedding, t),
      |mcap AS (SELECT GREATEST(800, n // 30) AS cap FROM (SELECT COUNT(*) AS n FROM embeddings) t),
      |mrare AS (SELECT t, sig FROM mallsigs, mcap GROUP BY t, sig, cap HAVING COUNT(*) <= cap),
      |msigs AS (SELECT mallsigs.* FROM mallsigs JOIN mrare USING (t, sig))""".stripMargin

  /** Multi-probe expansion of msigs' query side — mirrors
    * Similarity.probeMasks exactly: (i, j, l) = (0, 0, 0) is the
    * vector's own bucket, (0, 0, l>0) flips hyperplane l−1
    * (Hamming 1), from 6 planes up (0, 0<j<l) flips the pair
    * (j−1, l−1) (Hamming 2 — the r11 adaptive probe depth), and from
    * 10 planes up (0<i<j<l) flips the triple (i−1, j−1, l−1)
    * (Hamming 3 — the r13 100x width step). The index side of the
    * join stays msigs (probing never widens the index, only the
    * lookup fan-out). */
  private val mprobesCte: String =
    """mprobes AS (SELECT vec_id, embedding, t,
      |    CASE WHEN i = 0 AND j = 0 AND l = 0 THEN sig
      |         WHEN i = 0 AND j = 0 THEN xor(sig, CAST(1 AS BIGINT) << (l - 1))
      |         WHEN i = 0 THEN xor(sig, (CAST(1 AS BIGINT) << (j - 1)) | (CAST(1 AS BIGINT) << (l - 1)))
      |         ELSE xor(sig, (CAST(1 AS BIGINT) << (i - 1)) | (CAST(1 AS BIGINT) << (j - 1)) | (CAST(1 AS BIGINT) << (l - 1))) END AS sig
      |  FROM msigs, nplanes, UNNEST(range(0, planes + 1)) AS ti(i), UNNEST(range(0, planes + 1)) AS tj(j), UNNEST(range(0, planes + 1)) AS tl(l)
      |  WHERE (i = 0 AND j = 0)
      |     OR (i = 0 AND planes >= 6 AND 0 < j AND j < l)
      |     OR (planes >= 10 AND 0 < i AND i < j AND j < l))""".stripMargin

  /** Shared by q_asof (union+window shape) and q_asof_native (custom
    * Catalyst operator) — both must produce identical results. */
  private val asOfSql: String =
    """SELECT e.event_id, e.user_id, e.ts, d.o_orderdate AS last_order_date, d.day_total AS last_day_total
      |FROM events e ASOF LEFT JOIN (
      |  SELECT o_custkey, o_orderdate,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
      |  FROM orders GROUP BY o_custkey, o_orderdate) d
      |ON e.user_id = d.o_custkey AND e.ts >= d.o_orderdate""".stripMargin

  /** The langid marker-count prediction, shared by `text_langid`
    * (row-level verdicts) and `text_langid_eval` (the confusion
    * matrix over the same predictions). Yields (doc_id, lang,
    * pred_lang). */
  private val langidPredSql: String =
    """SELECT doc_id, lang,
      |    CASE WHEN c_de = mx THEN 'de' WHEN c_en = mx THEN 'en' WHEN c_es = mx THEN 'es'
      |         WHEN c_fr = mx THEN 'fr' WHEN c_zh = mx THEN 'zh' ELSE 'und' END AS pred_lang
      |  FROM (SELECT doc_id, lang, c_de, c_en, c_es, c_fr, c_zh, greatest(c_de, c_en, c_es, c_fr, c_zh) AS mx FROM (
      |    SELECT doc_id, lang,
      |      len(list_filter(toks, x -> x='der' OR x='und' OR x='die' OR x='nicht' OR x='das')) AS c_de,
      |      len(list_filter(toks, x -> x='the' OR x='and' OR x='of' OR x='to' OR x='is')) AS c_en,
      |      len(list_filter(toks, x -> x='el' OR x='la' OR x='de' OR x='que' OR x='los')) AS c_es,
      |      len(list_filter(toks, x -> x='le' OR x='la' OR x='et' OR x='les' OR x='des')) AS c_fr,
      |      len(list_filter(toks, x -> x='de' OR x='shi' OR x='le' OR x='wo' OR x='bu')) AS c_zh
      |    FROM (SELECT doc_id, lang, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents) a) b) c""".stripMargin

  /** DuckDB fragment: fold-exact squared L2 between two DOUBLE lists
    * (mirrors Similarity.kmeans' sqDist — same sequential order). */
  private def kmDist(a: String, b: String): String = kmDistN(a, b, 64)

  /** DuckDB CTE chain replaying TextAnalysis.topics (k=4, 2 rounds)
    * down to `ka(doc_id, c1, cluster)` — shared by the text_topics
    * oracle and the corpus_topic_balance contingency so both gate
    * the same clustering. */
  private def topicsAssignCtes: String =
    s"""toks AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(lower(text), '\\s+')) AS term FROM documents),
       |tb AS (SELECT doc_id, ${ph("term")} % 64 AS b, COUNT(*) AS tf
       |  FROM toks GROUP BY 1, 2),
       |ids AS (SELECT DISTINCT doc_id FROM tb),
       |cell AS (SELECT i.doc_id, r.i, CAST(COALESCE(tb.tf, 0) AS BIGINT) AS x
       |  FROM ids i CROSS JOIN range(0, 64) r(i)
       |  LEFT JOIN tb ON tb.doc_id = i.doc_id AND tb.b = r.i),
       |q AS (SELECT doc_id, list(x ORDER BY i) AS qv FROM cell GROUP BY doc_id),
       |qd AS (SELECT doc_id, qv, list_transform(qv, v -> CAST(v AS DOUBLE)) AS dvv FROM q),
       |seeds AS (SELECT doc_id AS cid, list_transform(qv, v -> CAST(v AS DOUBLE)) AS cvec
       |  FROM q WHERE doc_id < 4),
       |d1 AS (SELECT a.doc_id, a.qv, s.cid, ${kmDist("a.dvv", "s.cvec")} AS d
       |  FROM qd a CROSS JOIN seeds s),
       |a1 AS (SELECT doc_id, qv, cid AS c1 FROM (
       |  SELECT doc_id, qv, cid,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY d, cid) AS rn FROM d1) x
       |  WHERE rn = 1),
       |m2 AS (SELECT c1 AS cid, pos, CAST(SUM(v) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean
       |  FROM (SELECT c1, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1) e
       |  GROUP BY cid, pos),
       |c2 AS (SELECT cid, list(mean ORDER BY pos) AS cvec FROM m2 GROUP BY cid),
       |d2 AS (SELECT a.doc_id, a.c1, c.cid, ${kmDist("a.dv2", "c.cvec")} AS d
       |  FROM (SELECT doc_id, c1, list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv2 FROM a1) a
       |  CROSS JOIN c2 c),
       |ka AS (SELECT doc_id, c1, cid AS cluster FROM (
       |  SELECT doc_id, c1, cid,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY d, cid) AS rn FROM d2) y
       |  WHERE rn = 1)""".stripMargin

  /** One BPE training round as DuckDB CTEs: pair census over the
    * previous round's symbol table, lexicographic-tiebreak argmax,
    * then the greedy rewrite via the run-parity rule — within a
    * maximal run of consecutive match positions, greedy left-to-right
    * merges exactly the even offsets (merging i consumes i+1), so
    * islands + row parity reproduce the native scan's selection. */
  private def bpeRoundCtes(r: Int): String = {
    val prev = if (r == 1) "s0" else s"s${r - 1}"
    s"""e$r AS (SELECT word, freq, syms, unnest(syms) AS sym,
       |    CAST(generate_subscripts(syms, 1) AS BIGINT) AS i FROM $prev),
       |p$r AS (SELECT sym AS a, syms[i + 1] AS b, CAST(SUM(freq) AS BIGINT) AS n
       |  FROM e$r WHERE i < len(syms) GROUP BY 1, 2),
       |t$r AS (SELECT a, b, n FROM p$r ORDER BY n DESC, a, b LIMIT 1),
       |mm$r AS (SELECT e.word, e.i FROM e$r e CROSS JOIN t$r t
       |  WHERE e.i < len(e.syms) AND e.sym = t.a AND e.syms[e.i + 1] = t.b),
       |kk$r AS (SELECT word, list(i) AS ks FROM (
       |  SELECT word, i, ROW_NUMBER() OVER (PARTITION BY word, grp ORDER BY i) AS rn
       |  FROM (SELECT word, i, i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
       |        FROM mm$r) g) h
       |  WHERE (rn - 1) % 2 = 0 GROUP BY word),
       |s$r AS (SELECT e.word, MAX(e.freq) AS freq,
       |    list(CASE WHEN list_contains(COALESCE(k.ks, []::BIGINT[]), e.i)
       |              THEN e.sym || e.syms[e.i + 1] ELSE e.sym END ORDER BY e.i)
       |      FILTER (WHERE NOT list_contains(COALESCE(k.ks, []::BIGINT[]), e.i - 1)) AS syms
       |  FROM e$r e LEFT JOIN kk$r k ON k.word = e.word
       |  GROUP BY e.word)""".stripMargin
  }

  /** Fixed-order squared L2 over the first `n` coordinates — the
    * DuckDB replay of the native SqDistLD fold (index order 0..n−1,
    * one running double sum). */
  private def kmDistN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0,$n), i -> ($a[i+1]-$b[i+1])*($a[i+1]-$b[i+1]))), (x,y) -> x+y)"

  /** DuckDB CTE chain replaying Similarity.kmeans (k=8, 2 rounds)
    * down to the final per-vector assignment `ka(vec_id, c1,
    * cluster)` — shared by the embed_kmeans oracle and the
    * dedup_semdedup oracle so both gate the same clustering. */
  private def kmeansAssignCtes: String =
    s"""q AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qd AS (SELECT vec_id, qv, list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv FROM q),
       |seeds AS (SELECT vec_id AS cid, list_transform(qv, v -> CAST(v AS DOUBLE)) AS cvec
       |  FROM q WHERE vec_id < 8),
       |d1 AS (SELECT a.vec_id, a.qv, s.cid, ${kmDist("a.dv", "s.cvec")} AS d
       |  FROM qd a CROSS JOIN seeds s),
       |a1 AS (SELECT vec_id, qv, cid AS c1 FROM (
       |  SELECT vec_id, qv, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1) x
       |  WHERE rn = 1),
       |m2 AS (SELECT c1 AS cid, pos, CAST(SUM(v) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean
       |  FROM (SELECT c1, unnest(qv) AS v, generate_subscripts(qv, 1) AS pos FROM a1) e
       |  GROUP BY cid, pos),
       |c2 AS (SELECT cid, list(mean ORDER BY pos) AS cvec FROM m2 GROUP BY cid),
       |d2 AS (SELECT a.vec_id, a.c1, c.cid, ${kmDist("a.dv2", "c.cvec")} AS d
       |  FROM (SELECT vec_id, c1, list_transform(qv, v -> CAST(v AS DOUBLE)) AS dv2 FROM a1) a
       |  CROSS JOIN c2 c),
       |ka AS (SELECT vec_id, c1, cid AS cluster FROM (
       |  SELECT vec_id, c1, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2) y
       |  WHERE rn = 1)""".stripMargin
}
