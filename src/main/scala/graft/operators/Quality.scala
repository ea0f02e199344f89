package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.sources.Tables

/** Data-quality operators — the admission control in front of every
  * 100 TB ingest: constraint profiling (which expectations fail, how
  * often) and referential-integrity auditing (orphaned children).
  * Both are reporting shapes: they tell the pipeline WHAT to
  * quarantine; the quarantine itself is a filter on the same flags.
  */
object Quality {

  /** Constraint profile over events (`events_quarantine`): every row
    * is checked against the expectation set in ONE scan — each
    * constraint is a scan-local 0/1 flag, the flags SUM in a single
    * partial-aggregated pass (one row crosses the shuffle), and the
    * "any" row is the quarantine volume (a row failing any
    * expectation goes to the dead-letter path). No per-constraint
    * re-scan: at 100 TB, k expectations still cost one read. The
    * constraint set mixes expectations that fail on real data
    * (value ≥ 1 catches the near-zero readings present at every SF)
    * with ones that hold (known type, valid user, January window) —
    * both directions are informative and both are oracle-gated. */
  def quarantine(spark: SparkSession, dir: String): DataFrame =
    quarantineReport(quarantineCounts(Tables.events(spark, dir)))

  /** The one-row flag sums of [[quarantine]] over events `ev`, shared
    * with the streaming twin (StreamQuarantine). */
  def quarantineCounts(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    val c1 = $"value" < 1.0d
    val c2 = !$"event_type".isin("signup", "click", "view", "purchase", "error")
    val c3 = $"user_id" < 0L
    val c4 = $"ts" < to_timestamp(lit("2024-01-01")) ||
      $"ts" >= to_timestamp(lit("2024-02-01"))
    // the "any" flag is the OR of the conditions, not greatest(flags):
    // GREATEST propagates NULL in ANSI SQL while Spark's skips it — OR
    // three-valued logic behaves identically on both engines
    ev.agg(
      sum(c1.cast(LongType)).as("v1"), sum(c2.cast(LongType)).as("v2"),
      sum(c3.cast(LongType)).as("v3"), sum(c4.cast(LongType)).as("v4"),
      sum((c1 || c2 || c3 || c4).cast(LongType)).as("va"), count(lit(1)).as("n"))
  }

  /** The 5-row explode of [[quarantineCounts]]' one row. */
  def quarantineReport(agg1: DataFrame): DataFrame = {
    import agg1.sparkSession.implicits._
    val rows = Seq("low_value" -> "v1", "unknown_type" -> "v2",
      "invalid_user" -> "v3", "out_of_window" -> "v4", "any" -> "va")
      .map { case (name, c) =>
        struct(lit(name).as("constraint_name"),
          col(c).as("n_violations"), $"n".as("n_rows"))
      }
    agg1.select(explode(array(rows: _*)).as("p")).select($"p.*")
  }

  /** Referential-integrity audit (`dq_orphans`): per foreign key,
    * child volume and orphan count (children whose parent key is
    * missing). Each relation is ONE pass: the child aggregates to
    * distinct keys + counts FIRST (partial-aggregated, so the join
    * sees keys, not rows), then a left join against the parent key
    * set marks misses — at 100 TB the join input is the key
    * cardinality, never the fact-table row count, and dimension-sized
    * parents broadcast. Zero orphans is the EXPECTED healthy result;
    * the per-relation child counts keep the output
    * oracle-distinguishable so a short-circuited audit cannot pass. */
  def orphans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def audit(name: String, childKeys: DataFrame, parentKeys: DataFrame): DataFrame = {
      // childKeys: (k, cnt) per distinct key; parentKeys: (pk)
      childKeys.join(parentKeys, $"k" === $"pk", "left")
        .agg(lit(name).as("fk"),
          sum($"cnt").as("n_child"),
          coalesce(sum(when($"pk".isNull, $"cnt")), lit(0L)).as("n_orphans"))
    }
    val li = Tables.lineitem(spark, dir).groupBy($"l_orderkey".as("k"))
      .agg(count(lit(1)).as("cnt"))
    val ord = Tables.orders(spark, dir)
    val ordKeys = ord.select($"o_orderkey".as("pk"))
    val ordByCust = ord.groupBy($"o_custkey".as("k")).agg(count(lit(1)).as("cnt"))
    val cust = broadcast(Tables.customer(spark, dir).select($"c_custkey".as("pk")))
    val evByUser = Tables.events(spark, dir).groupBy($"user_id".as("k"))
      .agg(count(lit(1)).as("cnt"))
    audit("lineitem->orders", li, ordKeys)
      .unionByName(audit("orders->customer", ordByCust, cust))
      .unionByName(audit("events->customer", evByUser, cust))
  }

  /** Freshness audit (`dq_freshness`): per event stream (event_type),
    * how far behind the corpus high-water mark its newest event is,
    * and how much of its volume arrived in the trailing day — the
    * staleness monitor in front of incremental consumers ("did
    * stream X stop flowing?").
    *
    * The high-water mark is a 1-row global `max` cross-joined back in
    * (a broadcast at any scale, never a window over the raw stream);
    * the trailing-day count rides the SAME single-scan partial
    * aggregation as a conditional sum, so the audit costs one read of
    * the log however many streams it covers. Lag is exact integer µs
    * arithmetic — `div`, not float division. */
  def freshness(spark: SparkSession, dir: String, staleSecs: Long = 86400L): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir).select($"event_type", $"ts")
    val hwm = ev.agg(max($"ts").as("corpus_max"))
    ev.crossJoin(broadcast(hwm))
      .groupBy($"event_type")
      .agg(
        max($"ts").as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(when($"ts" >= $"corpus_max" - expr("INTERVAL 1 DAY"), 1L)
          .otherwise(0L)).as("n_last_day"),
        first($"corpus_max").as("corpus_max"))
      .withColumn("lag_seconds",
        expr("(unix_micros(corpus_max) - unix_micros(last_ts)) div 1000000"))
      .withColumn("is_stale", $"lag_seconds" > staleSecs)
      .select($"event_type", $"last_ts", $"n_events", $"n_last_day",
        $"lag_seconds", $"is_stale")
  }

  /** Benford first-digit audit over lineitem prices (`dq_benford`):
    * the classic fabricated-data screen — real transactional
    * magnitudes follow log-uniform leading digits; a synthetic or
    * tampered feed shows up as a flat (or spiked) digit histogram.
    *
    * Scale shape: the leading digit is extracted scan-local from the
    * DECIMAL STRING rendering (never `floor(log10(x))` — a last-ulp
    * log of a value near a power of ten can flip the digit, and the
    * two engines' log10 are not bit-identical; decimal-to-string is
    * exact on both). One 9-row aggregate; shares divide exact longs;
    * the Benford expectations are 6-dp literals, so the deviation
    * subtraction is deterministic. */
  def benford(spark: SparkSession, dir: String): DataFrame =
    benfordAssembly(benfordCensus(Tables.lineitem(spark, dir)))

  /** The (digit, n_rows) census of [[benford]] over lineitem rows,
    * shared with the streaming twin (StreamBenford). */
  def benfordCensus(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    li.select(substring(dec($"l_extendedprice").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy($"digit")
      .agg(count(lit(1)).as("n_rows"))
  }

  /** The post-census assembly of [[benford]], shared with the
    * streaming twin (StreamBenford): shares, the Benford law
    * expectation, absolute deviation — nine rows of work.
    * `digits` = (digit, n_rows). */
  def benfordAssembly(digits: DataFrame): DataFrame = {
    import digits.sparkSession.implicits._
    val expected = Map(
      1 -> 0.301030d, 2 -> 0.176091d, 3 -> 0.124939d,
      4 -> 0.096910d, 5 -> 0.079181d, 6 -> 0.066947d,
      7 -> 0.057992d, 8 -> 0.051153d, 9 -> 0.045757d)
    val expectedCol = expected.foldLeft(lit(Double.NaN)) {
      case (acc, (d, p)) => when($"digit" === d, lit(p)).otherwise(acc)
    }
    val total = Window.partitionBy(lit(1))
    digits
      .withColumn("share",
        $"n_rows".cast("double") / sum($"n_rows").over(total).cast("double"))
      .withColumn("benford_expected", expectedCol)
      .withColumn("abs_dev", abs($"share" - $"benford_expected"))
      .select($"digit", $"n_rows", $"share", $"benford_expected", $"abs_dev")
  }

  /** Key-uniqueness audit (`dq_uniqueness`): for each CANDIDATE key of
    * the event log — the declared primary key `event_id`, the natural
    * key `(user_id, ts)`, and the wider `(user_id, event_type, ts)` —
    * report how far the data is from satisfying it: distinct key
    * count, violated keys, surplus rows (what a dedup on that key
    * would delete), and the worst multiplicity. This is the
    * constraint-discovery pass in front of MERGE/upsert pipelines
    * (corpus_merge, q_cdc_apply assume a key; this op measures
    * whether the assumption holds before they run).
    *
    * Scale shape: each candidate is a two-level aggregate — groupBy
    * key (partial-aggregated, one row per key per input split crosses
    * the shuffle) then a 1-row rollup; k candidate keys cost k scans
    * of key COLUMNS only (column-pruned to the key itself), never a
    * sort, never a window. The three 1-row results union into the
    * audit report. */
  def uniqueness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    def audit(name: String, keyCols: Seq[String]): DataFrame =
      ev.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("n"))
        .agg(lit(name).as("key_cols"),
          sum($"n").as("n_rows"),
          count(lit(1)).as("n_keys"),
          coalesce(sum(when($"n" > 1L, 1L)), lit(0L)).as("n_dup_keys"),
          (sum($"n") - count(lit(1))).as("n_surplus_rows"),
          max($"n").as("max_multiplicity"))
    audit("event_id", Seq("event_id"))
      .unionByName(audit("user_id,ts", Seq("user_id", "ts")))
      .unionByName(audit("user_id,event_type,ts", Seq("user_id", "event_type", "ts")))
  }

  /** Distribution-drift audit (`dq_drift`): does the event-type mix
    * of the corpus' second half match its first half — the χ²
    * goodness-of-fit check a pipeline runs before concluding "the
    * fleet changed" vs "the mix is stable". Each type reports its
    * observed second-half count against the count the first-half mix
    * predicts, plus its χ² contribution; the deliberately avoided
    * alternative is PSI, whose ln() is not correctly-rounded in
    * either engine's libm — χ² is division and multiplication only,
    * so the statistic is engine-exact from integer counts.
    *
    * Determinism: counts are exact integers; expected_b is ONE
    * double division of two exact integers (n_a·total_b, an integer
    * product computed before any cast, over total_a); the χ² term is
    * a fixed expression tree over already-deterministic doubles.
    * No cross-row float summation anywhere.
    *
    * Scale shape: one scan — the split instant is a 1-row aggregate
    * broadcast into the pass, both half-counts are conditional sums
    * in the SAME partial-aggregated groupBy (≤ #types rows cross the
    * shuffle), and the totals ride a dimension-sized window over the
    * aggregated frame. At 100 TB this is one read + one tiny
    * shuffle, however skewed the stream. */
  def drift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    // integer `div`, not `/`: Column./ on longs is DOUBLE division,
    // and the sum of two µs instants brushes the 2^52 mantissa edge
    val bounds = ev.select(unix_micros($"ts").as("us"))
      .agg(expr("(min(us) + max(us)) div 2").as("cut"))
    val halves = ev.crossJoin(broadcast(bounds))
      .groupBy($"event_type")
      .agg(
        sum(when(unix_micros($"ts") <= $"cut", 1L).otherwise(0L)).as("n_a"),
        sum(when(unix_micros($"ts") > $"cut", 1L).otherwise(0L)).as("n_b"))
    val all = Window.partitionBy()
    val eB = ($"n_a" * sum($"n_b").over(all)).cast(DoubleType) /
      sum($"n_a").over(all)
    halves
      .withColumn("expected_b", eB)
      .withColumn("chi2_term",
        ($"n_b".cast(DoubleType) - $"expected_b") *
          ($"n_b".cast(DoubleType) - $"expected_b") / $"expected_b")
  }

  /** Ingest-volume anomaly gate (`dq_volume`): the events_anomaly 2σ
    * rule applied to AGGREGATES — per (event_type, day) row counts
    * flagged against the type's own daily mean/variance. This is the
    * volume monitor every ingestion pipeline runs ("did Tuesday's
    * partition arrive half-empty? did a producer double-send?"):
    * point-level outlier gates can't see a missing day, because a
    * missing day has no rows to flag.
    *
    * Exactness: counts are integers, so the per-type moment sums
    * (Σn, Σn²) are exact longs and mu/variance reduce to the same
    * two double divisions on both engines — no decimal machinery
    * needed. Scale shape: the corpus collapses to (type, day) counts
    * in one partial-aggregated shuffle (≤ types·days rows); the
    * moment pass and the flag join run on that dimension-sized frame,
    * never the raw stream. */
  def volume(spark: SparkSession, dir: String): DataFrame =
    volumeAssembly(volumeCensus(Tables.events(spark, dir)))

  /** The (event_type, day, n_events) census of [[volume]], shared with
    * the streaming twin (StreamVolume). */
  def volumeCensus(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"))

  /** The post-census assembly of [[volume]], shared with the
    * streaming twin (StreamVolume): per-type day statistics and the
    * 2σ spike verdict — day-dimension-sized, independent of event
    * volume. `daily` = (event_type, day, n_events). */
  def volumeAssembly(daily: DataFrame): DataFrame = {
    import daily.sparkSession.implicits._
    val stats = daily.groupBy($"event_type")
      .agg(count(lit(1)).as("n_days"),
        sum($"n_events").as("s1"),
        sum($"n_events" * $"n_events").as("s2"))
      .select($"event_type", $"n_days",
        ($"s1".cast(DoubleType) / $"n_days".cast(DoubleType)).as("mu"),
        ($"s2".cast(DoubleType) / $"n_days".cast(DoubleType)).as("m2"))
      .withColumn("variance", $"m2" - $"mu" * $"mu")
    val d = daily("n_events").cast(DoubleType) - stats("mu")
    daily.join(stats, "event_type")
      .select($"event_type", $"day", $"n_events", stats("n_days"),
        ((d * d) > (lit(4.0d) * stats("variance"))).as("is_spike"))
  }

  /** Column completeness profile (`dq_completeness`): per column of
    * the event stream, null count, blank count (string columns:
    * non-null but empty/whitespace), and the populated fraction —
    * the first dashboard any ingestion pipeline stands up, and the
    * input to "is this column trustworthy enough to train on".
    *
    * Scale shape: every per-column flag is a scan-local conditional
    * and ALL of them sum in ONE partial-aggregated pass — k columns
    * cost one corpus read and ONE row crosses the shuffle; the
    * per-column unpivot happens on that single row (driver-sized
    * stack, never a row-explosion over the corpus). Fractions are
    * single divisions of exact longs. */
  def completeness(spark: SparkSession, dir: String): DataFrame =
    completenessAssembly(completenessCounts(Tables.events(spark, dir)))

  /** The single 11-counter row of [[completeness]] over events `ev`,
    * shared with the streaming twin (StreamCompleteness). */
  def completenessCounts(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    def nNull(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    def nBlank(c: Column) =
      sum(when(c.isNotNull && trim(c) === "", 1L).otherwise(0L))
    ev.agg(count(lit(1)).as("n_rows"),
        nNull($"ts").as("null_ts"), lit(0L).as("blank_ts"),
        nNull($"user_id").as("null_user_id"), lit(0L).as("blank_user_id"),
        nNull($"event_type").as("null_event_type"), nBlank($"event_type").as("blank_event_type"),
        nNull($"value").as("null_value"), lit(0L).as("blank_value"),
        nNull($"props").as("null_props"), nBlank($"props").as("blank_props"))
  }

  /** The post-census unpivot of [[completeness]], shared with the
    * streaming twin (StreamCompleteness): `one` is the single
    * 11-counter row of [[completenessCounts]] (n_rows + null/blank
    * per column) — the stack and the populated fraction run over 5
    * rows however large the corpus. */
  def completenessAssembly(one: DataFrame): DataFrame = {
    import one.sparkSession.implicits._
    one.select($"n_rows", expr(
      """stack(5,
        |  'ts', null_ts, blank_ts,
        |  'user_id', null_user_id, blank_user_id,
        |  'event_type', null_event_type, blank_event_type,
        |  'value', null_value, blank_value,
        |  'props', null_props, blank_props) AS (column_name, n_null, n_blank)""".stripMargin))
      .select($"column_name", $"n_rows", $"n_null", $"n_blank",
        (($"n_rows" - $"n_null" - $"n_blank").cast(DoubleType) /
          $"n_rows".cast(DoubleType)).as("populated_frac"))
  }

  /** Join-key skew profile (`dq_keyskew`) — the pre-flight in front
    * of every fact-fact join: the top-k hottest values of the join
    * key with their share of the table, the distinct-key count, and
    * the NULL mass as its own headline (nulls are the classic
    * one-reducer key; [[graft.operators.Skew]] salts the hot keys,
    * q_nullskew_join routes the nulls — this operator is how a
    * pipeline decides to reach for either). skew_factor = n·K/N is
    * the hot key's multiple of uniform load (1.0 = even), from exact
    * integer products with one double division.
    *
    * Scale: the key census partial-aggregates map-side (shuffle ∝
    * distinct keys); the hot-key election is the bounded-heap
    * aggregate over the CELLS (≤ k pairs per buffer cross the final
    * shuffle — the ROW_NUMBER formulation would sort every distinct
    * key), and the stats rollup rides the same checkpointed census.
    * Counts are exact in the heap's double (< 2⁵³). */
  def keySkew(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    keySkewAssembly(keyCensus(Tables.events(spark, dir)), k)

  /** The (user_id, n) key census of [[keySkew]], shared with the
    * streaming twin (StreamKeySkew). */
  def keyCensus(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))

  /** The post-census assembly of [[keySkew]], shared with the
    * streaming twin (StreamKeySkew): stats + bounded-heap hot-key
    * election over the (key, n) census — ∝ distinct keys. */
  def keySkewAssembly(cells0: DataFrame, k: Int = 10): DataFrame = {
    import cells0.sparkSession.implicits._
    val cells = graft.operators.Dedup.localCheckpointTransient(cells0)
    val stats = cells.agg(
      sum($"n").as("n_rows"),
      count(lit(1)).as("n_keys"),
      coalesce(sum(when($"user_id".isNull, $"n")), lit(0L)).as("null_rows"))
    val top = cells.filter($"user_id".isNotNull)
      .agg(graft.plans.Sketch.topKPairs($"n".cast(DoubleType), $"user_id", k).as("top"))
      .select(posexplode($"top"))
      .select(($"pos" + 1).cast(LongType).as("rnk"),
        $"col.key".as("user_id"), $"col.value".cast(LongType).as("n"))
    top.crossJoin(broadcast(stats))
      .select($"rnk", $"user_id", $"n", $"n_rows", $"n_keys", $"null_rows",
        ($"n".cast(DoubleType) / $"n_rows".cast(DoubleType)).as("share"),
        (($"n" * $"n_keys").cast(DoubleType) /
          $"n_rows".cast(DoubleType)).as("skew_factor"))
  }
}
