package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.abtest]] — the
  * Welch t experiment monitor fed LIVE: state is TWO rows total
  * (one per arm), each three exact integers (n, Σcents, Σcents²) —
  * the canonical "metrics you can merge" shape, O(1) however long
  * the experiment runs. Arrivals fold order-free; the arms flush at
  * a sentinel barrier (a t-stat is only final at the analysis
  * cutoff) and the t assembly reconstructs means/variances from the
  * integer power sums through DECIMAL division (cents / 10² and
  * cents² / 10⁴ exactly — a double accumulator would drift, and
  * Σcents² can exceed 2⁵³ so even the final conversion must go
  * through BigDecimal, not a long→double cast). Shares
  * events_abtest's oracle: the streamed power sums must equal the
  * batch DECIMAL aggregation bit-for-bit.
  *
  * Gated property: purchases split across the cut accumulate into
  * the same arm state — the t only matches if batch-2 arrivals
  * folded onto batch-1 sums.
  */
object StreamAbtest {

  case class Ev(in_a: Boolean, cents: Option[Long], sentinel: Boolean)
  // nv = count of non-null cent values: the batch SUM skips NULLs,
  // so an arm whose every value is NULL must report NULL sums (and a
  // NULL t), not 0.00
  case class St(n: Long, nv: Long, s1: Long, s2: Long)
  case class Arm(in_a: Boolean, n: Long, nv: Long, s1: Long, s2: Long)

  /** The stateful core: order-free integer power-sum folds per arm;
    * n counts every purchase row (the batch when().otherwise(0)
    * counts NULL-value rows too), cents fold only when present. */
  def arms(ev: Dataset[Ev]): Dataset[Arm] =
    Staged.atBarrier(ev)(_.in_a, _.sentinel)(St(0L, 0L, 0L, 0L)) { (st, e) =>
      St(st.n + 1L, st.nv + e.cents.size,
        Math.addExact(st.s1, e.cents.getOrElse(0L)),
        Math.addExact(st.s2,
          e.cents.map(c => Math.multiplyExact(c, c)).getOrElse(0L)))
    } { (inA, st) => Some(Arm(inA, st.n, st.nv, st.s1, st.s2)) }

  def streamedAbtest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val p = graft.sources.Tables.events(spark, dir)
      .filter($"event_type" === "purchase" && $"ts".isNotNull &&
        $"user_id".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"),
        (pmod($"user_id", lit(2L)) === 0L).as("in_a"),
        (graft.operators.dec($"value") * 100).cast("long").as("cents"))
    val armRows = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(p, $"tsUs"),
        Seq(true, false).toDF("in_a"))) { stream =>
      arms(stream.as[Ev]).toDF()
    }
    // pivot the two arm rows into the batch aggregation's one-row
    // shape, reconstructing the DECIMAL sums exactly (s1 at scale 2,
    // s2 at scale 4) before the shared double assembly
    def decSum(c: org.apache.spark.sql.Column, nv: org.apache.spark.sql.Column,
        scale: Int) =
      when(nv > 0L, (c.cast("decimal(38,0)") /
        math.pow(10, scale).toLong).cast(s"decimal(38,$scale)").cast("double"))
    val agg = armRows.agg(
      sum(when($"in_a", $"n").otherwise(0L)).as("n_a"),
      sum(when(!$"in_a", $"n").otherwise(0L)).as("n_b"),
      sum(when($"in_a", $"nv").otherwise(0L)).as("nva"),
      sum(when(!$"in_a", $"nv").otherwise(0L)).as("nvb"),
      sum(when($"in_a", $"s1").otherwise(0L)).as("s1a"),
      sum(when(!$"in_a", $"s1").otherwise(0L)).as("s1b"),
      sum(when($"in_a", $"s2").otherwise(0L)).as("s2a"),
      sum(when(!$"in_a", $"s2").otherwise(0L)).as("s2b"))
      .select($"n_a", $"n_b",
        decSum($"s1a", $"nva", 2).as("sum_a"),
        decSum($"s1b", $"nvb", 2).as("sum_b"),
        decSum($"s2a", $"nva", 4).as("ss_a"),
        decSum($"s2b", $"nvb", 4).as("ss_b"))
    graft.operators.Telemetry.abtestFromPowerSums(agg)
  }
}
