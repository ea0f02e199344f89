package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Streaming twin of [[graft.operators.Telemetry.heatmap]] — the
  * hour-of-day × day-of-week activity calendar maintained
  * INCREMENTALLY: state is one (count, cents-sum) pair per (dow,
  * hour) cell — at most 168 cells per state store however long the
  * stream runs — flushed once at a sentinel barrier. The value sum
  * accumulates in integer CENTS (Math.addExact — the StreamBudget
  * discipline: a double accumulator drifts from the batch decimal
  * sum in the last ulp, integer state is exact in any arrival
  * order) and reconstructs through the SAME decimal→double cast as
  * the batch `dsum`, so the shared `events_heatmap` oracle
  * hash-matches bit-for-bit. A cell whose every value is NULL keeps
  * a None sum and emits NULL, matching SUM's skip-null semantics on
  * both engines. Counts crossing the micro-batch cut must fold into
  * batch-1 cell state (exactly-once emission is asserted
  * in-operator).
  */
object StreamHeatmap {

  case class Cell(dow: Long, hour: Long, cents: Option[Long], sentinel: Boolean)
  case class CellOut(dow: Long, hour: Long, n: Long, s1c: Option[Long])
  case class CellState(n: Long, s1c: Option[Long])

  /** The stateful core: per-cell (count, exact cents sum), emitted
    * once at the sentinel. */
  def census(ev: Dataset[Cell]): Dataset[CellOut] =
    Staged.atBarrier(ev)(e => (e.dow, e.hour), _.sentinel)(CellState(0L, None)) { (s, e) =>
      CellState(s.n + 1L,
        e.cents.fold(s.s1c)(c => Some(Math.addExact(s.s1c.getOrElse(0L), c))))
    } { case ((dow, hour), s) => Some(CellOut(dow, hour, s.n, s.s1c)) }

  def streamedHeatmap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.dec
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select(
        pmod(expr("unix_micros(ts) div 86400000000") + 4L, lit(7L)).as("dow"),
        expr("(unix_micros(ts) % 86400000000) div 3600000000").as("hour"),
        (dec($"value") * 100).cast(LongType).as("cents"),
        unix_micros($"ts").as("tsUs"))
    val cells = Staged.run(spark, Staged.withBarrier[Cell](Staged.timeCut(ev, $"tsUs"),
        ev.select($"dow", $"hour").distinct())) { stream =>
      census(stream.as[Cell]).toDF()
    }
    val bad = cells.groupBy($"dow", $"hour").count()
      .filter($"count" =!= 1L).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"streamed heatmap: $bad cells emitted != once " +
          "(cross-batch census state lost or replayed)")
    cells.select($"dow", $"hour", $"n".as("n_events"),
      ($"s1c".cast(DecimalType(38, 2)) / 100).cast(DoubleType).as("sum_value"))
  }
}
