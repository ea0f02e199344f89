package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Quality.benford]] — the
  * fraud/corruption digit audit maintained LIVE over the order feed
  * (the one twin NOT on the events table — the discipline ports to
  * any stream): state is at most NINE counters, one per leading
  * digit, folded order-free; digits flush at the audit barrier
  * (shares are population fractions, final only at the snapshot)
  * and the Benford expectation/deviation assembly is nine rows of
  * work over the sink ([[graft.operators.Quality.benfordAssembly]],
  * the SAME assembly the batch operator uses, so the twin shares
  * dq_benford's oracle). A digit that never occurred emits nothing,
  * exactly the batch groupBy.
  *
  * Gated property: counts split across the micro-batch cut must
  * accumulate into one census row per digit.
  */
object StreamBenford {

  case class Dg(digit: Int, sentinel: Boolean)
  case class Cell(digit: Int, n_rows: Long)

  /** The stateful core: count per digit; sentinel flushes digits
    * that actually occurred. */
  def census(ds: Dataset[Dg]): Dataset[Cell] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.digit)
      .flatMapGroupsWithState[Long, Cell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (digit, it, state: GroupState[Long]) =>
          var n = state.getOption.getOrElse(0L)
          var flush = false
          it.foreach(d => if (d.sentinel) flush = true else n += 1L)
          state.update(n)
          if (flush && n > 0L) Iterator.single(Cell(digit, n))
          else Iterator.empty
      }
  }

  def streamedBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = graft.sources.Tables.lineitem(spark, dir)
      .select($"l_orderkey",
        substring(graft.operators.dec($"l_extendedprice").cast("string"), 1, 1)
          .cast("int").as("digit"))
    if (digits.isEmpty) return spark.emptyDataFrame
    // the order feed staged at the median order key — a digit's
    // count must accumulate across the cut
    val bounds = digits.agg(min($"l_orderkey"), max($"l_orderkey")).head()
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = Seq.range(1, 10).toDF("digit")
      .select($"digit", lit(true).as("sentinel"))
    val cells = StreamDedup.runStagedStream(spark, Seq(
        digits.filter($"l_orderkey" <= cut)
          .select($"digit", lit(false).as("sentinel")),
        digits.filter($"l_orderkey" > cut)
          .select($"digit", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Dg]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Quality.benfordAssembly(cells
      .select($"digit", $"n_rows"))
  }
}
