package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Streaming twin of [[graft.operators.Quality.benford]] — the
  * fraud/corruption digit audit maintained LIVE over the order feed
  * (the one twin NOT on the events table — the discipline ports to
  * any stream): the batch digit census
  * ([[graft.operators.Quality.benfordCensus]], at most NINE counters)
  * runs as a streaming aggregation over the staged lineitem rows,
  * staged at the median order key. Shares are population fractions,
  * so the Benford expectation/deviation assembly is nine rows of work
  * over the final census ([[graft.operators.Quality.benfordAssembly]],
  * the SAME assembly the batch operator uses, so the twin shares
  * dq_benford's oracle). A digit that never occurred has no row,
  * exactly the batch groupBy.
  *
  * Gated property: counts split across the micro-batch cut must
  * accumulate into one census row per digit.
  */
object StreamBenford {

  def streamedBenford(spark: SparkSession, dir: String): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"))
    Quality.benfordAssembly(
      Staged.aggregate(spark, Staged.timeCut(li, col("l_orderkey")))(Quality.benfordCensus))
  }
}
