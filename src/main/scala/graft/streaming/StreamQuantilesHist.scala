package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Streaming twin of [[graft.operators.Relational.qQuantilesHist]] —
  * the mergeable histogram-sketch quantiles run as a LIVE dashboard
  * feed: the batch (group, bucket) census
  * ([[graft.operators.Relational.quantilesHistCensus]], bounded by
  * the VALUE AXIS — occupied buckets, never rows) runs as a streaming
  * aggregation over the staged lineitem rows. Bucket counters fold
  * order-free, which is precisely the property that makes the
  * histogram THE streaming quantile sketch (state merge = vector
  * addition, the same thing partial aggregation does batch-side). A
  * quantile is a population rank, so the cumulative walk + rank
  * estimate run over the final census via the batch operator's own
  * [[graft.operators.Relational.quantilesHistAssembly]]. Shares
  * q_quantiles_hist's oracle.
  *
  * Gated property: a (group, bucket) cell whose rows split across
  * the order-key cut must accumulate into one counter.
  */
object StreamQuantilesHist {

  def streamedQuantilesHist(spark: SparkSession, dir: String,
      width: Double = 500.0d): DataFrame = {
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
    Relational.quantilesHistAssembly(Staged.aggregate(spark, Staged.timeCut(li, col("l_orderkey")))(
      Relational.quantilesHistCensus(_, width)), width)
  }
}
