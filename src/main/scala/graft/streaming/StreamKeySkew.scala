package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Quality

/** Streaming twin of [[graft.operators.Quality.keySkew]] — the
  * join-key skew pre-flight fed LIVE: the batch key census
  * ([[graft.operators.Quality.keyCensus]], one counter per key, the
  * exact-census bound uniqueness and dedup share) runs as a streaming
  * aggregation over the staged events. The headline numbers — share
  * of table, skew factor, top-k rank — are population statistics, so
  * the stats rollup and the bounded-heap hot-key election are the
  * batch operator's own assembly over the final census. Shares
  * dq_keyskew's oracle.
  *
  * Gated property: a key split across the micro-batch cut folds into
  * one census counter — a restart deflates the hot key's share and
  * can demote it out of the top-k.
  */
object StreamKeySkew {

  def streamedKeySkew(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.sources.Tables.events(spark, dir).select(col("user_id"), col("ts"))
    Quality.keySkewAssembly(
      Staged.aggregate(spark, Staged.timeCut(ev, unix_micros(col("ts"))))(Quality.keyCensus))
  }
}
