package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Dedup.urlDedup]]
  * (`dedup_url_stream`) — the cheapest dedup tier, maintained LIVE:
  * the state is one cell per (canonical URL, raw URL) holding the
  * running keeper (min doc_id) and the arrival count, kept by a
  * streaming aggregation over the staged URLs; both folds are
  * ORDER-FREE, so batch boundaries and intra-batch order cannot move
  * the census. The census row per canonical URL is assembled from the
  * final cells: the min keeper, the summed count, and one raw variant
  * per cell with a non-NULL url (the batch `countDistinct(url)`).
  *
  * Scale posture: state per canonical URL is one cell per raw
  * variant, the distinct-url set the batch `countDistinct` shuffles.
  *
  * Reference: the same per-key accounting surface as
  * serial_streaming.lua's per-queue counters (shellCmd,
  * serial_streaming.lua:210-262), pointed at crawl URLs.
  */
object StreamUrlDedup {

  /** The stateful core over (canonical_url, doc_id, url): per
    * (canonical_url, url) the min doc_id and the arrival count. */
  def cells(cu: DataFrame): DataFrame =
    cu.groupBy(col("canonical_url"), col("url"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"))

  /** The census row per canonical URL over the final [[cells]]. */
  def census(cells: DataFrame): DataFrame =
    cells.groupBy(col("canonical_url"))
      .agg(min(col("keeper_id")).as("keeper_id"), sum(col("n_docs")).as("n_docs"),
        count(col("url")).as("n_raw_variants"))

  def streamedUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val cu = graft.operators.Dedup.canonicalUrls(spark, dir)
      .select(col("canonical_url"), col("doc_id"), col("url"))
    census(Staged.aggregate(spark, Staged.timeCut(cu, col("doc_id")))(cells))
  }
}
