package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VecFns
import graft.operators.Similarity

/** Streaming twin of
  * [[graft.operators.Similarity.annIndexStats]] — the online
  * vector-ingest path of an IVF index: arriving vectors assign to
  * their inverted list SCAN-LOCAL against the broadcast codebook (a
  * trained artifact — 16 centroids as literals, the documented
  * dimension-sized codebook pattern), so the only thing that shards
  * into the state store is (list id, fit score). The batch list
  * census ([[graft.operators.Similarity.annListCensus]]: count +
  * Σ/min/max of floor(cos·10⁶), the embed_profile exact-micro
  * discipline) runs as a streaming aggregation; load share is a
  * population fraction, so the share/hot assembly runs K-row-sized
  * over the final census via the batch operator's own
  * [[graft.operators.Similarity.annIndexStatsAssembly]]. Shares
  * ann_index_stats' oracle.
  *
  * This is the shape that absorbs any ingest rate: assignment is
  * stateless map work, state is O(K). Gated property: a list
  * receiving vectors on both sides of the cut accumulates into one
  * counter row.
  */
object StreamAnnIngest {

  def streamedAnnIngest(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        VecFns.norm($"embedding").as("nrm"))
    // the codebook: dimension-sized driver reduction (16 × 64 floats)
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id", $"embedding", $"nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    // scan-local argmax over (ccos, -cid) structs: max ccos, ties to
    // the smaller cid — exactly the batch window's (desc, asc) order.
    // Each ccos is the SAME expression tree as batch (fold-exact dot
    // / (nrm * cnrm-literal)), so the doubles are bit-identical. An
    // empty codebook assigns no vector, as the batch cross join.
    val best =
      if (cents.isEmpty) lit(null).cast("struct<ccos:double,negcid:bigint>")
      else array_max(array(cents.map { case (cid, vec, cnrm) =>
        struct(
          (VecFns.dot($"embedding", typedLit(vec)) / ($"nrm" * lit(cnrm))).as("ccos"),
          lit(-cid).as("negcid"))
      }: _*))
    def assign(df: DataFrame): DataFrame = df
      .withColumn("best", best)
      .filter($"best".isNotNull)
      .select((-$"best.negcid").as("cid"),
        floor($"best.ccos" * lit(1000000.0d)).cast("long").as("cos_micro"))
    Similarity.annIndexStatsAssembly(
      Staged.aggregate(spark, Staged.timeCut(emb, $"vec_id").map(assign))(Similarity.annListCensus),
      nCentroids)
  }
}
