package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.VecFns

/** Streaming twin of
  * [[graft.operators.Similarity.annIndexStats]] — the online
  * vector-ingest path of an IVF index: arriving vectors assign to
  * their inverted list SCAN-LOCAL against the broadcast codebook (a
  * trained artifact — 16 centroids as literals, the documented
  * dimension-sized codebook pattern), so the only thing that shards
  * into the state store is (list id, fit score). Per-list state is
  * FOUR integers (count + Σ/min/max of floor(cos·10⁶) — the
  * embed_profile exact-micro discipline), folded order-free; lists
  * flush at the snapshot barrier because load share is a population
  * fraction. The share/hot assembly runs K-row-sized over the
  * flushed census via the batch operator's own
  * [[graft.operators.Similarity.annIndexStatsAssembly]].
  * Shares ann_index_stats' oracle.
  *
  * This is the shape that absorbs any ingest rate: assignment is
  * stateless map work, state is O(K), and the audit view is final
  * exactly at the snapshot. Gated property: a list receiving vectors
  * on both sides of the cut accumulates into one counter row.
  */
object StreamAnnIngest {

  case class In(cid: Long, cosMicro: Option[Long], sentinel: Boolean)
  case class St(n: Long, sum: Option[Long], mn: Option[Long], mx: Option[Long])
  case class Out(cid: Long, n_vectors: Long, sum_cos_micro: Option[Long],
    min_cos_micro: Option[Long], max_cos_micro: Option[Long])

  /** The stateful core: O(1) per-list moment fold; sentinel flushes. */
  def census(rows: Dataset[In]): Dataset[Out] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.cid)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (cid, it, state: GroupState[St]) =>
          var st = state.getOption.getOrElse(St(0L, None, None, None))
          var flush = false
          it.foreach { r =>
            if (r.sentinel) flush = true
            else {
              val sum2 = r.cosMicro match {
                case Some(c) => Some(st.sum.getOrElse(0L) + c)
                case None => st.sum
              }
              val mn2 = (st.mn, r.cosMicro) match {
                case (Some(a), Some(b)) => Some(math.min(a, b))
                case (a, b) => a.orElse(b)
              }
              val mx2 = (st.mx, r.cosMicro) match {
                case (Some(a), Some(b)) => Some(math.max(a, b))
                case (a, b) => a.orElse(b)
              }
              st = St(st.n + 1L, sum2, mn2, mx2)
            }
          }
          state.update(st)
          if (flush && st.n > 0L)
            Iterator.single(Out(cid, st.n, st.sum, st.mn, st.mx))
          else Iterator.empty
      }
  }

  def streamedAnnIngest(spark: SparkSession, dir: String,
      nCentroids: Int = 16): DataFrame = {
    import spark.implicits._
    val emb = graft.sources.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        VecFns.norm($"embedding").as("nrm"))
    val bounds = emb.agg(min($"vec_id"), max($"vec_id")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    // the codebook: dimension-sized driver reduction (16 × 64 floats)
    val cents = emb.filter($"vec_id" < nCentroids)
      .select($"vec_id", $"embedding", $"nrm").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    require(cents.nonEmpty, "empty codebook")
    // scan-local argmax over (ccos, -cid) structs: max ccos, ties to
    // the smaller cid — exactly the batch window's (desc, asc) order.
    // Each ccos is the SAME expression tree as batch (fold-exact dot
    // / (nrm * cnrm-literal)), so the doubles are bit-identical.
    val candidates = array(cents.map { case (cid, vec, cnrm) =>
      struct(
        (VecFns.dot($"embedding", typedLit(vec)) / ($"nrm" * lit(cnrm))).as("ccos"),
        lit(-cid).as("negcid"))
    }: _*)
    val assigned = emb
      .withColumn("best", array_max(candidates))
      .select($"vec_id", (-$"best.negcid").as("cid"),
        floor($"best.ccos" * lit(1000000.0d)).cast("long").as("cosMicro"))
    val sentinels = spark.range(nCentroids).select(
      $"id".as("cid"), lit(null).cast("long").as("cosMicro"),
      lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        assigned.filter($"vec_id" <= cut)
          .select($"cid", $"cosMicro", lit(false).as("sentinel")),
        assigned.filter($"vec_id" > cut)
          .select($"cid", $"cosMicro", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[In]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Similarity.annIndexStatsAssembly(
      flushed.select($"cid", $"n_vectors", $"sum_cos_micro",
        $"min_cos_micro", $"max_cos_micro"),
      nCentroids)
  }
}
