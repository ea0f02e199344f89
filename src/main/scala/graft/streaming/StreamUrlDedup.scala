package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Dedup.urlDedup]]
  * (`dedup_url_stream`) — the cheapest dedup tier, maintained LIVE:
  * per canonical URL the state is the running keeper (min doc_id),
  * the arrival count, and the distinct raw-variant set; every fold is
  * ORDER-FREE (min / + / set-union), so batch boundaries and
  * intra-batch order cannot move the census. Rows flush at the
  * snapshot barrier.
  *
  * Scale posture: state per canonical URL is O(1) + the variant set.
  * Raw variants per canonical key are structurally bounded (they
  * differ only in the dimensions canonicalization collapses — scheme,
  * host case, tracking params, slash, fragment), but a hostile crawl
  * can mint unbounded query-string variants, so the set is CAPPED at
  * [[StreamUrlDedup.MaxVariants]] with a loud overflow accumulator:
  * a truncated variant census is no longer exact vs the batch oracle,
  * so the twin throws rather than under-reporting (the dedup_stream
  * cap contract).
  *
  * Reference: the same per-key accounting surface as
  * serial_streaming.lua's per-queue counters (shellCmd,
  * serial_streaming.lua:210-262), pointed at crawl URLs.
  */
object StreamUrlDedup {

  /** Hard cap on tracked distinct raw variants per canonical URL. */
  val MaxVariants = 512

  case class Ev(canonical_url: Option[String], doc_id: Option[Long],
      url: Option[String], sentinel: Boolean)
  case class St(keeper: Long, n: Long, variants: Set[String])
  case class Out(canonical_url: Option[String], keeper_id: Long,
      n_docs: Long, n_raw_variants: Long)

  /** The stateful core: order-free (min, count, set) folds; sentinel
    * flushes the census row. */
  def census(ev: Dataset[Ev],
      overflow: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[Out] =
    Staged.atBarrier(ev)(_.canonical_url, _.sentinel)(St(Long.MaxValue, 0L, Set.empty)) {
      (st, e) =>
        val vs =
          if (e.url.isEmpty || st.variants.contains(e.url.get)) st.variants
          else if (st.variants.size < MaxVariants) st.variants + e.url.get
          else { overflow.foreach(_.add(1L)); st.variants }
        St(keeper = math.min(st.keeper, e.doc_id.getOrElse(Long.MaxValue)),
          n = st.n + 1L,
          variants = vs)
    } { (key, st) => Some(Out(key, st.keeper, st.n, st.variants.size.toLong)) }

  def streamedUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cu = graft.operators.Dedup.canonicalUrls(spark, dir)
      .select($"canonical_url", $"doc_id", $"url")
    val dropped = spark.sparkContext.longAccumulator("dedup_url_stream_variant_overflow")
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(cu, $"doc_id"),
        cu.select($"canonical_url").distinct())) { stream =>
      census(stream.as[Ev], overflow = Some(dropped)).toDF()
    }
    if (dropped.value > 0)
      throw new IllegalStateException(
        s"dedup_url_stream variant cap truncated ${dropped.value} raw-URL " +
          s"insertions — the streamed variant census is no longer exact vs " +
          s"the batch oracle; raise MaxVariants (${MaxVariants}) for this " +
          "corpus or pre-collapse the variant dimension upstream")
    flushed.select($"canonical_url", $"keeper_id", $"n_docs", $"n_raw_variants")
  }
}
