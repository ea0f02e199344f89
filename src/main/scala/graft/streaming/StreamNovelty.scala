package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.TextAnalysis.novelty]] — the
  * corpus novelty curve maintained INCREMENTALLY as documents arrive
  * in ingestion order: state is keyed by the GRAM (one boolean of
  * state per distinct 4-gram — "has any earlier document carried
  * this"), and each (doc, gram) occurrence is classified
  * novel-vs-seen the moment it lands. This is the online shape of
  * the crawl-frontier signal: the crawler reads each page's novelty
  * at ingest, not in a nightly batch.
  *
  * The state domain is the gram vocabulary — corpus-bounded, not
  * stream-bounded (vocabulary growth is sublinear in documents: the
  * curve this operator measures). A doc whose gram was first seen in
  * an EARLIER micro-batch must classify from cross-batch state;
  * intra-batch order pins to doc_id (the batch operator's
  * first_seen < doc_id semantics). Sink-side rollup is the batch
  * per-doc aggregation; shares `text_novelty`'s oracle.
  */
object StreamNovelty {

  case class GramEv(gram: String, doc_id: Long)
  case class Occ(doc_id: Long, seen: Boolean)

  /** The stateful core: per-gram min-doc state; occurrences from
    * strictly-later docs classify as seen. */
  def classify(ev: Dataset[GramEv]): Dataset[Occ] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.gram)
      .flatMapGroupsWithState[Long, Occ](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, it, state: GroupState[Long]) =>
          var first = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[Occ]
          it.toSeq.sortBy(_.doc_id).foreach { e =>
            out += Occ(e.doc_id, first.exists(_ < e.doc_id))
            if (!first.exists(_ <= e.doc_id)) first = Some(e.doc_id)
          }
          first.foreach(state.update)
          out.iterator
      }
  }

  def streamedNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val index = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id",
        explode(graft.functions.TextFns.charNGrams($"text", 4)).as("gram"))
    val bounds = index.agg(min($"doc_id"), max($"doc_id")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val log = StreamDedup.runStagedStream(spark,
        Seq(index.filter($"doc_id" <= cut), index.filter($"doc_id" > cut))) { stream =>
      classify(stream.select($"gram", $"doc_id").as[GramEv]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    // the batch operator's per-doc rollup over the streamed verdicts
    log.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"seen", 1L).otherwise(0L)).as("n_seen_before"))
      .select($"doc_id", $"n_grams", $"n_seen_before",
        (lit(1.0d) - $"n_seen_before".cast("double") /
          $"n_grams".cast("double")).as("novelty_frac"))
  }
}
