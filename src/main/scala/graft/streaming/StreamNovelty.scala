package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  def classify(ev: Dataset[GramEv]): Dataset[Occ] =
    Staged.onArrival(ev)(_.gram, _.doc_id)(Option.empty[Long]) { (first, e) =>
      (if (first.exists(_ <= e.doc_id)) first else Some(e.doc_id),
        Some(Occ(e.doc_id, first.exists(_ < e.doc_id))))
    }

  def streamedNovelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val index = graft.sources.Tables.documents(spark, dir)
      .filter($"doc_id".isNotNull)
      .select($"doc_id",
        explode(graft.functions.TextFns.charNGrams($"text", 4)).as("gram"))
    val log = Staged.run(spark, Staged.timeCut(index, $"doc_id")) { stream =>
      classify(stream.select($"gram", $"doc_id").as[GramEv]).toDF()
    }
    // the batch operator's per-doc rollup over the streamed verdicts
    log.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"seen", 1L).otherwise(0L)).as("n_seen_before"))
      .select($"doc_id", $"n_grams", $"n_seen_before",
        (lit(1.0d) - $"n_seen_before".cast("double") /
          $"n_grams".cast("double")).as("novelty_frac"))
  }
}
