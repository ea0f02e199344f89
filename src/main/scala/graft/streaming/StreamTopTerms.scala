package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Streaming twin of [[graft.operators.TextAnalysis.cmsTopTerms]] —
  * the heavy-hitters feed run LIVE: the batch per-term doc-frequency
  * census ([[graft.operators.TextAnalysis.termDocFreq]]: tokenize +
  * per-doc distinct scan-local, then one counter per term — state is
  * the VOCABULARY, corpus-bounded, not stream-bounded: the
  * stream_novelty rationale) runs as a streaming aggregation over the
  * staged documents. A top-k is a population rank, so the CMS grid +
  * top-k + estimate lookups run over the final census via the batch
  * operator's own
  * [[graft.operators.TextAnalysis.cmsTopTermsAssembly]] — faithful
  * because CMS updates are ADDITIVE (a grid built from (term, df)
  * weights equals one built per occurrence, the identity the batch
  * operator itself exploits). Shares q_cms_topterms' oracle.
  *
  * Gated property: a term whose occurrences split across the doc-id
  * cut must accumulate into one counter.
  */
object StreamTopTerms {

  def streamedTopTerms(spark: SparkSession, dir: String,
      k: Int = 20, w: Int = 1024): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    TextAnalysis.cmsTopTermsAssembly(
      Staged.aggregate(spark, Staged.timeCut(docs, col("doc_id")))(TextAnalysis.termDocFreq), k, w)
  }
}
