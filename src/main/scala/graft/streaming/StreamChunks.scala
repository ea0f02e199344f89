package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Telemetry

/** Streaming twin of [[graft.operators.Telemetry.chunkReassemble]] —
  * the relay's lost-message accounting run INCREMENTALLY: chunks of
  * one message arrive across micro-batches and fold into the batch
  * operator's per-message receipt census
  * ([[graft.operators.Telemetry.chunkReceipts]]: received count and
  * bytes) — O(1) per in-flight message however large the payload, the
  * receive buffer a real reassembler keeps. The EXPECTED side (a
  * message whose every chunk was lost must still report,
  * n_received = 0) is the batch operator's own left join from the
  * message dimension, which also supplies completeness (n_expected
  * from the declared size, the is_complete flag). Chunk loss is the
  * same deterministic (event_id + chunk_idx) % 97 drop the batch
  * operator simulates. Staging splits chunks by PARITY of chunk_idx,
  * so every ≥2-chunk message provably accumulates across the cut.
  * Shares chunk_reassemble's oracle.
  */
object StreamChunks {

  def streamedChunks(spark: SparkSession, dir: String,
      chunkBytes: Long = 6400L): DataFrame = {
    val surviving = Telemetry.survivingChunks(spark, dir, chunkBytes)
      .select(col("event_id"), col("chunk_idx"), col("chunk_bytes"))
    Telemetry.chunkAssembly(spark, dir, chunkBytes, Staged.aggregate(spark,
        Seq(surviving.filter(col("chunk_idx") % 2 === 0L), surviving.filter(col("chunk_idx") % 2 === 1L)))(
      Telemetry.chunkReceipts))
  }
}
