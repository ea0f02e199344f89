package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.chunkReassemble]] —
  * the relay's lost-message accounting run INCREMENTALLY: chunks of
  * one message arrive across micro-batches and fold into per-message
  * state of exactly two integers (received count, received bytes) —
  * O(1) per in-flight message however large the payload, the receive
  * buffer a real reassembler keeps. The EXPECTED side (a message
  * whose every chunk was lost must still report, n_received = 0) is
  * handled in-stream: the barrier carries one row PER EXPECTED
  * MESSAGE (event_id-keyed, the per-user barrier one level finer),
  * so a key with no state still emits its zero row
  * at flush. Completeness (n_expected from the declared size, the
  * is_complete flag) joins on afterward, message-dimension-sized.
  * Chunk loss is the same deterministic (event_id + chunk_idx) % 97
  * drop the batch operator simulates. Staging splits chunks by
  * PARITY of chunk_idx, so every ≥2-chunk message provably
  * accumulates across the cut. Shares chunk_reassemble's oracle.
  */
object StreamChunks {

  case class Chunk(event_id: Long, chunk_bytes: Long, sentinel: Boolean)
  case class St(rcv: Long, rbytes: Long)
  case class Out(event_id: Long, n_received: Long, bytes_received: Long)

  /** The stateful core: fold surviving chunks per message; the
    * sentinel row flushes the message's totals (zeros if no chunk
    * ever arrived). */
  def reassemble(ch: Dataset[Chunk]): Dataset[Out] =
    Staged.atBarrier(ch)(_.event_id, _.sentinel)(St(0L, 0L)) { (st, c) =>
      St(st.rcv + 1L, st.rbytes + c.chunk_bytes)
    } { (mid, st) => Some(Out(mid, st.rcv, st.rbytes)) }

  def streamedChunks(spark: SparkSession, dir: String,
      chunkBytes: Long = 6400L): DataFrame = {
    import spark.implicits._
    val msgs = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id",
        round($"value" * 100).cast("long").as("nbytes"))
      .filter($"nbytes" > 0L)
    val surviving = graft.operators.Telemetry.chunkMessages(spark, dir, chunkBytes)
      .filter(($"event_id" + $"chunk_idx") % 97 =!= 0L)
    // one barrier row per EXPECTED message — the all-chunks-lost case
    // must still flush a zero row
    val flushed = Staged.run(spark, Staged.withBarrier[Chunk](
        Seq(surviving.filter($"chunk_idx" % 2 === 0L), surviving.filter($"chunk_idx" % 2 === 1L)),
        msgs.select($"event_id"))) { stream =>
      reassemble(stream.as[Chunk]).toDF()
    }
    // message-dimension completeness join — the batch operator's own
    // expected-side anchor
    msgs.join(flushed, Seq("event_id"), "left")
      .select($"event_id", $"user_id",
        coalesce($"n_received", lit(0L)).as("n_received"),
        coalesce($"bytes_received", lit(0L)).as("bytes_received"),
        ceil($"nbytes" / lit(chunkBytes.toDouble)).cast("long").as("n_expected"))
      .withColumn("is_complete", $"n_received" === $"n_expected")
  }
}
