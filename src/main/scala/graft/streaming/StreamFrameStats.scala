package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Frames
import graft.plans.Frame

/** Streaming twin of [[graft.operators.Frames.stats]] — the A-family
  * wire decoder run ONLINE, the shape a live serial ingest actually
  * has: binary frames arrive as an unbounded stream, each frame
  * parses SCAN-LOCAL (the same native UnpackFrame expression as
  * batch — no UDF, no state touched by the decode), and the batch
  * per-device census ([[graft.operators.Frames.statsCensus]]: count,
  * sample sum, min, max — four integers per device) runs as a
  * streaming aggregation. The avg division is the batch operator's
  * own final projection ([[graft.operators.Frames.statsAssembly]]).
  * This is the ingest path that absorbs any frame rate: decode before
  * the shuffle, O(1) state per device. Shares frame_stats' oracle.
  *
  * Gated property: a device's frames split across the micro-batch cut
  * fold into one counter set.
  */
object StreamFrameStats {

  def streamedFrameStats(spark: SparkSession, dir: String): DataFrame = {
    // the batch operator's own packed frames — the wire bytes are the
    // stream payload; event time rides along only to place the cut
    val frames = Frames.parsedFrames(spark, dir).select(col("frame"), col("ts"))
    Frames.statsAssembly(Staged.aggregate(spark, Staged.timeCut(frames, unix_micros(col("ts")))) {
      stream => Frames.statsCensus(stream.withColumn("parsed", Frame.unpack(col("frame"))))
    })
  }
}
