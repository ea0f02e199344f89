package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Frames.stats]] — the A-family
  * wire decoder run ONLINE, the shape a live serial ingest actually
  * has: binary frames arrive as an unbounded stream, each frame
  * parses SCAN-LOCAL (the same native UnpackFrame expression as
  * batch — no UDF, no state touched by the decode) into its
  * per-frame sum/min/max, and per-device state is FOUR integers
  * (count, sample sum, running min/max) folded order-free. Devices
  * flush at the snapshot barrier (the per-device stats are population
  * facts); the avg division is the batch operator's own final
  * projection ([[graft.operators.Frames.statsAssembly]]). This is the
  * ingest path that absorbs any frame rate: decode before the
  * shuffle, O(1) state per device. Shares frame_stats' oracle.
  *
  * Gated property: a device's frames split across the micro-batch cut
  * fold into one counter set.
  */
object StreamFrameStats {

  /** The staged row: data rows carry the wire bytes (device_id NULL —
    * the decoder must recover it from the wire), barrier rows carry
    * the device key and a NULL frame. */
  case class Wire(frame: Array[Byte], device_id: Option[Long], sentinel: Boolean)
  case class Fr(device_id: Option[Long], fsum: Long, fmin: Long, fmax: Long,
    sentinel: Boolean)
  case class St(n: Long, s: Long, mn: Long, mx: Long)
  case class Out(device_id: Option[Long], n_frames: Long, sample_sum: Long,
    sample_min: Long, sample_max: Long)

  /** The stateful core: four integers per device; sentinel flushes. */
  def census(ev: Dataset[Fr]): Dataset[Out] =
    Staged.atBarrier(ev)(_.device_id, _.sentinel)(St(0L, 0L, Long.MaxValue, Long.MinValue)) {
      (s, e) => St(s.n + 1L, s.s + e.fsum, math.min(s.mn, e.fmin), math.max(s.mx, e.fmax))
    } { (dev, s) => if (s.n > 0L) Some(Out(dev, s.n, s.s, s.mn, s.mx)) else None }

  def streamedFrameStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the batch operator's own packed frames — the wire bytes are the
    // stream payload; event time rides along only to place the cut
    val frames = graft.operators.Frames.parsedFrames(spark, dir)
      .select($"frame", lit(null).cast(LongType).as("device_id"),
        unix_micros($"ts").as("tsUs"))
    val devices = graft.operators.Frames.parsedFrames(spark, dir)
      .select($"parsed.device".cast(LongType).as("device_id")).distinct()
    val flushed = Staged.run(spark,
        Staged.withBarrier[Wire](Staged.timeCut(frames, $"tsUs"), devices)) { stream =>
      // scan-local decode BEFORE the stateful shuffle; UnpackFrame of
      // a sentinel's null frame is null, coalesced to flag defaults
      val parsed = stream
        .withColumn("parsed", graft.plans.Frame.unpack($"frame"))
        .select(
          coalesce($"parsed.device".cast(LongType), $"device_id").as("device_id"),
          coalesce(
            aggregate(transform($"parsed.samples", x => x.cast(LongType)),
              lit(0L), _ + _), lit(0L)).as("fsum"),
          coalesce(array_min($"parsed.samples").cast(LongType), lit(0L)).as("fmin"),
          coalesce(array_max($"parsed.samples").cast(LongType), lit(0L)).as("fmax"),
          $"sentinel")
      census(parsed.as[Fr]).toDF()
    }
    graft.operators.Frames.statsAssembly(
      flushed.select($"device_id", $"n_frames", $"sample_sum",
        $"sample_min", $"sample_max"))
  }
}
