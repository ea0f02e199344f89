package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

import graft.plans.Frame
import graft.sources.Tables

/** Binary frame operators (SURVEY §2.A): the reference's struct
  * pack/unpack semantics (main.py:55-81) exercised end-to-end.
  *
  * Frames are derived deterministically from the events table
  * (device ≙ user_id, ts_secs ≙ epoch seconds, samples from integer
  * arithmetic on event_id/value), packed to the 24-byte wire format
  * by a native expression, and parsed back — so the DuckDB oracle
  * can verify the whole binary path against directly-computed ground
  * truth without ever touching bytes.
  */
object Frames {

  /** events → packed frames → parsed columns. */
  private[graft] def parsedFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val samples = transform(sequence(lit(0L), lit(6L)),
      i => ($"event_id" * 7 + i * 13 + floor($"value").cast(LongType)) % 32768)
    // a frame needs a device id, an instant, and a sample seed —
    // null-keyed telemetry rows are not framable (mirrored in every
    // frame-family oracle's WHERE)
    Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"value".isNotNull)
      .select($"event_id", $"user_id", $"ts", $"value",
        Frame.pack($"user_id", expr("unix_micros(ts) div 1000000"), samples).as("frame"))
      .withColumn("parsed", Frame.unpack($"frame"))
  }

  /** Pack→unpack roundtrip surfaced as plain columns (oracle computes
    * the same values straight from events). */
  def roundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parsedFrames(spark, dir).select(
      $"event_id",
      $"parsed.device".cast(LongType).as("device_id"),
      $"parsed.ts_secs".cast(LongType).as("ts_secs"),
      size($"parsed.samples").cast(LongType).as("n_samples"),
      aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _)
        .as("sample_sum"))
  }

  /** Field extraction from parsed frames: first/last sample, frame
    * byte length. */
  def extract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parsedFrames(spark, dir).select(
      $"event_id",
      $"parsed.device".cast(LongType).as("device_id"),
      $"parsed.ts_secs".cast(LongType).as("ts_secs"),
      element_at($"parsed.samples", 1).cast(LongType).as("first_sample"),
      element_at($"parsed.samples", 7).cast(LongType).as("last_sample"),
      octet_length($"frame").cast(LongType).as("frame_bytes"))
  }

  /** Delta/zigzag/varint payload compression accounting
    * (`frame_delta`) — the bandwidth question behind notes.org's
    * 6.4 kB message cap and 100 MB budget: IMU samples are slowly
    * varying, so delta + zigzag + varint is the standard wire
    * compression, and this operator measures EXACTLY what it buys
    * per device. Deltas (d₀ = s₀, dᵢ = sᵢ − sᵢ₋₁) come from the
    * PARSED samples — the binary codec is in the loop, not the
    * generator formula — zigzag folds the sign ((d≥0 → 2d, else
    * −2d−1), all integer-exact), and varint size is 1/2/3 bytes at
    * the 2⁷/2¹⁴ boundaries (int16 deltas never need more). Per
    * device: frames, raw vs encoded bytes, one double ratio.
    * Scan-local HOFs into a partial-aggregated device rollup — one
    * shuffle, integers until the final division. */
  def delta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    parsedFrames(spark, dir)
      .withColumn("s", transform($"parsed.samples", x => x.cast(LongType)))
      .withColumn("ds", transform(sequence(lit(0), lit(6)), i =>
        when(i === 0, element_at($"s", 1))
          .otherwise(element_at($"s", i + 1) - element_at($"s", i))))
      .withColumn("zz", transform($"ds", x =>
        when(x >= 0L, x * 2L).otherwise(-x * 2L - 1L)))
      .withColumn("eb", aggregate($"zz", lit(0L), (a, v) =>
        a + lit(1L) + when(v >= 128L, lit(1L)).otherwise(lit(0L)) +
          when(v >= 16384L, lit(1L)).otherwise(lit(0L))))
      .groupBy($"parsed.device".cast(LongType).as("device_id"))
      .agg(count(lit(1)).as("n_frames"),
        (count(lit(1)) * 14L).as("raw_bytes"),
        sum($"eb").as("enc_bytes"))
      .withColumn("ratio",
        $"enc_bytes".cast(DoubleType) / $"raw_bytes".cast(DoubleType))
  }

  /** The reference's on-disk wire format end-to-end (bytes_to_file /
    * get_bytes_from_file + the 0x3a frame delimiter, main.py:33-57):
    * frames concatenate into one contiguous `frame:frame:...` byte
    * stream per device, then the stream is re-split and re-parsed
    * inside the engine.
    *
    * The split is by fixed frame length with the sync byte VALIDATED
    * at every boundary rather than by searching for 0x3a the way
    * main.py splits — a payload byte that happens to equal 0x3a would
    * corrupt a search-based split (a real defect in the reference's
    * parser); length-based framing with sync verification reads the
    * same wire bytes without that failure mode.
    *
    * Wire blobs ROLL BY COUNT (the relay's roll-by-size with a fixed
    * frame length): a blob-sequence key — floor(rank / framesPerBlob)
    * over the device's event order — joins the groupBy key, so each
    * aggregation buffer holds at most `framesPerBlob` frames. Without
    * it a hot device (100× the traffic) materializes its entire
    * history as ONE multi-GB aggregation row — the single-key OOM
    * that kills per-device files at scale. The roll key rides the
    * same device partitioning (the window's hash distribution
    * satisfies both groupBys), so the plan still shuffles once.
    */
  def wire(spark: SparkSession, dir: String, framesPerBlob: Int = 64): DataFrame = {
    import spark.implicits._
    val framed = parsedFrames(spark, dir)
      .select($"user_id".as("device_id"), $"event_id", $"frame")
    wireParse(wireBlobs(framed, framesPerBlob))
  }

  /** (device_id, event_id, frame) → rolled (device_id, blob_seq,
    * wire) blobs. One blob per `framesPerBlob` consecutive frames per
    * device; frames inside a blob are event-id ordered, so
    * blob_seq·framesPerBlob + in-blob position is the device's global
    * frame index. */
  private[graft] def wireBlobs(framed: DataFrame, framesPerBlob: Int): DataFrame = {
    val spark = framed.sparkSession
    import spark.implicits._
    val byDevice = Window.partitionBy($"device_id").orderBy($"event_id".asc)
    // single-pass native join (BinJoin): a fold of binary concats
    // would re-copy the growing wire per frame — quadratic per device
    framed
      .withColumn("blob_seq", floor((row_number().over(byDevice) - 1) / framesPerBlob))
      .groupBy($"device_id", $"blob_seq")
      .agg(sort_array(collect_list(struct($"event_id", $"frame"))).as("fs"))
      .select($"device_id", $"blob_seq",
        Frame.binJoin(transform($"fs", f => f.getField("frame")), 0x3a).as("wire"))
  }

  /** Re-split each wire blob by fixed frame length (sync byte checked
    * at every boundary), re-parse, and aggregate per device. */
  private[graft] def wireParse(wires: DataFrame): DataFrame = {
    val spark = wires.sparkSession
    import spark.implicits._
    val unit = Frame.FrameLen + 1
    val n = (octet_length($"wire") / unit).cast(LongType)
    wires
      .withColumn("sync_ok", forall(sequence(lit(0L), n - 1),
        i => $"wire".substr((i * unit + unit).cast("int"), lit(1)) === lit(Array[Byte](0x3a))))
      .select($"device_id", $"sync_ok",
        explode(transform(sequence(lit(0L), n - 1),
          i => $"wire".substr((i * unit + 1).cast("int"), lit(Frame.FrameLen)))).as("frame"))
      .withColumn("parsed", Frame.unpack($"frame"))
      .groupBy($"device_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _))
          .as("sample_sum"),
        min($"sync_ok").as("sync_ok"))
  }

  /** Corrupted-wire recovery (`frame_resync`): the failure path the
    * reference's search-split framing cannot survive (main.py:33-57
    * splits on the delimiter and silently mis-parses on corruption) —
    * here a deterministic subset of frames (event_id % 97 == 0) has
    * its leading magic byte flipped before the wire rolls, the reader
    * re-splits by FIXED frame length (so one bad frame can never
    * shift the stream — alignment is positional, not content-based),
    * and the native UnpackFrame's validation null-quarantines exactly
    * the corrupted frames. Per device: total frames seen, recovered,
    * corrupted-and-skipped, and the payload checksum over RECOVERED
    * frames only — the "how much telemetry survived the bad link"
    * report.
    *
    * Scale shape: identical to [[wire]] — corruption and re-parse are
    * scan-local expressions, the only shuffles are the blob roll and
    * the final per-device partial-aggregated rollup. */
  def resync(spark: SparkSession, dir: String, framesPerBlob: Int = 64): DataFrame = {
    import spark.implicits._
    val samples = transform(sequence(lit(0L), lit(6L)),
      i => ($"event_id" * 7 + i * 13 + floor($"value").cast(LongType)) % 32768)
    val framed = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"ts".isNotNull && $"value".isNotNull)
      .select($"user_id".as("device_id"), $"event_id",
        Frame.pack($"user_id", expr("unix_micros(ts) div 1000000"), samples).as("clean"))
      .withColumn("frame",
        when($"event_id" % 97 === 0,
          concat(lit(Array[Byte](0x00)), substring($"clean", 2, Frame.FrameLen - 1)))
          .otherwise($"clean"))
      .select($"device_id", $"event_id", $"frame")
    val unit = Frame.FrameLen + 1
    val n = (octet_length($"wire") / unit).cast(LongType)
    wireBlobs(framed, framesPerBlob)
      .select($"device_id",
        explode(transform(sequence(lit(0L), n - 1),
          i => $"wire".substr((i * unit + 1).cast("int"), lit(Frame.FrameLen)))).as("frame"))
      .withColumn("parsed", Frame.unpack($"frame"))
      .groupBy($"device_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when($"parsed".isNotNull, 1L).otherwise(0L)).as("n_recovered"),
        sum(when($"parsed".isNull, 1L).otherwise(0L)).as("n_corrupted"),
        coalesce(sum(when($"parsed".isNotNull,
          aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _))),
          lit(0L)).as("sample_sum"))
  }

  /** Container-level FRAME SAMPLING (the video frame-sample pattern
    * over the engine's real container format): keep every k-th frame
    * per device from the rolled wire blobs — a media pipeline
    * extracting every k-th video frame for feature work does exactly
    * this against its chunked containers. The sample index is the
    * device's GLOBAL frame position (blob_seq·framesPerBlob + in-blob
    * offset), so the stride runs across blob boundaries; only the
    * sampled 1/k frames are parsed past the split. */
  def frameSample(spark: SparkSession, dir: String, k: Int = 4,
      framesPerBlob: Int = 64): DataFrame = {
    import spark.implicits._
    val framed = parsedFrames(spark, dir)
      .select($"user_id".as("device_id"), $"event_id", $"frame")
    val unit = Frame.FrameLen + 1
    val n = (octet_length($"wire") / unit).cast(LongType)
    wireBlobs(framed, framesPerBlob)
      .select($"device_id", $"blob_seq",
        posexplode(transform(sequence(lit(0L), n - 1),
          i => $"wire".substr((i * unit + 1).cast("int"), lit(Frame.FrameLen)))))
      .withColumn("global_idx", $"blob_seq" * framesPerBlob + $"pos")
      .filter($"global_idx" % k === 0)
      .withColumn("parsed", Frame.unpack($"col"))
      .groupBy($"device_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _))
          .as("sample_sum"),
        min($"parsed.ts_secs".cast(LongType)).as("first_ts_secs"),
        max($"parsed.ts_secs".cast(LongType)).as("last_ts_secs"))
  }

  /** Secondary MIN/MAX index over the persisted frame-blob sink
    * (`frame_lookup`): blobs are keyed by (device_id, blob_seq) but
    * the query attribute is TIME — a tiny index table of per-blob
    * (min_ts_secs, max_ts_secs) locates the blobs overlapping a time
    * window, the surviving keys BROADCAST into a join against the
    * blob table, and only those blobs are split and parsed. At 100 TB
    * the index is one row per blob (thousands of rows per PB), scans
    * in milliseconds, and turns "decode every container in the
    * corpus" into "decode the ~window/retention fraction" — the
    * metadata-file pattern lakehouse table formats use for data
    * skipping, applied to an opaque binary column a parquet scan
    * cannot prune on by itself.
    *
    * The index build is a COLUMN-PRUNED scan of the blob table (key
    * columns only, never the wire bytes) — no second pass over the
    * data. Blobs roll in event order, which is time order, so each
    * blob's [min, max] span is narrow and the index is selective; the
    * operator fails loudly if the lookup did not actually prune, and
    * the exact window filter re-applies post-parse (blobs straddling
    * a window edge contain out-of-window frames). */
  def lookup(spark: SparkSession, dir: String,
      loSec: Long = 1704412800L, hiSec: Long = 1704672000L,
      framesPerBlob: Int = 8): DataFrame = {
    import spark.implicits._
    val framed = parsedFrames(spark, dir)
      .select($"user_id".as("device_id"), $"event_id", $"frame",
        $"parsed.ts_secs".cast(LongType).as("ts_secs"))
    val byDevice = Window.partitionBy($"device_id").orderBy($"event_id".asc)
    val rolled = framed
      .withColumn("blob_seq", floor((row_number().over(byDevice) - 1) / framesPerBlob))
      .groupBy($"device_id", $"blob_seq")
      .agg(sort_array(collect_list(struct($"event_id", $"frame"))).as("fs"),
        min($"ts_secs").as("min_ts_secs"), max($"ts_secs").as("max_ts_secs"))
      .select($"device_id", $"blob_seq",
        Frame.binJoin(transform($"fs", f => f.getField("frame")), 0x3a).as("wire"),
        $"min_ts_secs", $"max_ts_secs")
    val tmp = graft.sources.Scratch.tempDir("graft_fidx_")
    graft.operators.Dedup.trackTransientDir(tmp)
    rolled.write.mode("overwrite").parquet(s"$tmp/blobs")
    graft.sources.Parquet.read(spark, s"$tmp/blobs")
      .select($"device_id", $"blob_seq", $"min_ts_secs", $"max_ts_secs")
      .write.mode("overwrite").parquet(s"$tmp/index")

    val index = graft.sources.Parquet.read(spark, s"$tmp/index")
    val hits = index
      .filter($"max_ts_secs" >= loSec && $"min_ts_secs" < hiSec)
      .select($"device_id", $"blob_seq")
    val total = index.count()
    val kept = hits.count()
    if (kept == 0L || kept >= total)
      throw new IllegalStateException(
        s"secondary index did not prune: $kept of $total blobs survive " +
          s"[$loSec, $hiSec) — a lookup that decodes everything is a scan, not an index")

    val unit = Frame.FrameLen + 1
    val n = (octet_length($"wire") / unit).cast(LongType)
    graft.sources.Parquet.read(spark, s"$tmp/blobs")
      .join(broadcast(hits), Seq("device_id", "blob_seq"))
      .select($"device_id",
        explode(transform(sequence(lit(0L), n - 1),
          i => $"wire".substr((i * unit + 1).cast("int"), lit(Frame.FrameLen)))).as("frame"))
      .withColumn("parsed", Frame.unpack($"frame"))
      .filter($"parsed.ts_secs".cast(LongType) >= loSec &&
        $"parsed.ts_secs".cast(LongType) < hiSec)
      .groupBy($"device_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _))
          .as("sample_sum"))
  }

  /** Per-device stats over parsed sample payloads. */
  def stats(spark: SparkSession, dir: String): DataFrame =
    statsAssembly(statsCensus(parsedFrames(spark, dir)))

  /** The per-device census of [[stats]] over rows with a `parsed`
    * frame, shared with the streaming twin (StreamFrameStats). */
  def statsCensus(frames: DataFrame): DataFrame = {
    import frames.sparkSession.implicits._
    frames.select($"parsed.device".cast(LongType).as("device_id"),
        aggregate(transform($"parsed.samples", s => s.cast(LongType)), lit(0L), _ + _)
          .as("frame_sum"),
        array_min($"parsed.samples").cast(LongType).as("frame_min"),
        array_max($"parsed.samples").cast(LongType).as("frame_max"))
      .groupBy($"device_id")
      .agg(count(lit(1)).as("n_frames"),
        sum($"frame_sum").as("sample_sum"),
        min($"frame_min").as("sample_min"),
        max($"frame_max").as("sample_max"))
  }

  /** The final per-device projection of [[stats]], shared with the
    * streaming twin (StreamFrameStats): `perDev` = (device_id,
    * n_frames, sample_sum, sample_min, sample_max) — only the avg
    * division happens here, over device-dimension rows. */
  def statsAssembly(perDev: DataFrame): DataFrame = {
    import perDev.sparkSession.implicits._
    perDev.select($"device_id", $"n_frames", $"sample_sum",
      $"sample_min", $"sample_max",
      ($"sample_sum".cast(DoubleType) / ($"n_frames" * 7).cast(DoubleType))
        .as("sample_avg"))
  }
}
