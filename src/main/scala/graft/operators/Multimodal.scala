package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.plans.{Audio, Frame, Image, Video}
import graft.sources.Tables

/** Multimodal column plumbing (SURVEY §2.G): media payloads ride as
  * opaque `binary` columns with typed metadata beside them — the
  * schema/partitioning pattern a 100 TB image/audio pipeline uses.
  *
  * The blob carries a REAL container header (PNG signature + IHDR
  * with correct CRC32 / JPEG SOI+SOF0 / WebP RIFF VP8X / raw GRAW —
  * see [[graft.plans.Image]]) followed by the document payload, and
  * `meta` recovers format/width/height by parsing those actual bytes
  * (magic sniffing, a real JPEG marker scan, BE/LE field extraction).
  * Pixel-level decode (IDAT inflate etc.) would slot behind the same
  * column boundary with an imaging library; the header layer here is
  * the genuine wire format, not a stand-in.
  *
  * Oracle-parity note: the DuckDB oracle restates header arithmetic
  * (lengths, width/height formulas) on the assumption the test corpus
  * is ASCII, where `length(text)` = payload byte length. A spec
  * guards that assumption explicitly (octet_length == char length on
  * every document) so a non-ASCII corpus fails loudly, not silently.
  */
object Multimodal {

  private def fmtCol = when(col("lang") === "en", "png")
    .when(col("lang") === "de", "jpeg")
    .when(col("lang") === "es", "webp").otherwise("raw")

  private def blobCol = Image.pack(fmtCol,
    (col("n_chars") % 64) + 1, (col("doc_id") % 48) + 1, encode(col("text"), "UTF-8"))

  def meta(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blob = blobCol
    Tables.documents(spark, dir)
      .select($"doc_id", blob.as("blob"))
      .withColumn("meta", Image.decode($"blob"))
      .select(
        $"doc_id",
        octet_length($"blob").cast(LongType).as("n_bytes"),
        $"meta.width".cast(LongType).as("width"),
        $"meta.height".cast(LongType).as("height"),
        $"meta.format".as("format"),
        // payload survives intact behind the header: sum of its first
        // 8 bytes, located via the parsed payload offset
        Frame.byteSum(expr("substring(blob, meta.payload_off + 1, 8)"), lit(8L))
          .as("payload_head_sum"))
  }

  /** The audio modality through the same column pattern: blobs carry
    * a REAL canonical PCM WAV header (RIFF/fmt/data chunks, see
    * [[graft.plans.Audio]]) over the document payload standing in
    * for s16le frames; decode parses channels / sample rate / frame
    * count back out of the little-endian bytes, and duration derives
    * by integer µs arithmetic (engine-exact — no floating time
    * math). Scan-local, zero shuffle. */
  /** Shared (doc_id, WAV blob) derivation for the audio operators —
    * the channel/rate dials live here once; their restatements in the
    * mm_audio / mm_audio_downsample oracle SQL must move in step. */
  private def packedAudio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val channels = (col("doc_id") % 2) + 1
    val rate = when(col("lang") === "en", 16000L)
      .when(col("lang") === "de", 44100L)
      .when(col("lang") === "es", 8000L).otherwise(22050L)
    Tables.documents(spark, dir)
      .select($"doc_id", Audio.pack(channels, rate, encode($"text", "UTF-8")).as("blob"))
  }

  def audio(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedAudio(spark, dir)
      .withColumn("m", Audio.decode($"blob"))
      .select($"doc_id",
        octet_length($"blob").cast(LongType).as("n_bytes"),
        $"m.channels".cast(LongType).as("channels"),
        $"m.sample_rate".cast(LongType).as("sample_rate"),
        expr("m.data_len div (m.channels * 2)").cast(LongType).as("n_samples"),
        expr("(CAST(m.data_len AS BIGINT) div (m.channels * 2)) * 1000000 div m.sample_rate")
          .cast(LongType).as("duration_us"),
        Frame.byteSum(expr("substring(blob, m.payload_off + 1, 8)"), lit(8L))
          .as("payload_head_sum"))
  }

  /** Perceptual-hash near-duplicate detection for the image modality
    * (the visual twin of [[graft.operators.Dedup.simhash]]): each
    * blob's PAYLOAD region — located by actually parsing the
    * container header, never by formula — fingerprints to a 62-bit
    * average hash ([[graft.plans.AHash62]]: bit i set iff payload
    * byte i exceeds the region mean; over a real pixel decode the
    * same expression would consume the 8×8 luma grid). Candidate
    * pairs then meet through 16-bit band buckets exactly like
    * simhash — an equi-join, shuffle ∝ corpus — with hot buckets
    * capped, and survive at Hamming ≤ 8.
    *
    * This is the image-dedup pipeline shape at 100 TB: fingerprints
    * are scan-local per blob (one decode, no pixel shuffle), and only
    * 8-byte hashes ever reach the join. */
  def phash(spark: SparkSession, dir: String, maxBucket: Int = 200,
      maxHamming: Int = 8): DataFrame = {
    import spark.implicits._
    val hashes = Tables.documents(spark, dir)
      .select($"doc_id", blobCol.as("blob"))
      .withColumn("m", Image.decode($"blob"))
      .filter($"m".isNotNull)
      .withColumn("ahash", Image.ahash($"blob", $"m.payload_off"))
      .filter($"ahash".isNotNull)
      .select($"doc_id", $"ahash")
    val bands = hashes.select($"doc_id", $"ahash", explode(array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright($"ahash", 16 * b).bitwiseAND(lit(65535L)).as("bkey"))
    }: _*)).as("bk")).select($"doc_id", $"ahash", $"bk.band", $"bk.bkey")
    val rare = bands.groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("bc")).filter($"bc" <= maxBucket)
      .select($"band", $"bkey")
    val pruned = bands.join(rare, Seq("band", "bkey"))
    pruned.as("a").join(pruned.as("b"), Seq("band", "bkey"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.ahash".bitwiseXOR($"b.ahash")).cast(LongType).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming.toLong)
  }

  /** Transform through the audio codec (the mm_resize twin):
    * decode each WAV blob, halve the sample rate AND keep only the
    * first half of the payload bytes (the packer re-truncates to
    * whole frames), re-pack a real header, and decode the OUTPUT
    * bytes — half the frames at half the rate preserves duration up
    * to frame rounding, which the spec asserts. Sample-accurate
    * decimation (every other frame) would sit at the payload step
    * exactly like pixel resampling for images. */
  /** Amplitude feature extraction over the audio payload — the
    * loudness/VAD-style pass a speech pipeline runs before deciding
    * what to keep: the data chunk located by the RIFF parse (never by
    * formula) is walked as SIGNED s16le samples by the native
    * [[graft.plans.PcmStats]] expression — peak/mean absolute
    * amplitude, loud-sample count. Integer outputs, scan-local, zero
    * shuffle; high payload bytes (≥ 0x80) flip sample signs, which
    * the non-ASCII corpus exercises. */
  def audioStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedAudio(spark, dir)
      .withColumn("m", Audio.decode($"blob"))
      .withColumn("s", Audio.pcmStats($"blob",
        $"m.payload_off".cast(LongType), $"m.data_len".cast(LongType)))
      .select($"doc_id",
        $"s.n_samples".as("n_samples"),
        $"s.peak_abs".as("peak_abs"),
        $"s.sum_abs".as("sum_abs"),
        $"s.n_loud".as("n_loud"),
        when($"s.n_samples" > 0L,
          expr("(s.sum_abs * 1000) div s.n_samples")).otherwise(0L)
          .as("mean_abs_milli"))
  }

  /** Energy-gated segmentation (`mm_audio_vad`): the
    * voice-activity-detection shape over the WAV payload — fixed
    * 32-sample windows, a window is active when its mean absolute
    * s16le amplitude clears the threshold, and the per-clip report is
    * (windows, active windows, peak window energy, first active
    * window). The real VAD model swaps in at the [[graft.plans.PcmVad]]
    * column boundary; the windowing, RIFF-located payload walk, and
    * integer outputs are the production plumbing. Scan-local, zero
    * shuffle — streams at 100 TB limited only by IO. */
  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedAudio(spark, dir)
      .withColumn("m", Audio.decode($"blob"))
      .withColumn("v", Audio.pcmVad($"blob",
        $"m.payload_off".cast(LongType), $"m.data_len".cast(LongType)))
      .select($"doc_id",
        $"v.n_windows".as("n_windows"),
        $"v.n_active".as("n_active"),
        $"v.max_win_sum".as("max_win_sum"),
        $"v.first_active".as("first_active"))
  }

  def audioDownsample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedAudio(spark, dir)
      .withColumn("m", Audio.decode($"blob"))
      .withColumn("out", Audio.pack(
        expr("CAST(m.channels AS BIGINT)"),
        expr("CAST(m.sample_rate div 2 AS BIGINT)"),
        expr("substring(blob, m.payload_off + 1, m.data_len div 2)")))
      .withColumn("om", Audio.decode($"out"))
      .select($"doc_id",
        octet_length($"out").cast(LongType).as("n_bytes"),
        $"om.sample_rate".cast(LongType).as("sample_rate"),
        expr("om.data_len div (om.channels * 2)").cast(LongType).as("n_samples"),
        expr("(CAST(om.data_len AS BIGINT) div (om.channels * 2)) * 1000000 div om.sample_rate")
          .cast(LongType).as("duration_us"))
  }

  /** Shared (doc_id, MP4 blob) derivation for the video operators —
    * brand/timescale/duration dials live here once; the mm_video /
    * mm_video_trim oracle restatements must move in step. */
  /** Cross-modal A/V sync audit (`mm_av_sync`): per document, the
    * audio track's decoded duration vs the video container's — the
    * mux-quality gate a multimodal training pipeline runs before
    * trusting (frame, transcript) alignment, because a drifted pair
    * poisons every timestamped caption cut from it. ONE corpus scan
    * packs and decodes BOTH containers per row (audio via the RIFF
    * walk, video via the ISO-BMFF box scan) — the naive
    * audio-table ⋈ video-table formulation reads the corpus twice
    * and pays a doc_id shuffle for what is a row-local comparison.
    * Durations are integer µs (engine-exact), the verdict one
    * integer comparison. Scan-local, zero shuffle. */
  def avSync(spark: SparkSession, dir: String, tolUs: Long = 1000000L): DataFrame = {
    import spark.implicits._
    val channels = (col("doc_id") % 2) + 1
    val rate = when(col("lang") === "en", 16000L)
      .when(col("lang") === "de", 44100L)
      .when(col("lang") === "es", 8000L).otherwise(22050L)
    val brand = when($"lang" === "en", "isom").when($"lang" === "de", "mp42")
      .when($"lang" === "es", "avc1").otherwise("mp41")
    val timescale = when($"lang" === "en", 90000L).when($"lang" === "de", 600L)
      .when($"lang" === "es", 1000L).otherwise(30000L)
    val ticks = ($"n_chars" * 3L + $"doc_id") % 100000L
    Tables.documents(spark, dir)
      .select($"doc_id",
        Audio.pack(channels, rate, encode($"text", "UTF-8")).as("ablob"),
        Video.pack(brand, timescale, ticks, encode($"text", "UTF-8")).as("vblob"))
      .withColumn("am", Audio.decode($"ablob"))
      .withColumn("vm", Video.decode($"vblob"))
      .select($"doc_id",
        expr("(CAST(am.data_len AS BIGINT) div (am.channels * 2)) * 1000000 div am.sample_rate")
          .cast(LongType).as("audio_us"),
        expr("vm.duration * 1000000 div vm.timescale").cast(LongType).as("video_us"))
      .withColumn("drift_us", $"video_us" - $"audio_us")
      .withColumn("in_sync", abs($"drift_us") <= tolUs)
  }

  /** Image near-dup CLUSTER resolution (`mm_dedup_clusters`): the
    * visual modality's last dedup mile — [[phash]]'s banded Hamming
    * candidate pairs become connected components with one keeper per
    * component, through the SAME min-label propagation core as the
    * text cluster family ([[Dedup.componentLabels]] — joins-only,
    * checkpoint-per-round, run to convergence). A re-encoded or
    * slightly-cropped image family collapses to one kept exemplar,
    * which pairwise Hamming scores alone cannot decide. Output is
    * [[Dedup.clusters]]' shape on image ids. */
  def phashClusters(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val labels = Dedup.componentLabels(spark,
      phash(spark, dir).select($"doc_a", $"doc_b"), maxIters)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select($"node".as("doc_id"), $"label".as("cluster_id"),
        ($"node" === $"label").as("is_keeper"), $"cluster_size")
  }

  private def packedVideo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brand = when($"lang" === "en", "isom").when($"lang" === "de", "mp42")
      .when($"lang" === "es", "avc1").otherwise("mp41")
    val timescale = when($"lang" === "en", 90000L).when($"lang" === "de", 600L)
      .when($"lang" === "es", 1000L).otherwise(30000L)
    val ticks = ($"n_chars" * 3L + $"doc_id") % 100000L
    Tables.documents(spark, dir)
      .select($"doc_id",
        Video.pack(brand, timescale, ticks, encode($"text", "UTF-8")).as("blob"))
  }

  /** The video modality through the same column pattern: blobs carry
    * a REAL ISO-BMFF box structure (ftyp brand / moov>mvhd timescale+
    * duration / mdat payload — see [[graft.plans.Video]]); decode is
    * a genuine top-level box scan and duration derives by integer µs
    * arithmetic from the parsed timescale. Scan-local, zero
    * shuffle. */
  def video(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedVideo(spark, dir)
      .withColumn("m", Video.decode($"blob"))
      .select($"doc_id",
        octet_length($"blob").cast(LongType).as("n_bytes"),
        $"m.brand".as("brand"),
        $"m.timescale".as("timescale"),
        $"m.duration".as("duration_ticks"),
        expr("m.duration * 1000000 div m.timescale").cast(LongType).as("duration_us"),
        $"m.mdat_len".cast(LongType).as("mdat_len"),
        Frame.byteSum(expr("substring(blob, m.payload_off + 1, 8)"), lit(8L))
          .as("payload_head_sum"))
  }

  /** Keyframe (sync-sample) extraction through the REAL stss wire
    * format (`mm_video_keyframes`): blobs carry a spec-nested
    * trak > mdia > minf > stbl > stss chain (u32 entry table), and the
    * decoder finds it by recursive box descent — the container-aware
    * complement of mm_framesample's time-uniform sampling: a video
    * pipeline that samples at KEYFRAMES decodes k frames instead of
    * seeking+decoding GOP runs, which at 100 TB of video is the
    * difference between touching ~2% and ~100% of coded bytes.
    * Outputs derive from the PARSED table (count, first/last index,
    * index sum), never from the generator dials — a pack/parse
    * mismatch fails the oracle loudly. Scan-local, zero shuffle. */
  def videoKeyframes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val brand = when($"lang" === "en", "isom").when($"lang" === "de", "mp42")
      .when($"lang" === "es", "avc1").otherwise("mp41")
    val timescale = when($"lang" === "en", 90000L).when($"lang" === "de", 600L)
      .when($"lang" === "es", 1000L).otherwise(30000L)
    val ticks = ($"n_chars" * 3L + $"doc_id") % 100000L
    Tables.documents(spark, dir)
      .select($"doc_id",
        Video.packSync(brand, timescale, ticks, encode($"text", "UTF-8"),
          ($"n_chars" % 50L) + 10L, ($"doc_id" % 7L) + 1L).as("blob"))
      .withColumn("sync", Video.syncSamples($"blob"))
      .select($"doc_id",
        size($"sync").cast(LongType).as("n_sync"),
        element_at($"sync", 1).as("first_sync"),
        element_at($"sync", -1).as("last_sync"),
        aggregate($"sync", lit(0L), _ + _).as("sync_sum"))
  }

  /** Transform through the video codec (the mm_resize/mm_audio_
    * downsample twin): decode each blob, halve the mvhd duration AND
    * keep the first half of the mdat payload (a container-level trim
    * — sample-accurate cutting would consult the stbl tables behind
    * the same boundary), re-pack a real box structure, decode the
    * OUTPUT bytes. */
  def videoTrim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    packedVideo(spark, dir)
      .withColumn("m", Video.decode($"blob"))
      .withColumn("out", Video.pack(
        expr("m.brand"),
        expr("m.timescale"),
        expr("m.duration div 2"),
        expr("substring(blob, m.payload_off + 1, m.mdat_len div 2)")))
      .withColumn("om", Video.decode($"out"))
      .select($"doc_id",
        octet_length($"out").cast(LongType).as("n_bytes"),
        $"om.brand".as("brand"),
        $"om.duration".as("duration_ticks"),
        expr("om.duration * 1000000 div om.timescale").cast(LongType).as("duration_us"),
        $"om.mdat_len".cast(LongType).as("mdat_len"))
  }

  /** Transform through the codec: decode each blob, halve its canvas
    * (floor, min 1), re-pack a REAL header at the new dimensions over
    * the truncated payload, and decode the OUTPUT blob again — the
    * reported metadata comes from parsing the transformed bytes, not
    * from the input formulas, so the whole decode→transform→encode→
    * decode path is exercised. Pixel resampling itself would sit at
    * the payload step with an imaging library (absent here by
    * design); header/payload plumbing is the genuine wire format. */
  def resize(spark: SparkSession, dir: String, payloadCap: Int = 16): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", blobCol.as("blob"))
      .withColumn("m", Image.decode($"blob"))
      .withColumn("out", Image.pack($"m.format",
        greatest(floor($"m.width" / 2), lit(1)).cast(LongType),
        greatest(floor($"m.height" / 2), lit(1)).cast(LongType),
        expr(s"substring(blob, m.payload_off + 1, $payloadCap)")))
      .withColumn("om", Image.decode($"out"))
      .select($"doc_id",
        $"om.format".as("format"),
        $"om.width".cast(LongType).as("width"),
        $"om.height".cast(LongType).as("height"),
        octet_length($"out").cast(LongType).as("n_bytes"))
  }
}
