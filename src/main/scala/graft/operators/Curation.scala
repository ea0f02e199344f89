package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.TextFns
import graft.sources.Tables

/** Corpus-curation operators a large-scale training-data pipeline
  * runs beyond per-document scoring: per-source volume caps,
  * corpus-wide span-level deduplication, and the bloom-prefiltered
  * decontamination scale path.
  */
object Curation {

  /** Per-source corpus cap (the CommonCrawl-style per-domain quota):
    * keep the top `perSource` documents of every source ranked by a
    * quality score (token count; ties break to the smaller doc_id).
    *
    * Scale shape: top-k per group via TWO bounded stages instead of
    * one window over the raw corpus — a single `Window.partitionBy
    * (source)` puts every document of a hot source into ONE task
    * (classic skew: at 100 TB a big domain is billions of rows), so
    * stage 1 takes the per-(source, input-partition) top-k (the
    * shuffle to (source, partition) spreads a hot source over every
    * input split, keys are balanced by construction) and stage 2
    * ranks only the ≤ k-per-partition survivors. Global top-k of
    * per-partition top-ks is exactly the corpus top-k. */
  def corpusCap(spark: SparkSession, dir: String, perSource: Int = 20): DataFrame = {
    import spark.implicits._
    val scored = Tables.documents(spark, dir)
      .select($"doc_id", $"source",
        size(TextFns.tokens($"text")).cast(LongType).as("score"))
    val local = Window.partitionBy($"source", $"pid")
      .orderBy($"score".desc, $"doc_id".asc)
    val global = Window.partitionBy($"source")
      .orderBy($"score".desc, $"doc_id".asc)
    scored
      .withColumn("pid", spark_partition_id())
      .withColumn("lrn", row_number().over(local))
      .filter($"lrn" <= perSource)
      .withColumn("rnk", row_number().over(global).cast(LongType))
      .filter($"rnk" <= perSource)
      .select($"source", $"doc_id", $"score", $"rnk")
  }

  /** Context-window chunking (the training-sample construction step:
    * "split each document into ≤`size`-token windows every `stride`
    * tokens") through the native [[graft.plans.TokenWindows]]
    * GENERATOR — one input row fans out to its windows inside
    * Catalyst's `Generate`, the same scan-local zero-shuffle path as
    * `explode`, with no intermediate array-of-windows materialized
    * per document. Overlapping windows (stride < size) are the shape
    * `posexplode(sequence(...))` compositions pay for twice: once to
    * build every window as an array element, once to explode it. */
  def corpusWindows(spark: SparkSession, dir: String,
      size: Int = 50, stride: Int = 25): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id",
        ColumnBridge.column(graft.plans.TokenWindows(
          ColumnBridge.expression(TextFns.tokens($"text")), size, stride))
          .as(Seq("win_idx", "win_len", "win_text")))
  }

  /** Corpus-wide span-level exact dedup (the CCNet/RefinedWeb "line
    * dedup" pass, over fixed `chunkTokens`-token chunks because the
    * synthetic corpus has no newlines): every chunk keeps only its
    * FIRST occurrence — (doc_id, chunk_idx)-lexicographic minimum —
    * and each document is reassembled from its surviving chunks.
    * Boilerplate repeated across documents (headers, navigation,
    * license blocks) disappears corpus-wide while one copy survives.
    *
    * Two shuffles, both ∝ corpus tokens: first-occurrence election
    * partitions by the chunk itself (at 100 TB the key would be a
    * 128-bit chunk hash to keep exchange rows narrow — equality
    * semantics identical sans astronomically-unlikely collisions),
    * then reassembly groups by doc_id. Chunking is scan-local
    * (`slice` over the token array, no per-token explode). Documents
    * whose every chunk loses are dropped entirely — consistent with
    * the oracle. */
  def dedupLines(spark: SparkSession, dir: String, chunkTokens: Int = 10): DataFrame = {
    import spark.implicits._
    // chunks build through the native TokenChunks expression
    // (plans/TextExprs documents the value-identity with the composed
    // transform∘slice∘array_join chunking): the HOF ran the slice+join
    // INTERPRETED per chunk and re-split the tokens per reference
    // (r14; count() had pruned the chunk text and hidden the cost)
    val chunks = Tables.documents(spark, dir)
      .select($"doc_id",
        graft.plans.TextExprs.tokenChunksCol($"text", chunkTokens).as("chunks"))
      .select($"doc_id", size($"chunks").cast(LongType).as("total_chunks"),
        posexplode($"chunks").as(Seq("cidx", "chunk")))
    val firstW = Window.partitionBy($"chunk").orderBy($"doc_id".asc, $"cidx".asc)
    chunks
      .withColumn("rn", row_number().over(firstW))
      .filter($"rn" === 1)
      .groupBy($"doc_id")
      .agg(
        array_join(transform(sort_array(collect_list(struct($"cidx", $"chunk"))),
          _.getField("chunk")), " ").as("text_dedup"),
        count(lit(1)).as("kept_chunks"),
        min($"total_chunks").as("total_chunks"))
  }

  /** Boilerplate removal (the CCNet paragraph-df pass, over fixed
    * token chunks because the corpus has no newlines): a chunk that
    * appears in MORE THAN `maxDf` DISTINCT TEXTS is boilerplate
    * (headers, navigation, license blocks) and is removed from EVERY
    * document — including the first occurrence, which is what
    * distinguishes this from [[dedupLines]] (first occurrence kept).
    * Documents whose every chunk is boilerplate survive with empty
    * text (they are corpus members with audit counts, not drops —
    * dropping is [[dedupLines]]' output contract).
    *
    * Scale shape: chunking is scan-local; the df census is one
    * partial-aggregated shuffle on the chunk; the boilerplate set
    * (rare by definition at a sane maxDf) comes back as a left-anti
    * join on the chunk key; reassembly groups by doc_id. At 100 TB
    * the chunk keys would be 128-bit hashes (narrow exchange rows),
    * as with dedupLines. */
  def boilerplate(spark: SparkSession, dir: String, chunkTokens: Int = 10,
      maxDf: Int = 1): DataFrame = {
    import spark.implicits._
    // native TokenChunks chunking — same rationale as dedupLines (r14)
    def chunkify(docs: DataFrame): DataFrame = docs
      .select($"doc_id",
        graft.plans.TextExprs.tokenChunksCol($"text", chunkTokens).as("chunks"))
      .select($"doc_id", size($"chunks").cast(LongType).as("total_chunks"),
        posexplode($"chunks").as(Seq("cidx", "chunk")))
    val chunks = chunkify(Tables.documents(spark, dir))
    // df census over DISTINCT TEXTS, not documents (r11, the 100x
    // census df-cap rule): with doc-counted df, a duplication factor
    // > maxDf makes EVERY chunk "boilerplate" and strips the whole
    // corpus to empty text — clones of one text must not promote its
    // chunks to boilerplate, only genuinely cross-text repetition
    val reps = Tables.documents(spark, dir)
      .groupBy(lower($"text").as("text")).agg(min($"doc_id").as("doc_id"))
    val boiler = chunkify(reps).groupBy($"chunk")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" > maxDf)
      .select($"chunk")
    val kept = chunks.join(boiler, Seq("chunk"), "left_anti")
      .groupBy($"doc_id")
      .agg(array_join(transform(sort_array(collect_list(struct($"cidx", $"chunk"))),
          _.getField("chunk")), " ").as("text_clean"),
        count(lit(1)).as("kept_chunks"))
    chunks.groupBy($"doc_id").agg(min($"total_chunks").as("total_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"text_clean", lit("")).as("text_clean"),
        coalesce($"kept_chunks", lit(0L)).as("kept_chunks"),
        $"total_chunks")
  }

  /** Sequence packing (the concatenate-then-chunk step every LLM
    * training pipeline runs): documents concatenate in doc_id order
    * and split into fixed `ctx`-token context windows; each document
    * reports its global token offset, which pack it starts in, its
    * offset inside that pack, and whether it straddles a pack
    * boundary.
    *
    * The global running sum is the scale hazard: a bare
    * `Window.orderBy` drags the whole corpus through ONE task. This
    * plan is the classic two-phase distributed prefix sum instead,
    * keyed on DATA-derived blocks (`doc_id div blockDocs`), never on
    * physical partition ids — partition identity silently changes
    * under task merging (a downstream coalesce(1) collapses
    * TaskContext partition ids while per-parent-partition folds still
    * reset, which mispairs local sums with their bases) and under
    * repartitioning, while block keys are deterministic under ANY
    * physical layout and stay balanced because doc ids are dense.
    * Phase 1 computes block-local running sums (one balanced hash
    * shuffle of the corpus, the only one); phase 2 partial-aggregates
    * per-block totals map-side (rows crossing ∝ blocks, not corpus),
    * runs the tiny running sum over them, and BROADCASTS each block's
    * exclusive base offset back. At extreme scale the base layer
    * recurses (blocks of blocks); one level covers 10^8 blocks
    * comfortably. */
  def corpusPack(spark: SparkSession, dir: String, ctx: Int = 2048,
      blockDocs: Int = 256): DataFrame = {
    import spark.implicits._
    // decided NULL semantics (r11): packing is doc_id-ordered, not
    // hash-ordered, so a NULL-text doc STAYS in the stream and
    // contributes zero tokens (the oracle mirrors the COALESCE)
    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        coalesce(size(TextFns.tokens($"text")).cast(LongType), lit(0L)).as("n_tokens"),
        floor($"doc_id" / blockDocs.toLong).cast(LongType).as("block"))
    val localW = Window.partitionBy($"block").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = toks.withColumn("local_cum", sum($"n_tokens").over(localW))
    val baseW = Window.orderBy($"block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = toks.groupBy($"block").agg(sum($"n_tokens").as("ptotal"))
      .withColumn("base", coalesce(sum($"ptotal").over(baseW), lit(0L)))
      .select($"block", $"base")
    local.join(broadcast(bases), "block")
      .withColumn("start_off", $"base" + $"local_cum" - $"n_tokens")
      .withColumn("pack_id", floor($"start_off" / ctx.toLong).cast(LongType))
      .withColumn("off_in_pack", $"start_off" % ctx.toLong)
      .withColumn("spans_packs",
        floor(($"start_off" + $"n_tokens" - 1L) / ctx.toLong) > $"pack_id")
      .select($"doc_id", $"n_tokens", $"start_off", $"pack_id", $"off_in_pack", $"spans_packs")
  }

  /** Mixture-weighted sampling (the source-weighting step of corpus
    * assembly): each language samples at its own rate — the
    * "2 epochs of Wikipedia, 0.3 of CommonCrawl" dial — via the same
    * deterministic content-hash buckets as `sample_strata`, so the
    * mixture is reproducible across engines and cluster sizes and
    * composable with every other hash-bucketed stage. Scan-local:
    * the per-group rate is a CASE over the group key, no shuffle. */
  def sourceMix(spark: SparkSession, dir: String,
      rates: Map[String, Int] = Map("en" -> 50, "de" -> 30, "fr" -> 20),
      defaultRate: Int = 10): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    val rate = rates.foldLeft(lit(defaultRate)) { case (e, (lang, pct)) =>
      when($"lang" === lang, lit(pct)).otherwise(e)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", HashFns.hashBucket($"text"))
      .withColumn("target_pct", rate.cast(LongType))
      .filter($"bucket" < $"target_pct")
      .select($"doc_id", $"lang", $"source", $"bucket", $"target_pct")
  }

  /** Epoch multipliers — the other half of mixture weighting beside
    * [[sourceMix]]'s sampling rates: a per-language epoch count ≥ 1
    * REPLICATES documents ("2 epochs of Wikipedia") and < 1
    * subsamples them, with the fractional part resolved per document
    * by the same deterministic content-hash buckets (a 1.5-epoch
    * source emits 2 copies for the hash-lower half of its docs and 1
    * for the rest — exactly 1.5× in expectation, reproducibly).
    * Scan-local explode; output rows carry the copy index a
    * downstream shuffle/pack stage mixes on. */
  def corpusEpochs(spark: SparkSession, dir: String,
      epochs: Map[String, Double] = Map("en" -> 2.0, "de" -> 1.5, "fr" -> 0.3),
      defaultEpochs: Double = 1.0): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    def copiesFor(e: Double): (Int, Int) = {
      require(e >= 0 && e < 100, s"epoch multiplier out of range: $e")
      val base = math.floor(e).toInt
      val fracPct = math.round((e - base) * 100).toInt
      (base, fracPct)
    }
    val byLang = epochs.map { case (l, e) => l -> copiesFor(e) }
    val (defBase, defFrac) = copiesFor(defaultEpochs)
    val nCopies = byLang.foldLeft(
      lit(defBase) + when($"bucket" < defFrac, 1).otherwise(0)) {
      case (expr_, (lang, (base, frac))) =>
        when($"lang" === lang, lit(base) + when($"bucket" < frac, 1).otherwise(0))
          .otherwise(expr_)
    }
    Tables.documents(spark, dir)
      .withColumn("bucket", HashFns.hashBucket($"text"))
      .withColumn("n", nCopies.cast(LongType))
      .select($"doc_id", $"lang",
        explode(when($"n" >= 1L, sequence(lit(1L), $"n"))
          .otherwise(array().cast("array<bigint>"))).as("copy"))
  }

  /** Deterministic training-shard assignment + within-shard order
    * (the "global shuffle" a training job needs, without rand()):
    * shard = content-hash mod `nShards`, order inside the shard by
    * (hash, doc_id) — a reproducible permutation of the corpus that
    * any engine recomputes bit-identically.
    *
    * Ranking inside a shard is the scale hazard: a window partitioned
    * by shard alone has only `nShards` groups, so each task sorts
    * corpus/nShards rows. Ranks are therefore computed in two phases
    * over hash-RANGE buckets (monotone in the sort key, so bucket
    * order = rank order): local row_numbers within (shard, bucket) —
    * many balanced groups — plus each bucket's exclusive base from a
    * tiny per-bucket-counts running sum, broadcast back. Same
    * distributed-rank decomposition as [[corpusPack]]'s prefix sum. */
  def corpusShard(spark: SparkSession, dir: String, nShards: Int = 16,
      bucketWidth: Long = 16000000L): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // decided NULL semantics (r11): a NULL-text document has no
    // content hash, so it has no position in the hash permutation —
    // excluded EXPLICITLY here (and in the oracle), not implicitly by
    // a NULL bucket key dropping out of the base join
    val hashed = Tables.documents(spark, dir)
      .filter($"text".isNotNull)
      .select($"doc_id", HashFns.polyHash($"text").as("h"))
      .withColumn("shard", pmod($"h", lit(nShards.toLong)))
      .withColumn("bucket", floor($"h" / bucketWidth).cast(LongType))
    val localW = Window.partitionBy($"shard", $"bucket").orderBy($"h".asc, $"doc_id".asc)
    val local = hashed.withColumn("lrn", row_number().over(localW).cast(LongType))
    val baseW = Window.partitionBy($"shard").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = hashed.groupBy($"shard", $"bucket").agg(count(lit(1)).as("bn"))
      .withColumn("base", coalesce(sum($"bn").over(baseW), lit(0L)))
      .select($"shard", $"bucket", $"base")
    local.join(broadcast(bases), Seq("shard", "bucket"))
      .select($"doc_id", $"shard", ($"base" + $"lrn").as("pos"))
  }

  /** Token-budget corpus fill (`corpus_fill_budget`) — the
    * pretraining-mixture step that answers "which documents make the
    * first N tokens": the corpus takes a DETERMINISTIC shuffled
    * total order (content-hash rank — the [[corpusShard]]
    * discipline: re-runs are bit-identical, no rand()), and
    * documents are admitted while the running whitespace-token sum
    * stays within the budget.
    *
    * The global prefix sum never runs as one task: [[corpusShard]]'s
    * two-phase decomposition carries the TOKEN mass alongside the
    * row count — local running sums within (bucket) partitions plus
    * broadcast per-bucket token bases — so admission is decided
    * scan-local after one corpus-sized exchange. The budget
    * comparison is exact long arithmetic; token counts are
    * text_tokens' n_ws_tokens so the budget currency is shared
    * across the text family. */
  def fillBudget(spark: SparkSession, dir: String, budget: Long = 20000L,
      bucketWidth: Long = 16000000L): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    import graft.functions.TextFns
    // NULL-text docs: no content hash → no position (corpusShard's
    // decided semantics); the budget never sees their (zero) tokens
    val docs = Tables.documents(spark, dir)
      .filter($"text".isNotNull)
      .select($"doc_id", HashFns.polyHash($"text").as("h"),
        size(TextFns.tokens($"text")).cast(LongType).as("n_tokens"))
      .withColumn("bucket", floor($"h" / bucketWidth).cast(LongType))
    val localW = Window.partitionBy($"bucket").orderBy($"h".asc, $"doc_id".asc)
    val local = docs
      .withColumn("lrn", row_number().over(localW).cast(LongType))
      .withColumn("lts", sum($"n_tokens").over(localW))
    val baseW = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = docs.groupBy($"bucket")
      .agg(count(lit(1)).as("bn"), sum($"n_tokens").as("bt"))
      .withColumn("rbase", coalesce(sum($"bn").over(baseW), lit(0L)))
      .withColumn("tbase", coalesce(sum($"bt").over(baseW), lit(0L)))
      .select($"bucket", $"rbase", $"tbase")
    local.join(broadcast(bases), "bucket")
      .select($"doc_id", ($"rbase" + $"lrn").as("pos"), $"n_tokens",
        ($"tbase" + $"lts").as("cum_tokens"))
      .filter($"cum_tokens" <= budget)
  }

  /** Curriculum ordering (`corpus_curriculum`): rank the corpus by a
    * difficulty signal (content length here; any deterministic score
    * plugs in) and cut the global order into training phases — the
    * curriculum-learning data-prep step ("train on easy docs first")
    * that needs a TOTAL deterministic order so every re-run of the
    * schedule is bit-identical.
    *
    * The global rank uses [[corpusShard]]'s two-phase decomposition
    * over score-range buckets (local row_numbers + broadcast
    * per-bucket base offsets) so no single task sorts the corpus;
    * the phase cut (4·pos) div n is integer arithmetic over the
    * 0-based rank, ties broken by doc_id. */
  def curriculum(spark: SparkSession, dir: String,
      bucketWidth: Long = 64L): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"n_chars")
      .withColumn("bucket", expr(s"n_chars DIV $bucketWidth"))
    val localW = Window.partitionBy($"bucket").orderBy($"n_chars".asc, $"doc_id".asc)
    val local = docs.withColumn("lrn", row_number().over(localW).cast(LongType))
    // per-bucket cumulative bases: dimension-sized (score range /
    // bucketWidth rows), the single-task window is over buckets
    val baseW = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = docs.groupBy($"bucket").agg(count(lit(1)).as("bn"))
      .withColumn("base", coalesce(sum($"bn").over(baseW), lit(0L)))
      .select($"bucket", $"base")
    local.join(broadcast(bases), "bucket")
      .withColumn("pos", $"base" + $"lrn" - 1L)
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select($"doc_id", $"n_chars".as("difficulty"), $"pos",
        expr("(4 * pos) DIV n").as("phase"))
  }

  /** Deterministic source interleaving — the training-order step
    * after mixture weighting: documents from S sources emit in strict
    * round-robin (source 0's rank-r doc at global position r·S + 0,
    * source 1's at r·S + 1, ...) so a sequential reader sees the
    * sources evenly mixed at every prefix — without rand() anywhere,
    * the whole permutation replays bit-identically on any engine or
    * cluster size.
    *
    * Within-source order is the content-hash permutation of
    * [[corpusShard]], ranked in the same TWO phases over hash-range
    * buckets (local row_numbers + broadcast per-bucket base offsets)
    * so no single task ever sorts a whole source — the skew shape
    * that matters when one source is half the corpus. The source
    * index and source count come from a distinct-aggregate over the
    * source column (a handful of rows; broadcast back). */
  def interleave(spark: SparkSession, dir: String,
      bucketWidth: Long = 16000000L): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // decided NULL semantics (r11): round-robin needs a source group
    // and a hash position — docs with NULL source or NULL text are
    // excluded on BOTH engines (not dropped implicitly by NULL join
    // keys, which the two engines time differently)
    val docs = Tables.documents(spark, dir)
      .filter($"text".isNotNull && $"source".isNotNull)
      .select($"doc_id", $"source", HashFns.polyHash($"text").as("h"))
      .withColumn("bucket", floor($"h" / bucketWidth).cast(LongType))
    // source dim: a handful of rows — the single-task window is over
    // S rows, not the corpus
    val srcs = docs.select($"source").distinct()
      .withColumn("sidx",
        (row_number().over(Window.orderBy($"source")) - 1).cast(LongType))
    val ns = srcs.agg(count(lit(1)).as("ns"))
    val localW = Window.partitionBy($"source", $"bucket").orderBy($"h".asc, $"doc_id".asc)
    val local = docs.withColumn("lrn", row_number().over(localW).cast(LongType))
    val baseW = Window.partitionBy($"source").orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = docs.groupBy($"source", $"bucket").agg(count(lit(1)).as("bn"))
      .withColumn("base", coalesce(sum($"bn").over(baseW), lit(0L)))
      .select($"source", $"bucket", $"base")
    local.join(broadcast(bases), Seq("source", "bucket"))
      .join(broadcast(srcs), "source")
      .crossJoin(broadcast(ns))
      .select($"doc_id", $"source", $"sidx",
        ($"base" + $"lrn" - 1L).as("rank_in_source"),
        (($"base" + $"lrn" - 1L) * $"ns" + $"sidx").as("global_pos"))
  }

  /** Contrastive negative sampling (`sample_negative`) — the
    * training-pair construction step of embedding/contrastive
    * objectives (InfoNCE, triplet loss): each anchor document draws k
    * negatives from OTHER sources, deterministically — negative j of
    * anchor a is fixed by content-independent integer hashing of
    * (a, j), so the pairing replays bit-identically across engines,
    * cluster sizes, and epochs (resampling = change the salt), where
    * rand()-based draws are none of those.
    *
    * Construction: draw j picks a foreign SOURCE by hash-mod-(S−1)
    * over the source index (own source skipped by shifting), then a
    * RANK within that source by a second independent hash mod its
    * size; ranks resolve to documents through [[corpusShard]]-style
    * two-phase content-hash ranks (local row_numbers within
    * (source, hash-bucket) + broadcast per-bucket bases — no single
    * task sorts a whole source). Scale shape: the source dimension
    * (S rows) broadcasts everywhere; the only corpus-sized shuffles
    * are the rank phase and the final (source, rank) equi-join of
    * anchors×k draws against the ranked corpus — shuffle ∝ corpus +
    * anchors·k, never pairs. A single-source corpus yields no
    * negatives (mod S−1 = mod 0 → null → inner joins drop). */
  def sampleNegative(spark: SparkSession, dir: String, k: Int = 4,
      nAnchors: Long = 32L, bucketWidth: Long = 16000000L): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // interleave's decided NULL semantics: a negative draw needs a
    // source group and a hash rank — NULL-source / NULL-text docs are
    // excluded from anchors and the ranked pool on both engines
    val docs = Tables.documents(spark, dir)
      .filter($"text".isNotNull && $"source".isNotNull)
      .select($"doc_id", $"source", HashFns.polyHash($"text").as("h"))
      .withColumn("bucket", floor($"h" / bucketWidth).cast(LongType))
    val srcs = docs.groupBy($"source").agg(count(lit(1)).as("n"))
      .withColumn("sidx",
        (row_number().over(Window.orderBy($"source")) - 1).cast(LongType))
    val nS = srcs.agg(count(lit(1)).as("cnt"))
    // two-phase 0-based rank within source (corpus_shard's shape)
    val localW = Window.partitionBy($"source", $"bucket").orderBy($"h".asc, $"doc_id".asc)
    val bases = docs.groupBy($"source", $"bucket").agg(count(lit(1)).as("bn"))
      .withColumn("base", coalesce(sum($"bn").over(
        Window.partitionBy($"source").orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"source", $"bucket", $"base")
    val ranked = docs.withColumn("lrn", row_number().over(localW).cast(LongType))
      .join(broadcast(bases), Seq("source", "bucket"))
      .select($"doc_id", $"source", ($"base" + $"lrn" - 1L).as("rnk"))
    val draws = docs.filter($"doc_id" < nAnchors)
      .select($"doc_id".as("anchor_id"), $"source".as("anchor_source"))
      .join(broadcast(srcs.select($"source".as("anchor_source"), $"sidx".as("asidx"))),
        "anchor_source")
      .withColumn("slot", explode(array((0 until k).map(j => lit(j.toLong)): _*)))
      .crossJoin(broadcast(nS))
      .withColumn("t", pmod(HashFns.polyHash(
        concat($"anchor_id".cast("string"), lit(":"), $"slot".cast("string"))),
        $"cnt" - 1L))
      .withColumn("nsidx", when($"t" >= $"asidx", $"t" + 1L).otherwise($"t"))
      .join(broadcast(srcs.select($"sidx".as("nsidx"), $"source".as("neg_source"), $"n")),
        "nsidx")
      .withColumn("rnk", pmod(HashFns.polyHash(
        concat($"anchor_id".cast("string"), lit(":"), $"slot".cast("string"), lit(":neg"))),
        $"n"))
    // distinct names on the ranked side: draws and ranked share the
    // docs lineage, so attribute-reference joins would be ambiguous
    val negs = ranked.select($"doc_id".as("neg_id"), $"source".as("neg_source"),
      $"rnk".as("neg_rnk"))
    draws.join(negs, draws("neg_source") === negs("neg_source")
        && draws("rnk") === negs("neg_rnk"))
      .select($"anchor_id", $"slot", $"anchor_source", $"neg_id",
        draws("neg_source"))
  }

  /** Incremental corpus merge — the CDC/upsert step of a continuously
    * re-crawled corpus: a DELTA batch (re-crawled revisions of
    * existing documents + newly discovered ones) merges into the BASE
    * snapshot with latest-revision-wins semantics. The merge is one
    * window shuffle keyed on doc_id — rows ∝ base + delta, and at
    * 100 TB the window's per-key state is O(revisions of that key),
    * never corpus-sized; this is exactly the merge-on-read compaction
    * shape a table format runs, expressed as a plain plan.
    *
    * The delta here is derived deterministically from the corpus
    * (docs with doc_id % 7 == 0 re-crawled as revision 2 with an
    * edited length; docs with doc_id % 13 == 0 re-discovered under a
    * shifted id as revision-1 inserts) so the oracle replays it. */
  def corpusMerge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", length($"text").cast(LongType).as("n_chars"))
    val base = docs.select($"doc_id", lit(1L).as("rev"), $"n_chars")
    val updates = docs.filter($"doc_id" % 7 === 0)
      .select($"doc_id", lit(2L).as("rev"), ($"n_chars" + 7L).as("n_chars"))
    val inserts = docs.filter($"doc_id" % 13 === 0)
      .select(($"doc_id" + 100000L).as("doc_id"), lit(1L).as("rev"), $"n_chars")
    val all = base.unionByName(updates).unionByName(inserts)
    val w = Window.partitionBy($"doc_id").orderBy($"rev".desc)
    all
      .withColumn("rn", row_number().over(w))
      .withColumn("n_versions", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .filter($"rn" === 1)
      .select($"doc_id", $"rev", $"n_chars", $"n_versions")
  }

  /** Bloom-prefiltered benchmark decontamination — the 100 TB shape
    * of [[TextAnalysis.decontaminate]]: the holdout shingle set
    * aggregates into a Bloom filter INSIDE the plan (scalar subquery
    * — no driver-side collect), every corpus shingle probes the
    * broadcast filter scan-side, and only the might-contain survivors
    * reach the exact semi-join that removes false positives. The
    * result is bit-identical to the exact operator, but the join
    * input shrinks from all corpus shingles to (true matches + FP
    * rate) — at 100 TB that is the difference between shuffling the
    * corpus and shuffling a rounding error of it.
    *
    * Uses Spark's own codegen'd bloom expressions (the runtime-
    * filter machinery: BloomFilterAggregate / might_contain over
    * xxhash64). */
  def decontaminateBloom(spark: SparkSession, dir: String, holdout: Long = 50L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.shingleSet($"text", 5)).as("shingle"))
    val eval_ = sh.filter($"doc_id" < holdout).select($"shingle").distinct()
    val bloom = eval_
      .agg(ColumnBridge.column(
        new BloomFilterAggregate(ColumnBridge.expression(xxhash64($"shingle")))
          .toAggregateExpression()).as("bf"))
      .scalar()
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.expression(bloom),
      ColumnBridge.expression(xxhash64($"shingle"))))
    sh.filter($"doc_id" >= holdout)
      .filter(mightContain)
      .join(eval_, "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Small-file compaction planning — the table-maintenance op every
    * long-lived lake table needs (a crawler appends millions of tiny
    * files; scans then pay per-file open cost and lose row-group
    * pruning): bin-pack the corpus into ~`targetBytes` output files
    * in snapshot (doc_id) order and emit the compaction MANIFEST —
    * per-file doc count, byte total, and id range (the id range is
    * what lets the planner prune compacted files by min/max stats).
    *
    * A document is assigned whole to the file its global start
    * offset falls in (file_id = start div target), so file sizes
    * wobble around the target by at most one document — the standard
    * sequential first-fit every compactor uses, made deterministic by
    * the snapshot order.
    *
    * Scale posture: the global byte offsets come from the SAME
    * two-phase distributed prefix sum as [[corpusPack]] (block-local
    * running sums are the only corpus shuffle; per-block totals
    * partial-aggregate map-side and come back broadcast as ≤ nBlocks
    * numbers keyed on DATA-derived doc_id blocks, never physical
    * partition ids) — no single task ever scans the whole snapshot,
    * which is what a naive global window over 100 TB of file metadata
    * would do. The manifest aggregation after it is one
    * partial-aggregated shuffle on file_id. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long = 4096L,
      blockDocs: Int = 256): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", octet_length($"text").cast(LongType).as("n_bytes"),
        floor($"doc_id" / blockDocs.toLong).cast(LongType).as("block"))
    val localW = Window.partitionBy($"block").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("local_cum", sum($"n_bytes").over(localW))
    val baseW = Window.orderBy($"block")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = docs.groupBy($"block").agg(sum($"n_bytes").as("ptotal"))
      .withColumn("base", coalesce(sum($"ptotal").over(baseW), lit(0L)))
      .select($"block", $"base")
    local.join(broadcast(bases), "block")
      .withColumn("file_id",
        floor(($"base" + $"local_cum" - $"n_bytes") / targetBytes.toDouble)
          .cast(LongType))
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_bytes").as("file_bytes"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"))
  }

  /** Time-travel read — the snapshot-isolation contract of a
    * versioned lake table ("read the corpus AS OF commit 2"): the
    * version log filters to commits ≤ the requested revision
    * SCAN-LOCAL (with the log partitioned by commit this is partition
    * pruning — later commits are never read), then latest-wins per
    * doc_id through one window shuffle, exactly [[corpusMerge]]'s
    * merge-on-read shape pointed at the past. Documents first
    * discovered after the as-of revision don't exist yet; documents
    * revised after it read at their old content.
    *
    * The simulated history extends corpusMerge's: rev 1 = the crawl,
    * rev 2 revises every 7th doc (+7 chars) and discovers every 13th
    * under a new id, rev 3 re-revises every 21st (+14) — so an as-of-2
    * read must pick rev 2 over rev 1 where both are visible AND
    * ignore rev 3 (latest-below-cutoff, not latest). Per-key state is
    * ∝ visible revisions of that key; n_visible audits how much
    * history the read consulted. */
  /** The simulated three-commit version log shared by [[timeTravel]]
    * and [[vacuum]]: rev 1 = the crawl, rev 2 revises every 7th doc
    * (+7 chars) and discovers every 13th under a new id, rev 3
    * re-revises every 21st (+14). */
  private def revLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", length($"text").cast(LongType).as("n_chars"))
    docs.select($"doc_id", lit(1L).as("rev"), $"n_chars")
      .unionByName(docs.filter($"doc_id" % 7 === 0)
        .select($"doc_id", lit(2L).as("rev"), ($"n_chars" + 7L).as("n_chars")))
      .unionByName(docs.filter($"doc_id" % 21 === 0)
        .select($"doc_id", lit(3L).as("rev"), ($"n_chars" + 14L).as("n_chars")))
      .unionByName(docs.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), lit(2L).as("rev"), $"n_chars"))
  }

  def timeTravel(spark: SparkSession, dir: String, asOfRev: Long = 2L): DataFrame = {
    import spark.implicits._
    val log = revLog(spark, dir)
    val w = Window.partitionBy($"doc_id").orderBy($"rev".desc)
    log.filter($"rev" <= asOfRev)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_visible", count(lit(1)).over(Window.partitionBy($"doc_id")))
      .filter($"rn" === 1)
      .select($"doc_id", $"rev", $"n_chars", $"n_visible")
  }

  /** Expire-snapshots planning ([[timeTravel]]'s maintenance
    * counterpart — the VACUUM/expire_snapshots every versioned lake
    * table eventually needs, or the version log grows without
    * bound): retaining only snapshots ≥ `cutoff`, a revision stays
    * REACHABLE iff some retained snapshot reads it. Since a
    * snapshot s reads latest(doc, rev ≤ s), the reachable set per
    * document collapses to a clean rule — every rev ≥ cutoff, plus
    * the latest rev ≤ cutoff (the one an as-of-cutoff read resolves
    * to); everything older is safely deletable. One window shuffle
    * on doc_id computes that latest-below mark, the per-rev manifest
    * is one partial-aggregated count — shuffle ∝ log metadata, never
    * document bodies. */
  def vacuum(spark: SparkSession, dir: String, cutoff: Long = 2L): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"doc_id")
    revLog(spark, dir)
      .withColumn("max_below", max(when($"rev" <= cutoff, $"rev")).over(w))
      .withColumn("reachable", $"rev" >= cutoff || $"rev" === $"max_below")
      .groupBy($"rev")
      .agg(count(lit(1)).as("n_revisions"),
        count(when(!$"reachable", 1)).as("n_deletable"),
        coalesce(sum(when(!$"reachable", $"n_chars")), lit(0L)).as("bytes_deletable"))
  }

  /** Snapshot diff — the audit half of [[corpusMerge]]'s CDC story
    * ("what actually changed between the last crawl and this one?"):
    * the base snapshot FULL-OUTER-joins the delta snapshot on doc_id
    * and every document classifies as added (new id), removed (id
    * gone), changed (present in both, content differs), or unchanged.
    * The delta here is the same deterministic re-crawl simulation as
    * corpusMerge: every 7th doc revised (+7 bytes), every 11th
    * dropped, every 13th re-discovered under a new id.
    *
    * Scale posture: ONE hash-partitioned full outer join on doc_id —
    * shuffle ∝ corpus metadata (id + size per side), never document
    * bodies; with both snapshots bucketed on doc_id
    * ([[graft.sources.Bucketed]]) even that exchange disappears. The
    * content comparison rides the join row (no second pass), and the
    * diff output is the incremental-processing contract: downstream
    * stages re-run only over `status <> 'unchanged'`. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", octet_length($"text").cast(LongType).as("n_bytes"))
    val delta = docs.filter($"doc_id" % 11 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 7 === 0, $"n_bytes" + 7L).otherwise($"n_bytes")
          .as("n_bytes"))
      .unionByName(docs.filter($"doc_id" % 13 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"n_bytes"))
    // classification keys on ROW presence, not byte-NULLness: a doc
    // whose text is NULL has NULL n_bytes on both sides of the join,
    // and "base_bytes IS NULL ⇒ added" would misread it (r11 --docs
    // finding); the presence markers make added/removed exact, and a
    // NULL-vs-NULL byte comparison falls through to 'unchanged' on
    // both engines (SQL <> returns NULL)
    docs.select($"doc_id", $"n_bytes".as("base_bytes"), lit(true).as("in_base"))
      .join(delta.select($"doc_id", $"n_bytes".as("delta_bytes"), lit(true).as("in_delta")),
        Seq("doc_id"), "full_outer")
      .withColumn("status",
        when($"in_base".isNull, lit("added"))
          .when($"in_delta".isNull, lit("removed"))
          .when($"base_bytes" =!= $"delta_bytes", lit("changed"))
          .otherwise(lit("unchanged")))
      .select($"doc_id", $"base_bytes", $"delta_bytes", $"status")
  }

  /** Z-order layout planning — the multi-dimensional clustering step
    * of lake-table maintenance (OPTIMIZE ... ZORDER BY): documents
    * sort by the Morton interleave of TWO dimensions (a length bucket
    * and a content-hash bucket, 8 bits each) and bin into
    * `docsPerFile`-document files, emitting the layout MANIFEST with
    * per-file min/max of BOTH dims. A linear sort clusters one
    * dimension perfectly and leaves the other's per-file ranges as
    * wide as the table (min/max pruning on it never skips a file);
    * the Z-curve keeps every file's bounding box tight on both, which
    * is what makes two-predicate scans prune. Bit interleaving is
    * pure integer arithmetic — any engine replays it.
    *
    * Scale posture: the z-key is scan-local; ranks along the curve
    * come from the SAME two-phase decomposition as [[corpusShard]]
    * (local row_numbers within z-range buckets — monotone in the sort
    * key — plus broadcast per-bucket base offsets), so no single task
    * sorts the corpus; the manifest is one partial-aggregated shuffle
    * on file_id. */
  /** (doc_id, x, y, z): the two 8-bit layout dimensions (length
    * bucket, content-hash bucket) and their Morton interleave. */
  private def zDims(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // corpusShard's decided NULL semantics: no content hash → no
    // place on the curve (both layout dims derive from text)
    val dims = Tables.documents(spark, dir)
      .filter($"text".isNotNull)
      .select($"doc_id",
        least(floor(length($"text") / 4).cast(LongType), lit(255L)).as("x"),
        pmod(HashFns.polyHash($"text"), lit(256L)).as("y"))
    val z = (0 until 8).map { i =>
      shiftright($"x", i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright($"y", i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
    dims.withColumn("z", z)
  }

  /** file_id per document along a sort order, without a global sort:
    * the two-phase rank of [[corpusShard]] over `bucket` (must be
    * monotone in (sortCol, doc_id)) — local row_numbers + broadcast
    * per-bucket base offsets. */
  private def rankedFiles(keyed: DataFrame, sortCol: String,
      docsPerFile: Int): DataFrame = {
    import keyed.sparkSession.implicits._
    val localW = Window.partitionBy($"bucket").orderBy(keyed(sortCol).asc, $"doc_id".asc)
    val local = keyed.withColumn("lrn", row_number().over(localW).cast(LongType))
    val baseW = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = keyed.groupBy($"bucket").agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(sum($"bn").over(baseW), lit(0L)))
      .select($"bucket", $"boff")
    local.join(broadcast(bases), "bucket")
      .withColumn("file_id",
        floor(($"boff" + $"lrn" - 1L) / docsPerFile.toLong).cast(LongType))
  }

  def zorder(spark: SparkSession, dir: String, docsPerFile: Int = 32): DataFrame = {
    import spark.implicits._
    val keyed = zDims(spark, dir)
      .withColumn("bucket", floor($"z" / 64L).cast(LongType))
    rankedFiles(keyed, "z", docsPerFile)
      .groupBy($"file_id")
      .agg(count(lit(1)).as("n_docs"),
        min($"x").as("x_min"), max($"x").as("x_max"),
        min($"y").as("y_min"), max($"y").as("y_max"),
        min($"z").as("z_min"), max($"z").as("z_max"))
  }

  /** Min/max pruning payoff — the query-planning half of [[zorder]]
    * (why a table pays for the curve at all): the SAME two-predicate
    * scan (x and y each restricted to a quarter of their range) is
    * planned against per-file min/max stats under BOTH layouts —
    * z-ordered files vs snapshot-order (doc_id) files — and every
    * file reports whether the planner would skip it. Linear layout
    * leaves y's per-file ranges table-wide, so only the x bound ever
    * prunes; the Z-curve bounds both, and the pruned fraction is the
    * measured difference (spec-asserted, not assumed).
    *
    * Same scale shapes as the layouts themselves: two two-phase
    * ranks, two partial-aggregated manifests, a scan-local flag —
    * the demo never touches document bodies. */
  def pruneDemo(spark: SparkSession, dir: String, docsPerFile: Int = 32,
      xLo: Long = 32L, xHi: Long = 63L, yLo: Long = 64L, yHi: Long = 127L): DataFrame = {
    import spark.implicits._
    val dims = zDims(spark, dir)
    def manifest(keyed: DataFrame, sortCol: String, layout: String): DataFrame = {
      import keyed.sparkSession.implicits._
      rankedFiles(keyed, sortCol, docsPerFile)
        .groupBy($"file_id")
        .agg(count(lit(1)).as("n_docs"),
          min($"x").as("x_min"), max($"x").as("x_max"),
          min($"y").as("y_min"), max($"y").as("y_max"))
        .select(lit(layout).as("layout"), $"file_id", $"n_docs",
          $"x_min", $"x_max", $"y_min", $"y_max")
    }
    val zm = manifest(dims.withColumn("bucket", floor($"z" / 64L).cast(LongType)),
      "z", "zorder")
    // doc_id blocks are monotone in doc_id — the same DATA-derived
    // bucketing corpus_pack uses
    val lm = manifest(dims.withColumn("bucket",
      floor($"doc_id" / 256L).cast(LongType)), "doc_id", "linear")
    zm.unionByName(lm)
      .select($"layout", $"file_id", $"n_docs",
        (!($"x_max" >= xLo && $"x_min" <= xHi &&
          $"y_max" >= yLo && $"y_min" <= yHi)).as("pruned"))
  }

  /** Incremental materialized-view refresh — the delta-maintenance
    * contract behind every "keep the dashboard aggregate fresh
    * without re-scanning the corpus" pipeline: the per-language
    * (n_docs, total_bytes) view updates from the DELTA alone. Each
    * delta class contributes its algebraic difference — a removal
    * (-1, -bytes), a revision (0, byte delta), an insert (+1, +bytes)
    * — the contributions aggregate (shuffle ∝ DELTA, never corpus),
    * and one full-outer merge against the standing view applies them.
    * Count/sum views are self-maintainable this way; min/max are not
    * (a removal can expose a new min only a rescan finds) — which is
    * exactly why production MV engines restrict the aggregate algebra.
    *
    * The delta replays [[snapshotDiff]]'s deterministic re-crawl
    * (every 7th doc revised +7 bytes, every 11th removed, every 13th
    * re-discovered under a new id), and the oracle computes the view
    * DIRECTLY over the merged corpus — the incremental path must be
    * indistinguishable from the full recompute. */
  def mvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val docs = mvDocs(spark, dir)
    mvMerge(docs, mvDeltaSums(mvDelta(docs)))
  }

  /** The (doc_id, lang, n_bytes) documents [[mvRefresh]] reads. */
  private[graft] def mvDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", octet_length($"text").cast(LongType).as("n_bytes"))
  }

  /** The re-crawl delta of [[mvRefresh]] over [[mvDocs]]: one
    * (doc_id, lang, d_docs, d_bytes) row per contribution. */
  private[graft] def mvDelta(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val removed = docs.filter($"doc_id" % 11 === 0)
      .select($"doc_id", $"lang", lit(-1L).as("d_docs"), (-$"n_bytes").as("d_bytes"))
    // a NULL-text doc's revision contributes NOTHING to total_bytes:
    // the oracle computes `n_bytes + 7` which is NULL (skipped by its
    // SUM), and the base view never counted the doc's bytes either —
    // an unconditional +7 here would diverge the moment a NULL-text
    // doc lands on doc_id % 7 == 0 (r12 ADVICE)
    val revised = docs.filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0)
      .select($"doc_id", $"lang", lit(0L).as("d_docs"),
        when($"n_bytes".isNotNull, lit(7L)).otherwise(lit(0L)).as("d_bytes"))
    val added = docs.filter($"doc_id" % 13 === 0)
      .select($"doc_id", $"lang", lit(1L).as("d_docs"), $"n_bytes".as("d_bytes"))
    removed.unionByName(revised).unionByName(added)
  }

  /** The delta fold of [[mvRefresh]]: (d_docs, d_bytes) sums per
    * `by` and lang, shared with the streaming twin (StreamMvRefresh),
    * which adds its snapshot to `by`. */
  def mvDeltaSums(delta: DataFrame, by: Column*): DataFrame =
    delta.groupBy(by :+ col("lang"): _*)
      .agg(sum(col("d_docs")).as("d_docs"), sum(col("d_bytes")).as("d_bytes"))

  /** The standing per-language view over [[mvDocs]] merged with the
    * (lang, d_docs, d_bytes) delta sums, shared with the streaming
    * twin. */
  def mvMerge(docs: DataFrame, deltaSums: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val baseMv = docs.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_bytes").as("total_bytes"))
    // NULL-SAFE merge key: lang is a GROUPING value, so the NULL-lang
    // group must reconcile like any other — a plain equi full-outer
    // would emit the base and delta NULL groups as TWO rows (SQL NULL
    // never equals NULL; r10 documents-adversarial finding)
    baseMv.as("b").join(deltaSums.as("d"), $"b.lang" <=> $"d.lang", "full_outer")
      .select(coalesce($"b.lang", $"d.lang").as("lang"),
        (coalesce($"n_docs", lit(0L)) + coalesce($"d_docs", lit(0L))).as("n_docs"),
        (coalesce($"total_bytes", lit(0L)) + coalesce($"d_bytes", lit(0L)))
          .as("total_bytes"))
  }

  /** One-scan column profiler — the ANALYZE-TABLE pass that feeds
    * optimizer statistics, data-quality dashboards, and schema
    * drift detection: per column, row/null/distinct counts and
    * min/max (as strings, so one long-format schema covers every
    * column type; string min/max prefixes to 16 chars for the text
    * column). ONE scan computes all five columns' profiles — the
    * multi-distinct aggregate plans through Catalyst's Expand
    * (rows × distinct-columns, partial-aggregated map-side) rather
    * than five separate corpus passes; the wide one-row result then
    * unpivots scan-locally to (column_name, metric...) rows. */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    val docs = Tables.documents(spark, dir)
    val agg1 = docs.agg(
      count(lit(1)).as("n_rows"),
      count($"doc_id").as("nn0"), countDistinct($"doc_id").as("nd0"),
      min($"doc_id").cast(StringType).as("mn0"), max($"doc_id").cast(StringType).as("mx0"),
      count($"lang").as("nn1"), countDistinct($"lang").as("nd1"),
      min($"lang").as("mn1"), max($"lang").as("mx1"),
      count($"source").as("nn2"), countDistinct($"source").as("nd2"),
      min($"source").as("mn2"), max($"source").as("mx2"),
      count($"n_chars").as("nn3"), countDistinct($"n_chars").as("nd3"),
      min($"n_chars").cast(StringType).as("mn3"), max($"n_chars").cast(StringType).as("mx3"),
      count($"text").as("nn4"), countDistinct($"text").as("nd4"),
      substring(min($"text"), 1, 16).as("mn4"), substring(max($"text"), 1, 16).as("mx4"))
    val rows = Seq("doc_id" -> "0", "lang" -> "1", "source" -> "2",
      "n_chars" -> "3", "text" -> "4").map { case (name, i) =>
      struct(lit(name).as("column_name"), $"n_rows",
        ($"n_rows" - col(s"nn$i")).as("n_nulls"),
        col(s"nd$i").as("n_distinct"),
        col(s"mn$i").as("min_v"), col(s"mx$i").as("max_v"))
    }
    agg1.select(explode(array(rows: _*)).as("p")).select($"p.*")
  }

  /** MERGE / upsert (`corpus_upsert`): apply a change set — updates,
    * deletes, inserts — to the corpus snapshot in one pass, the
    * lakehouse write primitive behind every incremental corpus
    * refresh. The change set here derives deterministically from the
    * snapshot itself (doc_id mod 10: 0 → update with a ' v2' text
    * revision, 1 → delete, 2 → insert a 'copy: ' twin under a shifted
    * id) so the DuckDB oracle can restate the merge as plain set
    * algebra; in production the changes arrive from an ingest feed.
    *
    * Scale shape: the merge is `snapshot LEFT ANTI (changed keys)
    * ∪ updates ∪ inserts`. Changed KEYS broadcast (a change set is
    * tiny next to the snapshot), so the anti-join that retires old
    * row versions is map-side — the snapshot never shuffles; at
    * 100 TB that is the difference between rewriting the table
    * through an exchange and streaming it partition-local past a
    * broadcast hash set. Output is the per-source post-merge profile
    * (count, char mass, content-hash checksum) so the gate verifies
    * CONTENT, not just cardinality. */
  def upsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    val snap = Tables.documents(spark, dir)
    val m = pmod($"doc_id", lit(10L))
    val updates = snap.filter(m === 0)
      .select($"doc_id", concat($"text", lit(" v2")).as("text"),
        $"lang", $"source", ($"n_chars" + 3L).as("n_chars"))
    val deletes = snap.filter(m === 1).select($"doc_id")
    val inserts = snap.filter(m === 2)
      .select(($"doc_id" + 1000000L).as("doc_id"),
        concat(lit("copy: "), $"text").as("text"),
        $"lang", $"source", ($"n_chars" + 6L).as("n_chars"))
    val changedKeys = updates.select($"doc_id").unionByName(deletes)
    val merged = snap.join(broadcast(changedKeys), Seq("doc_id"), "left_anti")
      .unionByName(updates).unionByName(inserts)
    merged.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("sum_chars"),
        sum(HashFns.polyHash($"text")).as("text_hash_sum"))
  }
}
