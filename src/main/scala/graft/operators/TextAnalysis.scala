package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{HashFns, TextFns}
import graft.sources.Tables

/** Text-analysis operators over the documents table: language ID,
  * quality scoring, token counting, fingerprinting. Pure codegen'd
  * column expressions — scan-local (no shuffle at all), so they
  * stream at 100 TB limited only by IO.
  */
object TextAnalysis {

  /** n-gram/stopword-heuristic language ID vs the labeled lang. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    val counts = TextFns.langMarkers.map { case (lang, ms) =>
      lang -> TextFns.markerCount(toks, ms)
    }
    val mx = greatest(counts.map(_._2): _*)
    // when-chain in alphabetical order: 'de' wins ties over 'en', etc.
    val predOrdered = counts.reverse.foldLeft(lit("und"): Column) {
      case (e, (lang, c)) => when(c === mx, lit(lang)).otherwise(e)
    }
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", predOrdered.as("pred_lang"))
      .withColumn("is_match", $"pred_lang" === $"lang")
  }

  /** Quality signals: token counts, mean token length, punctuation /
    * digit / stopword ratios, and a boolean quality gate. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    val nTok = size(toks).cast(LongType)
    val tokLenSum = aggregate(transform(toks, t => length(t).cast(LongType)), lit(0L), _ + _)
    val nChars = length($"text").cast(LongType)
    val punct = nChars - length(regexp_replace($"text", "[.,!?;:]", "")).cast(LongType)
    val digits = nChars - length(regexp_replace($"text", "[0-9]", "")).cast(LongType)
    val stops = TextFns.markerCount(toks, Seq("the", "and", "of", "to", "is")).cast(LongType)
    // zero-denominator guard, mirrored in the oracle's CASE: an
    // empty document has no char/token mass to ratio — NULL, not a
    // DIVIDE_BY_ZERO crash (ANSI) or an engine-divergent NaN
    def ratio(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den > 0L, num.cast(DoubleType) / den.cast(DoubleType))
    Tables.documents(spark, dir).select(
      $"doc_id",
      nChars.as("n_chars_actual"),
      nTok.as("n_tokens"),
      ratio(tokLenSum, nTok).as("avg_token_len"),
      ratio(punct, nChars).as("punct_ratio"),
      ratio(digits, nChars).as("digit_ratio"),
      ratio(stops, nTok).as("stop_ratio"))
      .withColumn("is_quality", $"n_tokens" >= 10 && $"punct_ratio" < 0.1)
  }

  /** The COMPOSED training-corpus pipeline — the end-to-end run a
    * 100 TB data-curation job executes as ONE declarative plan, here
    * over the engine's own operators so Catalyst fuses the stages:
    *
    *   1. quality gate  (scan-local: ≥10 tokens, punct ratio < 0.1)
    *   2. dedup         (left-semi vs [[Dedup.applyDedup]]'s
    *                     survivor set — losers of verified MinHash
    *                     clusters drop; shuffle ∝ duplicates)
    *   3. decontamination (left-anti vs the holdout-shingle overlap
    *                     set of [[decontaminate]] — inverted-index
    *                     join, never a cross join)
    *   4. stratified sample (scan-local content-hash bucket < pct)
    *
    * The scan-local predicates (1, 4) evaluate in the FIRST pass over
    * the corpus and the two joins carry only doc ids, so the pipeline
    * adds one semi + one anti join to a single corpus scan — it never
    * re-tokenizes per stage. Output: the surviving training corpus
    * with its audit columns. */
  def corpusPipeline(spark: SparkSession, dir: String, holdout: Long = 50L,
      bucketPct: Int = 20): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    val toks = TextFns.tokens($"text")
    val nTok = size(toks).cast(LongType)
    val nChars = length($"text").cast(LongType)
    val punct = nChars - length(regexp_replace($"text", "[.,!?;:]", "")).cast(LongType)
    val base = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source",
        nTok.as("n_tokens"),
        (punct.cast(DoubleType) / nChars.cast(DoubleType)).as("punct_ratio"),
        (HashFns.polyHash($"text") % 100).as("bucket"))
      .filter($"n_tokens" >= 10 && $"punct_ratio" < 0.1 && $"bucket" < bucketPct)
    val survivors = Dedup.applyDedup(spark, dir).select($"doc_id")
    val contaminated = decontaminate(spark, dir, holdout).select($"doc_id")
    base
      .join(survivors, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_tokens", $"bucket")
  }

  /** Token counting: whitespace tokens, regex sub-tokens ("BPE-ish"
    * word/number/punct units), and a chars/4 BPE estimate. */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      size(TextFns.tokens($"text")).cast(LongType).as("n_ws_tokens"),
      size(regexp_extract_all(lower($"text"), lit(TextFns.subTokenPattern), lit(0)))
        .cast(LongType).as("n_sub_tokens"),
      ceil(length($"text") / lit(4.0d)).cast(LongType).as("est_bpe_tokens"))
  }

  /** Corpus vocabulary stats: top-20 terms by document frequency
    * (explode → two-level aggregation with map-side partials; the
    * classic heavy-hitters shape that scales by partial-aggregating
    * before the shuffle). Deterministic ties via term ordering. */
  def topTerms(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(array_distinct(TextFns.tokens($"text"))).as("term"))
      .groupBy($"term")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy($"doc_freq".desc, $"term".asc)
      .limit(k)
  }

  /** BPE merge-candidate counting — one round of the tokenizer-
    * training inner loop ("count every adjacent token pair across the
    * corpus, merge the most frequent"): pair construction is
    * SCAN-LOCAL (zip_with of the token array against its own tail —
    * no per-token explode before pairing, so nothing corpus-sized
    * materializes per row), then the explode feeds one partial-
    * aggregated count shuffle and the top-k leaves through
    * TakeOrdered. At 100 TB this is the exact plan a distributed BPE
    * trainer runs per merge round; ties break on the pair text. */
  /** Bigram-LM quality proxy (the perplexity stand-in that needs no
    * model weights and no floating-point log): score a document by
    * how CORPUS-TYPICAL its token bigrams are — the per-occurrence
    * mean document frequency of its bigrams. Natural prose reuses
    * bigrams the corpus reuses (high mean df); gibberish, boilerplate
    * markup, and wrong-language text sit in the df tail. A true
    * n-gram LM scores log-probabilities — libm log diverges across
    * engines, so the score here stays in INTEGER df arithmetic
    * (exact in any aggregation order) with one final IEEE division.
    *
    * Plan: bigrams form scan-local ([[bpePairs]]' zip-with-tail — no
    * per-token explode), collapse to per-(doc, bigram) counts (one
    * partial-aggregated shuffle), df census over that (second
    * shuffle, ∝ distinct bigrams), then a hash join back and the
    * per-doc rollup. The join input is the COLLAPSED occurrence
    * table, so a corpus-hot bigram costs its distinct-doc count, not
    * its raw occurrence count. */
  def ngramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    val n = size(toks)
    val occ = Tables.documents(spark, dir)
      .select($"doc_id", explode(zip_with(
        slice(toks, lit(1), greatest(n - 1, lit(0))),
        slice(toks, lit(2), greatest(n - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("bigram"))
      .groupBy($"doc_id", $"bigram")
      .agg(count(lit(1)).as("cnt"))
    val dfc = occ.groupBy($"bigram").agg(count(lit(1)).as("df"))
    occ.join(dfc, "bigram")
      .groupBy($"doc_id")
      .agg(sum($"cnt").as("n_bigrams"), sum($"cnt" * $"df").as("sum_df"))
      .select($"doc_id", $"n_bigrams", $"sum_df",
        ($"sum_df".cast(DoubleType) / $"n_bigrams".cast(DoubleType)).as("lm_score"))
  }

  /** CCNet-style perplexity bucketing (`text_ppl_bucket`): rank every
    * document within its LANGUAGE by the [[ngramLm]] commonness score
    * and split into head/middle/tail terciles — the standard
    * LM-filtering step that keeps the head, samples the middle, and
    * drops the tail of a crawl per language.
    *
    * The tercile is NTILE(3) semantics, but computed WITHOUT a
    * per-language window: partitioning a window by language puts an
    * entire language — half the corpus, for English — into one task.
    * Instead the per-language rank comes from the same two-phase
    * distributed shape as [[Curation.corpusShard]]: score-range
    * buckets give local row_numbers (phase 1, the only corpus-wide
    * window, partitioned by (lang, bucket)), per-bucket counts
    * prefix-sum into base offsets over the tiny (lang, bucket) table
    * (phase 2, broadcast back), and the tercile falls out of the rank
    * arithmetically: floor((rank-1)·3 / n) + 1 equals NTILE(3) for
    * every n (the off-by-one products that break the identity for
    * large tile counts are bounded by 2 < n when k = 3).
    *
    * `bucketWidth` trades phase-2 table size against phase-1 task
    * size: scores live in [1, corpus docs], so at 100 TB pick a width
    * that yields thousands of buckets (the broadcast stays KB-sized)
    * while each (lang, bucket) window holds a bounded score slice. */
  def pplBucket(spark: SparkSession, dir: String,
      bucketWidth: Double = 16.0): DataFrame = {
    import spark.implicits._
    // localCheckpoint: three consumers below (local ranks, bucket
    // bases, language counts) would each replay the two-shuffle
    // ngram-LM pipeline from the scan; the checkpointed frame is the
    // narrow (doc_id, score, lang, bucket) projection — corpus rows
    // but metadata-sized columns
    val scored = ngramLm(spark, dir).select($"doc_id", $"lm_score")
      .join(Tables.documents(spark, dir).select($"doc_id", $"lang"), "doc_id")
      .withColumn("b", floor($"lm_score" / bucketWidth).cast(LongType))
      .localCheckpoint()
    val localW = Window.partitionBy($"lang", $"b")
      .orderBy($"lm_score".asc, $"doc_id".asc)
    val local = scored.withColumn("lrn", row_number().over(localW).cast(LongType))
    val baseW = Window.partitionBy($"lang").orderBy($"b".asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = scored.groupBy($"lang", $"b").agg(count(lit(1)).as("bn"))
      .withColumn("base", coalesce(sum($"bn").over(baseW), lit(0L)))
      .select($"lang", $"b", $"base")
    val counts = scored.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
    local.join(broadcast(bases), Seq("lang", "b"))
      .join(broadcast(counts), Seq("lang"))
      .select($"doc_id", $"lang", $"lm_score",
        (expr("((base + lrn - 1) * 3) div n_lang") + 1L).cast(LongType).as("bucket"))
  }

  def bpePairs(spark: SparkSession, dir: String, k: Int = 30): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    val n = size(toks)
    Tables.documents(spark, dir)
      .select(explode(zip_with(
        slice(toks, lit(1), greatest(n - 1, lit(0))),
        slice(toks, lit(2), greatest(n - 1, lit(0))),
        (a, b) => concat_ws(" ", a, b))).as("pair"))
      .groupBy($"pair")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy($"n_occurrences".desc, $"pair".asc)
      .limit(k)
  }

  /** Heavy hitters through the Count-Min sketch (the frequency twin
    * of q_sketch_distinct's KMV): term document-frequencies estimated
    * from a fixed 4×1024 counter grid instead of an exact per-term
    * groupBy — at 100 TB the sketch aggregates in O(D·w) memory per
    * partition and ships ONE small array through the shuffle where
    * the exact plan ships every distinct term. The exact top-k (kept
    * here as ground truth) joins against the broadcast grid; CMS
    * estimates only ever over-count (spec-asserted), with error
    * bounded by the bucket-collision mass. */
  def cmsTopTerms(spark: SparkSession, dir: String, k: Int = 20, w: Int = 1024): DataFrame =
    // one corpus pass: the exact per-term counts feed BOTH the top-k
    // and the sketch (weighted updates are additive, so a grid built
    // from (term, doc_freq) equals one built per occurrence) — the
    // two branches share the groupBy exchange instead of each
    // re-scanning and re-exploding the corpus
    cmsTopTermsAssembly(termDocFreq(Tables.documents(spark, dir)), k, w)

  /** The (term, doc_freq) census of [[cmsTopTerms]] over documents,
    * shared with the streaming twin (StreamTopTerms). */
  def termDocFreq(docs: DataFrame): DataFrame =
    docs.select(explode(array_distinct(TextFns.tokens(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_freq"))

  /** The post-census assembly of [[cmsTopTerms]], shared with the
    * streaming twin (StreamTopTerms): grid build + top-k + estimate
    * lookups all reduce the (term, doc_freq) census — vocabulary-
    * sized, never the corpus. Building the grid from the census
    * rather than per occurrence is exactly the weighted-update
    * additivity the batch operator already exploits, which is what
    * makes a streamed census a faithful CMS feed. */
  def cmsTopTermsAssembly(byTerm: DataFrame, k: Int = 20, w: Int = 1024): DataFrame = {
    val spark = byTerm.sparkSession
    import spark.implicits._
    import graft.plans.{CountMin, Sketch}
    val cms = byTerm.agg(
      Sketch.countMinWeighted(HashFns.polyHash($"term"), $"doc_freq", w).as("cms"))
    val top = byTerm
      .orderBy($"doc_freq".desc, $"term".asc)
      .limit(k)
    val h = HashFns.polyHash($"term")
    val est = (0 until CountMin.D).map { j =>
      element_at($"cms",
        (lit(j * w) + pmod(pmod(h * CountMin.A(j) + CountMin.B(j), lit(CountMin.P31)),
          lit(w.toLong)) + 1).cast("int"))
    }
    top.crossJoin(broadcast(cms))
      .select($"term", $"doc_freq", least(est: _*).as("cms_est"))
  }

  /** TF-IDF-style top term per document: term frequency × reciprocal
    * document frequency, idf = (N+1)/(df+1). The reciprocal form (not
    * ln) is deliberate: libm ln() is not correctly-rounded and Java vs
    * DuckDB diverge in the last ulp on ~6% of inputs, while rational
    * arithmetic on exact integers is bit-identical everywhere. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val terms = docs.select($"doc_id", explode(TextFns.tokens($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = terms.groupBy($"term").agg(count(lit(1)).as("df"))
    // corpus size stays inside the plan (single-row agg broadcast to
    // every task) — no driver-side count() action, one Spark job total
    val nDf = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"score".desc, $"term".asc)
    terms.join(df, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("score",
        $"tf".cast("double") * (($"n_docs" + 1.0d) / ($"df".cast("double") + 1.0d)))
      .withColumn("rnk", row_number().over(w).cast(org.apache.spark.sql.types.LongType))
      .filter($"rnk" === 1L)
      .select($"doc_id", $"term".as("top_term"), $"score".as("tfidf"))
  }

  /** BM25 ranked retrieval (`text_bm25`): top-k documents per query,
    * the "which docs answer this query" surface [[tfidf]] (one score
    * per doc-term) does not provide. Queries are more-like-this: each
    * sampled document (doc_id ≡ 0 mod qMod — the deterministic
    * sample idiom of lshRecall) retrieves against its own term set,
    * self excluded.
    *
    * Okapi shape with the two house exactness rules:
    *  - idf is the RECIPROCAL-RATIONAL form (N − df + ½)/(df + ½) —
    *    not ln of it — because libm ln() is not correctly rounded
    *    and Java vs DuckDB diverge in the last ulp (the [[tfidf]]
    *    rule); monotone in df, so ranking semantics are Okapi's;
    *  - the per-(query, doc) score is a SUM over matched terms, and
    *    double sums are order-dependent — so each term's
    *    contribution is floored to integer MICROS first (the
    *    ann_index_stats rule: the contribution itself is a fixed
    *    arithmetic expression over exact integers, bit-identical in
    *    both engines; the integer sum is then associative, exact in
    *    any partitioning / arrival order).
    *
    * Scale shape (r11, the 100x-census fix): every corpus census and
    * the retrieval join are PROFILE-COLLAPSED — see
    * [[bm25ProfileCensus]]. The query term-set stays DF-BOUNDED —
    * each query doc keeps only its `mTerms` LOWEST-df terms (df asc,
    * term asc: the deterministic keyword-extraction cut) — but the
    * posting fan-out is now Σ profile-df over those terms, invariant
    * under corpus duplication (the doc-level join grew K² under
    * joint query+df growth and timed out at the 100x census; the
    * profile-level join is bounded by distinct-text counts). The
    * rare-term election runs per query PROFILE (identical texts
    * elect identical terms), and every election is the bounded-heap
    * TopKPairs (k structs per group cross the shuffle, not the
    * candidate set). k1 = 1.2, b = 0.75: (1−b) = 0.25 and b = 0.75
    * are exactly representable, k1/k1+1 are the same literals in
    * both engines. */
  def bm25(spark: SparkSession, dir: String, qMod: Long = 50L,
      k: Int = 5, mTerms: Int = 3): DataFrame = {
    import spark.implicits._
    val (prof, postingsP, dlP, stats, dfreq) =
      bm25ProfileCensus(spark, dir, k + 2)
    // query docs → their profile: the only query-side corpus work is
    // one equi-join of the sampled texts against the profile table
    val qprof = Tables.documents(spark, dir)
      .filter(pmod($"doc_id", lit(qMod)) === 0L)
      .select($"doc_id".as("query_doc_id"), $"text")
      .join(prof.select($"text", $"pid".as("q_pid")), Seq("text"))
      .select($"query_doc_id", $"q_pid")
    val qpids = qprof.select($"q_pid").distinct()
    val wq = Window.partitionBy($"q_pid").orderBy($"df".asc, $"term".asc)
    val qterms = postingsP
      .select($"pid".as("q_pid"), $"term")
      .join(qpids, Seq("q_pid"), "left_semi")
      .join(dfreq, "term")
      .withColumn("qrn", row_number().over(wq))
      .filter($"qrn" <= mTerms)
      .crossJoin(broadcast(stats))
      .select($"q_pid", $"term", $"df", $"n_docs", $"tot_tokens")
    val avgdl = $"tot_tokens".cast(DoubleType) / $"n_docs".cast(DoubleType)
    val idfW = ($"n_docs".cast(DoubleType) - $"df".cast(DoubleType) + 0.5d) /
      ($"df".cast(DoubleType) + 0.5d)
    val denom = $"tf".cast(DoubleType) +
      lit(1.2d) * (lit(0.25d) + lit(0.75d) * ($"dl".cast(DoubleType) / avgdl))
    val contribMicro =
      floor(idfW * (($"tf".cast(DoubleType) * 2.2d) / denom) * 1000000.0d)
    // profile-level scoring: NO self-exclusion here (the query's own
    // profile scores too — its clone members are legitimate results,
    // only the query doc itself is dropped, at expansion below)
    val scored = qterms
      .join(postingsP.select($"pid", $"term", $"tf"), Seq("term"))
      .join(dlP.select($"pid", $"dl"), Seq("pid"))
      .select($"q_pid", $"pid", contribMicro.as("cm"))
      .groupBy($"q_pid", $"pid")
      .agg(sum($"cm").as("score_micro"))
    // top-(k+1) PROFILES by (score desc, pid asc) — pid IS the
    // profile's smallest member id, so any profile ranked above a
    // candidate contributes at least one doc that outranks it; k+1
    // covers the true top-(k+1) docs INCLUDING a possible self
    val topProfiles = scored.groupBy($"q_pid")
      .agg(graft.plans.Sketch.topKPairs(
        $"score_micro".cast(DoubleType), $"pid", k + 1).as("top"))
      .select($"q_pid", explode($"top").as("e"))
      .select($"q_pid", $"e.key".as("pid"),
        $"e.value".cast(LongType).as("score_micro"))
    // expand the winners by their k+2 smallest member ids and
    // re-elect top-(k+1) DOCS — (k+1)·(k+2) rows per query profile
    val topDocs = topProfiles
      .join(prof.select($"pid", $"keep"), Seq("pid"))
      .select($"q_pid", $"score_micro", explode($"keep").as("m"))
      .groupBy($"q_pid")
      .agg(graft.plans.Sketch.topKPairs(
        $"score_micro".cast(DoubleType), $"m.key", k + 1).as("top"))
    // per query MEMBER: drop self, keep k — the heap order
    // (score desc, doc_id asc) is the ranking order, and removing
    // one element from a true top-(k+1) leaves the true top-k of
    // the rest; micros < 2^53 so the heap's double is exact
    val wr = Window.partitionBy($"query_doc_id")
      .orderBy($"score_micro".desc, $"doc_id".asc)
    topDocs.join(qprof, Seq("q_pid"))
      .select($"query_doc_id", explode($"top").as("e"))
      .select($"query_doc_id", $"e.key".as("doc_id"),
        $"e.value".cast(LongType).as("score_micro"))
      .where($"doc_id" =!= $"query_doc_id")
      .withColumn("rnk", row_number().over(wr).cast(LongType))
      .filter($"rnk" <= k)
      .select($"query_doc_id", $"doc_id", $"score_micro",
        ($"score_micro".cast(DoubleType) / 1000000.0d).as("score"), $"rnk")
  }

  /** Profile-collapsed BM25 censuses, shared by [[bm25]] and
    * [[bm25Query]]: documents GROUP BY their full text first and
    * every corpus census (postings / doc length / corpus stats / df)
    * runs per DISTINCT TEXT, weighted by the profile's member count
    * where the statistic is doc-level (df, n_docs, tot_tokens).
    * Identical texts have identical tf and dl — hence identical BM25
    * scores against ANY query — so scoring (query-profile ×
    * doc-profile) pairs instead of (query, doc) pairs changes no
    * emitted row while making the retrieval work invariant under
    * corpus duplication. Measured need, 100x census: 500k docs over
    * a 31-word vocabulary put every "rare" term in ~75% of docs, so
    * the doc-level candidate join (|queries| · Σ df — both factors
    * growing with K) hit 11G rows and timed out at >600 s; the
    * profile-level join is bounded by distinct-text counts, which
    * verbatim amplification does not grow.
    *
    * Exact doc-id expansion: each profile keeps its `kKeep` = k+2
    * smallest member ids (bounded TopKPairs on -doc_id — never a
    * full member list, so an all-clones corpus cannot blow a
    * buffer). A doc in the true top-(k+1) of any query has at most k
    * same-profile smaller-id members ranked above it, so the keep
    * list provably contains every doc that can appear in an emitted
    * top-k even after one self-exclusion. */
  private def bm25ProfileCensus(spark: SparkSession, dir: String,
      kKeep: Int): (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    // the profile table feeds THREE consumers with different pruned
    // columns (token censuses, the keep-list join, the query-side
    // text join) — distinct ReadSchemas defeat exchange reuse, so
    // materialize it once (transient checkpoint, drained per
    // query/rep like the dedup label checkpoints; measured at 1x:
    // 3 scans+groupBys cost bm25 ~0.8 s)
    val prof = Dedup.localCheckpointTransient(
      Tables.documents(spark, dir)
        .groupBy($"text")
        .agg(min($"doc_id").as("pid"), count(lit(1)).as("members"),
          graft.plans.Sketch.topKPairs(
            -$"doc_id".cast(DoubleType), $"doc_id", kKeep).as("keep")))
    val toksP = prof
      .select($"pid", $"members", explode(TextFns.tokens($"text")).as("term"))
    val postingsP = toksP.groupBy($"pid", $"members", $"term")
      .agg(count(lit(1)).as("tf"))
    val dlP = toksP.groupBy($"pid", $"members").agg(count(lit(1)).as("dl"))
    // corpus stats stay inside the plan (single-row agg, broadcast)
    val stats = dlP.agg(sum($"members").as("n_docs"),
      sum($"dl" * $"members").as("tot_tokens"))
    val dfreq = postingsP.groupBy($"term").agg(sum($"members").as("df"))
    (prof, postingsP, dlP, stats, dfreq)
  }

  /** The fixed free-text query set `text_bm25_query` ranks by default
    * — a PARAMETER in the API ([[bm25Query]]'s `queries`), literal
    * here so the oracle can restate it as a VALUES list. */
  val DefaultBm25Queries: Seq[(Long, String)] = Seq(
    0L -> "fast sort merge",
    1L -> "spark query window",
    2L -> "dup stream",
    3L -> "customer table scan",
    4L -> "big data batch")

  /** Free-text BM25 retrieval (`text_bm25_query`) — the second query
    * mode beside [[bm25]]'s more-like-this: the caller supplies a
    * PARAMETERIZED QUERY TABLE (query_id, query_text), the query text
    * tokenizes with the corpus tokenizer, and each distinct query
    * term retrieves through the SAME posting/df/dl censuses and the
    * same exactness discipline (reciprocal-rational idf, per-term
    * contributions floored to integer micros so the per-(query, doc)
    * sum is order-free, bounded-heap top-k election — k structs per
    * query cross the shuffle).
    *
    * Differences from the more-like-this mode, both deliberate:
    *  - no df-based term cut: a user's query is already short, and
    *    dropping their rarest-N terms would change the question; the
    *    posting fan-out is Σ df(term) over the query terms — bounded
    *    by |queries|·terms·N, linear in the corpus (what any search
    *    engine pays for a stop-wordy query), never pairs;
    *  - query terms ABSENT from the corpus vocabulary contribute
    *    nothing (inner join with the df census) — a query with no
    *    known term returns no rows, identically on both engines;
    *  - classic Okapi query-side weighting (qtf/k3) is omitted:
    *    query terms are DISTINCT (array_distinct before the explode),
    *    so repeated words in the query text don't double-score. */
  def bm25Query(spark: SparkSession, dir: String,
      queries: Seq[(Long, String)] = DefaultBm25Queries, k: Int = 5): DataFrame = {
    import spark.implicits._
    val (prof, postingsP, dlP, stats, dfreq) =
      bm25ProfileCensus(spark, dir, k + 2)
    // the query table is driver-provided and tiny: broadcast it into
    // the posting join so the only corpus-sized work is the censuses
    val qterms = queries.toDF("query_id", "query_text")
      .select($"query_id",
        explode(array_distinct(TextFns.tokens($"query_text"))).as("term"))
      .join(dfreq, "term")
      .crossJoin(broadcast(stats))
    val avgdl = $"tot_tokens".cast(DoubleType) / $"n_docs".cast(DoubleType)
    val idfW = ($"n_docs".cast(DoubleType) - $"df".cast(DoubleType) + 0.5d) /
      ($"df".cast(DoubleType) + 0.5d)
    val denom = $"tf".cast(DoubleType) +
      lit(1.2d) * (lit(0.25d) + lit(0.75d) * ($"dl".cast(DoubleType) / avgdl))
    val contribMicro =
      floor(idfW * (($"tf".cast(DoubleType) * 2.2d) / denom) * 1000000.0d)
    // profile-level scoring + exact doc expansion (no self to
    // exclude here, so top-k profiles / k+2 kept members suffice) —
    // see bm25ProfileCensus for the exactness argument
    val scored = broadcast(qterms)
      .join(postingsP.select($"pid", $"term", $"tf"), Seq("term"))
      .join(dlP.select($"pid", $"dl"), Seq("pid"))
      .select($"query_id", $"pid", contribMicro.as("cm"))
      .groupBy($"query_id", $"pid")
      .agg(sum($"cm").as("score_micro"))
    val topProfiles = scored.groupBy($"query_id")
      .agg(graft.plans.Sketch.topKPairs(
        $"score_micro".cast(DoubleType), $"pid", k).as("top"))
      .select($"query_id", explode($"top").as("e"))
      .select($"query_id", $"e.key".as("pid"),
        $"e.value".cast(LongType).as("score_micro"))
    topProfiles
      .join(prof.select($"pid", $"keep"), Seq("pid"))
      .select($"query_id", $"score_micro", explode($"keep").as("m"))
      .groupBy($"query_id")
      .agg(graft.plans.Sketch.topKPairs(
        $"score_micro".cast(DoubleType), $"m.key", k).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", $"col.key".as("doc_id"),
        $"col.value".cast(LongType).as("score_micro"),
        ($"col.value" / 1000000.0d).as("score"),
        ($"pos" + 1).cast(LongType).as("rnk"))
  }

  /** Deterministic stratified sampling: keep ~`pct`% of documents per
    * stratum by content-hash bucket (hash mod 100 < pct). Hash-based
    * sampling is reproducible across runs/engines/cluster sizes —
    * unlike rand() — which is what a training-data pipeline needs for
    * auditable subsets. */
  def sampleStrata(spark: SparkSession, dir: String, pct: Int = 20): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("bucket", HashFns.hashBucket($"text"))
      .filter($"bucket" < pct)
      .select($"doc_id", $"lang", $"source", $"bucket")
  }

  /** Deterministic WEIGHTED sampling: each document keeps with
    * probability proportional to its length (capped at 1), decided by
    * content hash against a per-doc threshold — the quality/length-
    * weighted subsetting step of a training-data mix, made auditable:
    * the same doc always makes the same keep/drop decision on any
    * run, engine, or cluster size, unlike rand() < w. All integer
    * arithmetic (w_millis = least(1000, n_chars·1000 div 600) vs
    * hash mod 1000), so the oracle replays it exactly. Scan-local:
    * zero shuffle, the filter runs inside the scan's codegen stage. */
  def sampleWeighted(spark: SparkSession, dir: String, denomChars: Long = 600L): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("w_millis",
        least(lit(1000L), expr(s"n_chars * 1000 div $denomChars")))
      .filter(pmod(HashFns.polyHash($"text"), lit(1000L)) < $"w_millis")
      .select($"doc_id", $"source", $"n_chars", $"w_millis")
  }

  /** Exactly-k-per-group sampling (`sample_pergroup`): the
    * "N examples per class" cap of training-mix assembly. Where
    * [[sampleWeighted]] keeps a RATE, this keeps a COUNT: the k
    * documents with the smallest content hashes per source — a
    * deterministic uniform sample (hash order is unrelated to any
    * document property) that is stable under corpus growth except at
    * the hash boundary. Elected by the bounded-heap aggregate
    * (TopKPairs on the negated hash), so at most k (hash, id) pairs
    * per group cross the shuffle — the ROW_NUMBER formulation sorts
    * every group in full, and a hot source at 100 TB is billions of
    * rows; n_group rides the same aggregation. */
  def samplePerGroup(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .groupBy($"source")
      .agg(graft.plans.Sketch.topKPairs(
          (-HashFns.polyHash($"text")).cast(DoubleType), $"doc_id", k).as("top"),
        count(lit(1)).as("n_group"))
      .select($"source", $"n_group", posexplode($"top"))
      .select($"source", ($"pos" + 1).cast(LongType).as("rnk"),
        $"col.key".as("doc_id"), (-$"col.value").cast(LongType).as("h"),
        $"n_group")
  }

  /** Feature-hashing vectorizer (the hashing trick): terms map to a
    * FIXED bucket space (polyHash mod 64) instead of a learned
    * vocabulary, so the feature dimension — and every downstream
    * model input — is constant no matter how many distinct terms the
    * corpus holds. At 100 TB that removes the vocabulary build
    * entirely: no global term dictionary, no dictionary broadcast, no
    * OOV handling — the map side needs only the hash function. One
    * explode + one partial-aggregated shuffle keyed by (source,
    * bucket): at most sources×64 cells cross the wire regardless of
    * corpus size; the distinct-doc count rides the same aggregation. */
  def hashVec(spark: SparkSession, dir: String, buckets: Long = 64L): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", explode(TextFns.tokens($"text")).as("term"))
      .groupBy($"source",
        pmod(HashFns.polyHash($"term"), lit(buckets)).as("bucket"))
      .agg(count(lit(1)).as("tf"),
        countDistinct($"doc_id").as("n_docs"))
  }

  /** Benchmark decontamination: find training docs (doc_id ≥ holdout)
    * sharing any 5-token shingle with the holdout/eval set
    * (doc_id < holdout) — the standard n-gram overlap detector.
    * Inverted-index equi-join on the shingle; no cross join. */
  def decontaminate(spark: SparkSession, dir: String, holdout: Long = 50L): DataFrame = {
    import spark.implicits._
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.shingleSet($"text", 5)).as("shingle"))
    val eval_ = sh.filter($"doc_id" < holdout)
      .select($"shingle").distinct()
    // (doc_id, shingle) pairs are unique here — ShingleSet is distinct
    // per doc and the eval side is distinct — so a plain count equals
    // a distinct count without the two-phase distinct aggregation
    sh.filter($"doc_id" >= holdout)
      .join(eval_, "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Fraction-threshold decontamination (`decontaminate_frac`): the
    * published-pipeline refinement of [[decontaminate]] — a training
    * document is contaminated only when ≥ `pctThreshold`% of ITS OWN
    * 5-token shingles appear in the holdout set (the PaLM / GPT-4
    * style "high n-gram overlap" rule), not when it shares a single
    * incidental shingle. The any-hit rule over-rejects: one quoted
    * sentence kills a long document; the fraction rule scores overlap
    * relative to document length.
    *
    * Scale shape: identical join graph to [[decontaminate]] (inverted
    *-index semi-ish equi-join on the shingle — shuffle ∝ corpus
    * shingles, never pairs); the per-doc shingle total comes from a
    * SECOND partial-aggregated pass over the already-built shingle
    * frame, and the verdict is an exact integer cross-multiplication
    * (hit·100 ≥ total·pct) — no float division decides membership.
    * EVERY training doc reports (LEFT join of totals onto hits), so
    * the clean majority is visible in the output, not implied by
    * absence. */
  def decontaminateFrac(spark: SparkSession, dir: String, holdout: Long = 50L,
      pctThreshold: Long = 20L): DataFrame = {
    import spark.implicits._
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.shingleSet($"text", 5)).as("shingle"))
    val eval_ = sh.filter($"doc_id" < holdout)
      .select($"shingle").distinct()
    val train = sh.filter($"doc_id" >= holdout)
    // (doc, shingle) pairs unique (ShingleSet is per-doc distinct,
    // eval side distinct) → plain counts are distinct counts
    val hits = train.join(eval_, "shingle")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    train.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select($"doc_id", $"n_shingles",
        coalesce($"n_hit", lit(0L)).as("n_hit"),
        (coalesce($"n_hit", lit(0L)) * 100L >= $"n_shingles" * pctThreshold)
          .as("contaminated"))
  }

  /** PII-style redaction: mask a sensitive-term pattern
    * case-insensitively, count the redactions (scan-local, no
    * shuffle). */
  def redact(spark: SparkSession, dir: String, pattern: String = "customer"): DataFrame = {
    import spark.implicits._
    val ci = s"(?i)$pattern"
    Tables.documents(spark, dir).select(
      $"doc_id",
      regexp_replace($"text", ci, "<REDACTED>").as("redacted"),
      size(regexp_extract_all($"text", lit(ci), lit(0)))
        .cast(LongType).as("n_redactions"))
  }

  /** Repetition scoring (the Gopher/C4-style quality signal): the
    * fraction of a document's character 4-grams taken by its single
    * most frequent gram — boilerplate and keyword-stuffed documents
    * score high, natural text low.
    *
    * The metric is per-document, so it must never shuffle: the gram
    * multiset sorts IN-ROW and a fold finds the longest run of equal
    * adjacent grams (= the max multiplicity). Zero exchanges — the
    * operator streams at 100 TB limited only by IO, where an
    * explode + groupBy(doc, gram) formulation would shuffle every
    * gram occurrence in the corpus (measured 4.1 s → scan-local at
    * sf0.1). The oracle keeps the unnest+count formulation — same
    * value, engine-side shapes independent. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // one native scan-local pass yields (n_grams, top multiplicity)
    // per document (plans/TextExprs.RepGramStats documents the
    // value-identity with the composed transform+sort+fold spelling
    // it replaces — that spelling materialized and sorted the gram
    // STRINGS and ran an interpreted fold per gram, 5.6 s at sf0.1).
    // NULL text reproduces the old when().otherwise(array(lc)) branch:
    // one null gram, top count 1, fraction 1.0.
    val st = graft.plans.TextExprs.repGramStatsCol(lower($"text"), 4)
    Tables.documents(spark, dir)
      .select($"doc_id", coalesce(st, array(lit(1L), lit(1L))).as("st"))
      .select($"doc_id",
        element_at($"st", 1).as("n_grams"),
        (element_at($"st", 2).cast(DoubleType) /
          element_at($"st", 1).cast(DoubleType)).as("top_gram_frac"))
  }

  /** Document fingerprints: full-content polynomial hash plus the
    * minimum 8-gram rolling hash (winnowing-style) and the distinct
    * 8-gram count. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val grams = TextFns.charNGrams($"text", 8)
    val gramHashes = transform(grams, g => HashFns.polyHash(g))
    Tables.documents(spark, dir).select(
      $"doc_id",
      HashFns.polyHash(lower($"text")).as("full_hash"),
      array_min(gramHashes).as("min_kgram_hash"),
      size(grams).cast(LongType).as("n_distinct_kgrams"))
  }

  /** Winnowing fingerprints (`text_winnow`) — the MOSS
    * local-fingerprinting algorithm (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03), the contamination/plagiarism detector that
    * [[fingerprint]]'s single global min-hash approximates: slide a
    * window of `w` consecutive k-gram rolling hashes and keep each
    * window's MINIMUM — any shared substring of length ≥ k+w−1
    * between two documents is then GUARANTEED to share a
    * fingerprint, while only ~2/(w+1) of the grams are kept. Emitting
    * the distinct fingerprint VALUES (not positions) makes the
    * selection order-free and tie-safe on both engines.
    *
    * Shape: one native scan-local expression
    * ([[graft.plans.WinnowMins]]: direct k-gram polyhash + a
    * monotonic-deque sliding min — the interpreted HOF pipeline it
    * replaced was the engine's most expensive scan, ~30× slower) —
    * zero shuffle, zero UDF, O(n) per document; the fingerprint
    * set is the ~n/w-sized column a downstream overlap join (the
    * [[decontaminate]] family) would explode-and-join on, at 1/w the
    * volume of full shingling. `n_grams` and `n_windows` are the
    * closed forms max(len−k+1, 0) and max(g−w+1, min(g,1)) the
    * intermediate arrays' sizes reduce to — neither the gram-hash
    * array nor the repeated window-min sequence ever materializes;
    * `fps` is the DISTINCT fingerprint set, fused into the native
    * expression. */
  private[graft] def winnowArrays(spark: SparkSession, dir: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    import spark.implicits._
    val lc = lower($"text")
    val empty = array().cast("array<bigint>")
    val g = coalesce(greatest(length(lc) - (k - 1), lit(0)), lit(0))
      .cast(LongType)
    Tables.documents(spark, dir)
      .select($"doc_id",
        g.as("n_grams"),
        when(g >= w, g - (w - 1)).when(g > 0, lit(1L)).otherwise(lit(0L))
          .as("n_windows"),
        coalesce(graft.plans.TextExprs.winnowMinsCol(lc, k, w, distinct = true), empty)
          .as("fps"))
  }

  def winnow(spark: SparkSession, dir: String, k: Int = 8, w: Int = 4): DataFrame = {
    import spark.implicits._
    winnowArrays(spark, dir, k, w)
      .select($"doc_id",
        $"n_grams",
        $"n_windows",
        size($"fps").cast(LongType).as("n_fingerprints"),
        aggregate($"fps", lit(0L), _ + _).as("fp_sum"),
        array_min($"fps").as("fp_min"))
  }

  /** Winnowing-fingerprint decontamination (`decontaminate_winnow`)
    * — the [[decontaminate]] family through [[winnow]]'s local
    * fingerprints instead of full word-shingle sets: a train doc
    * sharing `minShared`+ distinct fingerprints with the eval
    * holdout is flagged, and winnowing's guarantee makes the flag
    * PRINCIPLED — any verbatim overlap of ≥ k+w−1 characters
    * surfaces at least one shared fingerprint, at ~1/w the index
    * volume of shingling (the 100 TB reason to run decontamination
    * on winnowed prints).
    *
    * Stop-gram tier (the dedup_ngram df-cap discipline): fingerprints
    * held by > `maxDf` DISTINCT TEXTS corpus-wide — ubiquitous
    * 8-grams like common stopword runs — drop before the overlap
    * join, so no single fp key can fan out into a hot bucket.
    * Counting distinct texts instead of documents (r11) keeps the
    * cap duplication-invariant: at the 100x verbatim-amplified
    * census every fingerprint sat in ≥100 docs, a doc-counted cap of
    * 100 dropped ALL of them, and the detector reported zero
    * contamination on a corpus full of eval clones — the silent
    * failure mode a real crawl (which duplicates its benchmarks
    * wholesale) would hit. */
  def decontaminateWinnow(spark: SparkSession, dir: String,
      holdout: Long = 50L, minShared: Long = 3L, maxDf: Long = 100L): DataFrame = {
    import spark.implicits._
    // census and train side each run one winnow scan — with the
    // native WinnowMins expression that's cheaper at any scale than
    // materializing the N×(n/w) exploded fingerprint frame
    val fp = winnowArrays(spark, dir)
      .select($"doc_id", explode($"fps").as("fp"))
    // ONE profile-level census pass carries both the distinct-text
    // df cap and the eval flag: identical texts share their whole
    // fingerprint set, and "some eval doc holds fp" ⇔ "some profile
    // with pid < holdout holds fp" because pid is the profile's
    // smallest member id
    val empty = array().cast("array<bigint>")
    val profFp = Tables.documents(spark, dir)
      .groupBy(lower($"text").as("lw"))
      .agg(min($"doc_id").as("pid"))
      .select($"pid", explode(coalesce(
        graft.plans.TextExprs.winnowMinsCol($"lw", 8, 4, distinct = true),
        empty)).as("fp"))
    val evalFps = profFp.groupBy($"fp")
      .agg(count(lit(1)).as("dfc"),
        sum(when($"pid" < holdout, 1L).otherwise(0L)).as("n_eval"))
      .filter($"dfc" <= maxDf && $"n_eval" > 0L)
      .select($"fp")
    // the surviving fp dimension is eval-holdout-sized by contract:
    // broadcast it so the train side joins map-side
    fp.filter($"doc_id" >= holdout)
      .join(broadcast(evalFps), "fp")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_fps"))
      .withColumn("contaminated", $"n_shared_fps" >= minShared)
  }

  /** Lexical diversity (the vocabulary-richness quality signal
    * beside [[quality]]'s surface ratios): type-token ratio and
    * hapax-legomenon fraction per document — machine-generated and
    * template text repeats a small vocabulary (low TTR, few
    * singletons), natural prose keeps minting new words. Scan-local,
    * zero shuffle: the token array sorts IN the row (O(n log n) per
    * doc) and singletons are the sorted positions whose neighbors
    * both differ — no per-token explode, no corpus-wide counting. */
  def lexdiv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    // the sorted array materializes as a COLUMN before the hapax
    // lambda touches it: codegen CSE does not descend into
    // higher-order-function lambdas (the gram() lesson), so
    // referencing the array_sort expression inside `filter` would
    // re-run the whole sort PER POSITION — O(n² log n) per document,
    // measured 27 s for this key at sf0.1 under the noop action
    // (count() had pruned the column and hidden it)
    val n = size($"s")
    // three-valued OR makes the boundary checks safe: at i = 1 / i = n
    // the out-of-range neighbor read returns null, but the boundary
    // disjunct is already true
    val hapax = size(filter(sequence(lit(1), n), i =>
      (i === 1 || element_at($"s", i) =!= element_at($"s", i - 1)) &&
        (i === n || element_at($"s", i) =!= element_at($"s", i + 1))))
    Tables.documents(spark, dir)
      .select($"doc_id", array_sort(toks).as("s"),
        size(array_distinct(toks)).cast(LongType).as("n_types"))
      .select($"doc_id",
        n.cast(LongType).as("n_tokens"),
        $"n_types",
        hapax.cast(LongType).as("n_hapax"))
      .withColumn("ttr", $"n_types".cast(DoubleType) / $"n_tokens".cast(DoubleType))
      .withColumn("hapax_frac", $"n_hapax".cast(DoubleType) / $"n_tokens".cast(DoubleType))
  }

  /** Deterministic train/validation/test split (`sample_split`):
    * every document lands in exactly one split by a pure function of
    * its id — Fibonacci (Knuth multiplicative) hashing into 100
    * buckets, 80/10/10. The assignment every training pipeline needs
    * to be STABLE: re-runs, late-arriving shards, and incremental
    * appends all route a given document to the same split with no
    * coordination, no stored assignment table, no sampling state.
    * Scan-local and shuffle-free — the split column costs two integer
    * ops per row at any corpus size. The multiplier is the classic
    * 2654435761 = ⌊2³²/φ⌋, which decorrelates the split from
    * sequential-id locality (consecutive ids scatter across buckets
    * instead of landing in the same one). */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bucket = ($"doc_id" * lit(2654435761L)) % lit(4294967296L) % lit(100L)
    Tables.documents(spark, dir)
      .select($"doc_id", $"source", $"n_chars", bucket.as("bucket"))
      .withColumn("split",
        when($"bucket" < 80L, "train")
          .when($"bucket" < 90L, "validation")
          .otherwise("test"))
  }

  /** Token-budget quality selection (`corpus_select`) — the
    * "keep the best N tokens" corpus assembly step (the DCLM/FineWeb
    * shape): documents ranked by an integer quality score (distinct
    * stop-word hits dominating, length as tiebreak — all exact), the
    * running token total accumulated IN SCORE ORDER, and the corpus
    * cut where the budget runs out. The oracle states it as one
    * global window; the engine runs the distributed equivalent:
    * score-range blocks (coarse value buckets) carry block-local
    * running sums (one balanced shuffle), block totals partial-
    * aggregate map-side, and each block's exclusive base broadcasts
    * back — [[Curation.corpusPack]]'s two-phase prefix sum keyed by
    * score rank instead of doc id. Value-range blocks can skew if
    * scores concentrate; a production run sizes buckets from a score
    * histogram (one cheap extra aggregate) — the plan shape is
    * unchanged. */
  def corpusSelect(spark: SparkSession, dir: String,
      budgetTokens: Long = 8000L, bucketWidth: Long = 2000L): DataFrame = {
    import spark.implicits._
    val words = filter(split($"text", "\\s+"), w => length(w) > 0)
    val stopList = array(Seq("a", "the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
    val nStop = size(array_intersect(transform(words, lower(_)), stopList)).cast(LongType)
    val scored = Tables.documents(spark, dir)
      .select($"doc_id", size(words).cast(LongType).as("n_tokens"),
        (nStop * 1000L + size(words).cast(LongType)).as("score"))
      .withColumn("bucket", -floor($"score" / lit(bucketWidth)))
    val localW = Window.partitionBy($"bucket")
      .orderBy($"score".desc, $"doc_id".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = scored.withColumn("local_cum", sum($"n_tokens").over(localW))
    val baseW = Window.orderBy($"bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = scored.groupBy($"bucket").agg(sum($"n_tokens").as("ptotal"))
      .withColumn("base", coalesce(sum($"ptotal").over(baseW), lit(0L)))
      .select($"bucket", $"base")
    local.join(broadcast(bases), "bucket")
      .withColumn("cum_tokens", $"base" + $"local_cum")
      .filter($"cum_tokens" <= budgetTokens)
      .select($"doc_id", $"score", $"n_tokens", $"cum_tokens")
  }

  /** Gopher-style heuristic quality rules (`text_gopher`) — the
    * published repetition-free document filters of Rae et al. 2021
    * (Gopher, §A.1.1), reused by MassiveText/Dolma/DCLM pipelines:
    * word-count bounds, mean-word-length bounds, minimum alphabetic
    * fraction, minimum stop-word hits. Every rule evaluates in
    * INTEGER cross-multiplied arithmetic (no float thresholds), so
    * the verdicts are bit-identical on any engine and any row order.
    * Scan-local (zero shuffles): one pass over the corpus emits the
    * per-rule counters and verdicts — the shape that filters 100 TB
    * at IO speed. Word-count bounds are scaled to the synthetic
    * corpus (docs are sentence-scale, not page-scale). */
  def gopherRules(spark: SparkSession, dir: String,
      minWords: Int = 5, maxWords: Int = 100000): DataFrame = {
    import spark.implicits._
    val words = filter(split($"text", "\\s+"), w => length(w) > 0)
    val nWords = size(words).cast(LongType)
    val sumChars = aggregate(transform(words, w => length(w).cast(LongType)), lit(0L), _ + _)
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast(LongType)
    val stopList = array(Seq("a", "the", "be", "to", "of", "and", "that", "have", "with").map(lit): _*)
    val nStop = size(array_intersect(transform(words, lower(_)), stopList)).cast(LongType)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang",
        nWords.as("n_words"), sumChars.as("sum_word_chars"),
        nAlpha.as("n_alpha_words"), nStop.as("n_stop_hits"))
      // mean word length in [3, 10] and alpha fraction >= 80%, both
      // as exact integer cross-products
      .withColumn("ok_words", $"n_words" >= minWords && $"n_words" <= maxWords)
      .withColumn("ok_mean_len",
        $"sum_word_chars" >= $"n_words" * 3L && $"sum_word_chars" <= $"n_words" * 10L)
      .withColumn("ok_alpha", $"n_alpha_words" * 10L >= $"n_words" * 8L)
      .withColumn("ok_stop", $"n_stop_hits" >= 2L)
      .withColumn("pass", $"ok_words" && $"ok_mean_len" && $"ok_alpha" && $"ok_stop")
  }

  /** DSIR-style importance scoring (`text_dsir`) — Xie et al. 2023
    * ("Data Selection for Language Models via Importance Resampling"):
    * score every document by how much its hashed-feature profile
    * looks like a TARGET domain (here lang='en', the largest slice)
    * relative to the whole corpus. Features are [[HashFns.polyHash]]
    * word buckets (mod `buckets`); the target and corpus bucket
    * frequency tables are two tiny aggregates (`buckets` rows each)
    * BROADCAST into the per-token scoring join, so the only
    * corpus-scale shuffle is the per-doc rollup — token-proportional,
    * exactly the DSIR paper's one-pass-over-raw-data contract.
    * The resampling verdict avoids log-likelihood floats: a doc is
    * selected when its summed target evidence exceeds its summed
    * corpus evidence under exact integer cross-multiplication
    * (equivalent to mean feature log-ratio > 0 for the ratio-of-sums
    * surrogate, deterministic on any engine). */
  def dsir(spark: SparkSession, dir: String, buckets: Long = 64L,
      targetLang: String = "en"): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val terms = docs.select($"doc_id", $"lang",
        explode(filter(split(lower($"text"), "\\s+"), w => length(w) > 0)).as("term"))
      .withColumn("bucket", pmod(HashFns.polyHash($"term"), lit(buckets)))
    val freqs = terms.groupBy($"bucket").agg(
      count(lit(1)).as("tf_all"),
      sum(when($"lang" === targetLang, 1L).otherwise(0L)).as("tf_target"))
    // scalar corpus totals ride along in the same tiny broadcast (no
    // driver collect): every row carries the grand totals via a
    // window-free sum over the 64-row table
    val totals = freqs.agg(sum($"tf_all").as("n_all"), sum($"tf_target").as("n_target"))
    terms
      .join(broadcast(freqs), Seq("bucket"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_terms"),
        sum($"tf_target").as("target_evidence"),
        sum($"tf_all").as("corpus_evidence"))
      .crossJoin(broadcast(totals))
      // selected ⇔ (target_evidence / n_target) > (corpus_evidence / n_all);
      // the cross-products are token-count × token-count and would
      // overflow Long near 1e19 — decimal(38) keeps them exact at any SF
      .withColumn("selected",
        $"target_evidence".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"n_all" >
          $"corpus_evidence".cast(org.apache.spark.sql.types.DecimalType(38, 0)) * $"n_target")
      .select($"doc_id", $"n_terms", $"target_evidence", $"corpus_evidence", $"selected")
  }

  /** BPE tokenizer TRAINER (`text_bpe_train`) — the iterated merge
    * loop that [[bpePairs]]'s single census round feeds: each round
    * elects the highest-frequency adjacent symbol pair across the
    * corpus (ties break lexicographically) and rewrites every word
    * with that pair collapsed (greedy left-to-right, the native
    * [[graft.plans.Bpe]] expression), exactly the algorithm that
    * produces a production BPE vocabulary. Output is the learned
    * merge table itself — the tokenizer artifact — so the oracle
    * gates the training trajectory, not just one census.
    *
    * The census runs over the DISTINCT-WORD table weighted by corpus
    * frequency: at 100 TB the per-round shuffle is ∝ vocabulary (the
    * word census pays the corpus scan ONCE, up front), each rewrite
    * is scan-local over that checkpointed vocabulary, and the elected
    * pair is a one-row driver reduction per round — the codebook
    * pattern. Training restricts to printable-ASCII words: a
    * code-unit (JVM) vs code-point (DuckDB) character split would
    * diverge on non-BMP input, and real trainers operate on bytes —
    * the ASCII filter is the deterministic stand-in, applied with the
    * same regex in both engines. */
  /** The shared training core: returns the merge trajectory and the
    * final (word, freq, syms) vocabulary table. */
  private def bpeCore(spark: SparkSession, dir: String, rounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    import spark.implicits._
    var words = Tables.documents(spark, dir)
      .select(explode(TextFns.tokens($"text")).as("word"))
      .filter($"word".rlike("^[\\x21-\\x7e]+$"))
      .groupBy($"word").agg(count(lit(1)).as("freq"))
      // split keeps the zero-width match at end-of-string as a
      // trailing "" (limit -1) — drop it or every word grows a
      // phantom (last-char, "") pair
      .select($"word",
        filter(split($"word", "(?!^)"), s => length(s) > 0).as("syms"), $"freq")
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      // sequence(0, size-2) REVERSES when size == 1 — guard the
      // single-symbol words out before the adjacency explode
      val top = words.filter(size($"syms") >= 2)
        .select($"freq", explode(transform(sequence(lit(0), size($"syms") - 2),
          i => struct(element_at($"syms", i + 1).as("a"),
            element_at($"syms", i + 2).as("b")))).as("p"))
        .groupBy($"p.a".as("a"), $"p.b".as("b"))
        .agg(sum($"freq").as("n"))
        .orderBy($"n".desc, $"a".asc, $"b".asc)
        .limit(1).take(1)
      top.headOption match {
        // an empty census (every word fully merged to one symbol)
        // ends training early — the oracle degrades to fewer
        // trajectory rows the same way, head() would throw instead
        case None => exhausted = true
        case Some(row) =>
          val (a, b, n) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((r.toLong, a, b, n))
          words = words
            .withColumn("syms", graft.plans.Bpe.mergePair($"syms", lit(a), lit(b)))
            .localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  def bpeTrain(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    bpeCore(spark, dir, rounds)._1.toDF("round", "sym_a", "sym_b", "n_merged")
  }

  /** Apply the trained merges back to the corpus
    * (`text_bpe_encode`) — the artifact-consumption half of the
    * trainer: every document's whitespace words encode through the
    * final symbol table and the per-document FERTILITY (BPE tokens
    * per word — the number every context-window budget and
    * tokens-per-byte cost model is built on) reports alongside the
    * exact counts. Words outside the trained (ASCII) domain pass
    * through as single tokens, the same boundary the trainer draws.
    *
    * Scale: the vocabulary (word → symbol count) is vocabulary-sized
    * and joins the per-(doc, word) census — shuffle ∝ distinct
    * (doc, word) pairs, the corpus scan paid once beyond training;
    * at 100 TB the vocab side broadcasts (AQE) and encoding is
    * effectively scan-local. */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val vocab = bpeCore(spark, dir, rounds)._2
      .select($"word", size($"syms").cast(LongType).as("wlen"))
    Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.tokens($"text")).as("word"))
      .groupBy($"doc_id", $"word").agg(count(lit(1)).as("n"))
      .join(vocab, Seq("word"), "left")
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_words"),
        sum($"n" * coalesce($"wlen", lit(1L))).as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_bpe_tokens",
        ($"n_bpe_tokens".cast(DoubleType) / $"n_words".cast(DoubleType))
          .as("fertility"))
  }

  /** Corpus topic clustering (`text_topics`) — k-means over hashed
    * term-frequency vectors, straight from raw text with no embedding
    * model in the loop: each document becomes a 64-bucket integer TF
    * vector (hashing-trick vectorizer, the text_hashvec recipe at
    * document grain) and clusters with the SAME engine-exact k-means
    * as embed_kmeans (integer coordinates, fold-exact SqDistLD,
    * deterministic (d, cid) argmin, exact long-sum centroid means).
    * This is the cluster-balanced-curation stage of a training
    * pipeline (sample evenly across topics, cap over-represented
    * ones) for corpora that do not have embeddings yet.
    *
    * Scale: tokenization and bucket hashing are scan-local; the TF
    * census partial-aggregates to (doc, bucket) map-side; vector
    * assembly is one groupBy per document (64 cells each); every
    * assignment pass broadcasts k centroids over one corpus scan and
    * the recenter is a partial-aggregated (cluster, dim) reduction —
    * identical altitude to the embedding k-means, which is exactly
    * the point: text needs no special-case clustering path. */
  def topics(spark: SparkSession, dir: String, k: Int = 4, iters: Int = 2,
      buckets: Int = 64): DataFrame = {
    import spark.implicits._
    require(iters >= 1, "topics needs at least one assignment round")
    val q = Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.tokens($"text")).as("term"))
      .groupBy($"doc_id", pmod(HashFns.polyHash($"term"), lit(buckets.toLong)).as("b"))
      .agg(count(lit(1)).as("tf"))
      .groupBy($"doc_id")
      .agg(map_from_entries(collect_list(struct($"b", $"tf"))).as("m"))
      .select($"doc_id",
        transform(sequence(lit(0L), lit(buckets - 1L)),
          i => coalesce(element_at($"m", i), lit(0L))).as("qv"))
      // the census feeds seeds + both assignment passes + the
      // recenter: checkpoint or the tokenize/explode corpus scan
      // re-runs per consumer (~5 scans at 100 TB for one clustering)
      .localCheckpoint()
    def sqDist(a: Column, b: Column): Column =
      graft.plans.VecExprs.sqDistLDCol(a, b)
    def assign(cents: DataFrame): DataFrame =
      q.crossJoin(broadcast(cents))
        .select($"doc_id", $"qv",
          struct(sqDist($"qv", $"cvec").as("d"), $"cid".as("c")).as("s"))
        .groupBy($"doc_id", $"qv").agg(min($"s").getField("c").as("cluster"))
    def recenter(assigned: DataFrame): DataFrame =
      assigned.select($"cluster".as("cid"), posexplode($"qv").as(Seq("pos", "v")))
        .groupBy($"cid", $"pos")
        .agg(sum($"v").as("s"), count(lit(1)).as("n"))
        .withColumn("mean", $"s".cast(DoubleType) / $"n".cast(DoubleType))
        .groupBy($"cid")
        .agg(transform(sort_array(collect_list(struct($"pos", $"mean"))),
          _.getField("mean")).as("cvec"))
    val seeds = q.filter($"doc_id" < k)
      .select($"doc_id".as("cid"), transform($"qv", _.cast(DoubleType)).as("cvec"))
    // first is consumed by the recenter chain AND the final join —
    // checkpoint so the seed assignment pass runs once
    val first = Dedup.localCheckpointTransient(assign(seeds))
    val last = (1 until iters).foldLeft(first)((a, _) => assign(recenter(a)))
    first.select($"doc_id", $"cluster".as("c1"))
      .join(last.select($"doc_id", $"cluster"), "doc_id")
      .select($"doc_id", $"c1", $"cluster", ($"c1" =!= $"cluster").as("moved"))
  }

  /** Topic × source balance audit (`corpus_topic_balance`) — the
    * contingency read on [[topics]]' clustering a mixture designer
    * checks before sampling: is some topic dominated by one source
    * (crawl bias) or some source concentrated in one topic (a
    * single-subject dump)? Independence deviation is cross-multiplied
    * to integers — observed·N vs rowsum·colsum — so the
    * over-representation verdict never divides, with the skew ratio
    * as one double division of the same exact products.
    *
    * Scale: the cell census is a partial-aggregated (topic, source)
    * reduction (cells ≤ k × sources at any corpus size); margins and
    * the grand total derive from the CELLS, never by re-scanning
    * documents, and broadcast back onto the cell table. */
  def topicBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = topics(spark, dir).select($"doc_id", $"cluster")
      .join(Tables.documents(spark, dir).select($"doc_id", $"source"), "doc_id")
      .groupBy($"cluster".as("cluster_id"), $"source")
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val rc = cells.groupBy($"cluster_id").agg(sum($"o").as("rc"))
    val cs = cells.groupBy($"source").agg(sum($"o").as("cs"))
    cells
      .join(broadcast(rc), "cluster_id")
      .join(broadcast(cs), "source")
      .crossJoin(broadcast(cells.agg(sum($"o").as("n_total"))))
      .select($"cluster_id", $"source", $"o".as("n_docs"),
        $"rc", $"cs", $"n_total",
        ($"o" * $"n_total" - $"rc" * $"cs").as("dev_num"),
        (($"o" * $"n_total").cast(DoubleType) /
          ($"rc" * $"cs").cast(DoubleType)).as("skew"),
        ($"o" * $"n_total" > $"rc" * $"cs").as("over_rep"))
  }

  /** Character-diversity profile (`text_entropy`): per document, the
    * Rényi-2 (collision) diversity of its code points — collision
    * pair count Σc·(c−1) over the per-codepoint census, and the
    * effective alphabet size n·(n−1)/Σc·(c−1) (= exp of the Rényi-2
    * entropy). The gibberish/boilerplate gate: natural prose lands at
    * an effective alphabet ~15–25, single-char spam near 1, random
    * bytes near the raw alphabet size. Rényi-2 rather than Shannon is
    * deliberate: Shannon needs ln(), and libm ln is not
    * correctly-rounded (Java vs DuckDB diverge in the last ulp — the
    * [[ngramLm]] lesson); the collision form is EXACT integer
    * arithmetic with one final IEEE division, engine-identical.
    *
    * Scale shape: zero shuffle — the census folds scan-local inside
    * one `aggregate` HOF over the SORTED codepoint array (run-length
    * walk, O(len log len) per doc, no explode: the exploded
    * formulation ships one row per CHARACTER of a 100 TB corpus into
    * a groupBy just to count runs a sort already exposes). */
  def entropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(length($"text") > 0)
      .withColumn("cps", sort_array(HashFns.codePoints($"text")))
      .select($"doc_id",
        size($"cps").cast(LongType).as("n_cps"),
        size(array_distinct($"cps")).cast(LongType).as("n_distinct"),
        expr(
          """aggregate(cps,
            |  struct(CAST(-1 AS BIGINT) AS prev, CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS acc),
            |  (s, x) -> IF(x = s.prev,
            |    struct(s.prev AS prev, s.run + CAST(1 AS BIGINT) AS run, s.acc AS acc),
            |    struct(x AS prev, CAST(1 AS BIGINT) AS run,
            |      s.acc + s.run * (s.run - CAST(1 AS BIGINT)) AS acc)),
            |  s -> s.acc + s.run * (s.run - CAST(1 AS BIGINT)))""".stripMargin)
          .as("coll_pairs"))
      .withColumn("eff_alphabet",
        when($"coll_pairs" > 0L,
          ($"n_cps" * ($"n_cps" - 1L)).cast(DoubleType) /
            $"coll_pairs".cast(DoubleType))
          .otherwise(lit(null).cast(DoubleType)))
  }

  /** Corpus novelty curve (`text_novelty`): per document, how much of
    * its 4-gram vocabulary already appeared in EARLIER documents
    * (doc_id order = ingestion order) — the marginal-value signal
    * dedup ROI and crawl-frontier scheduling read: a novelty fraction
    * trending to zero means the crawl is re-reading the web.
    *
    * Shape: the distinct-gram index explodes once (scan-local), the
    * first-seen census is a partial-aggregated MIN per gram, and the
    * verdict joins the index back on the gram key — two shuffles,
    * both ∝ distinct (doc, gram) pairs, never pairs². The fraction is
    * one division of exact longs. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val index = Tables.documents(spark, dir)
      .select($"doc_id", explode(TextFns.charNGrams($"text", 4)).as("gram"))
    val firstSeen = index.groupBy($"gram").agg(min($"doc_id").as("first_seen"))
    index.join(firstSeen, "gram")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"first_seen" < $"doc_id", 1L).otherwise(0L)).as("n_seen_before"))
      .select($"doc_id", $"n_grams", $"n_seen_before",
        (lit(1.0d) - $"n_seen_before".cast(DoubleType) /
          $"n_grams".cast(DoubleType)).as("novelty_frac"))
  }

  /** Language-ID evaluation harness (`text_langid_eval`): the
    * confusion matrix of [[langId]]'s marker-count prediction against
    * the labeled `lang` column, with per-true-language totals and
    * recall — the [[graft.operators.Similarity]] ann_recall stance
    * applied to the classifier: an eval harness beside every
    * approximate component, so "the heuristic is good enough" is a
    * measured number, not a belief. Cells are exact integer counts;
    * recall (cell share of its true-language row) is ONE division of
    * longs, and both margins derive from the CELLS (≤ langs² of them)
    * — the corpus is scanned once, by the classifier itself.
    *
    * Scale: [[langId]] is scan-local; the confusion census
    * partial-aggregates map-side (shuffle ∝ occupied cells, never
    * documents), margins ride a cells-sized window. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cells = langId(spark, dir)
      .groupBy($"lang", $"pred_lang").agg(count(lit(1)).as("n_docs"))
    cells
      .withColumn("n_lang", sum($"n_docs").over(Window.partitionBy($"lang")))
      .select($"lang", $"pred_lang", $"n_docs", $"n_lang",
        ($"n_docs".cast(DoubleType) / $"n_lang".cast(DoubleType)).as("cell_share"),
        ($"lang" === $"pred_lang").as("is_diagonal"))
  }

}
