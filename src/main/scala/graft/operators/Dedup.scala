package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.{HashFns, TextFns, VecFns}
import graft.sources.Tables

/** Deduplication operators over documents / embeddings.
  *
  * Scale posture (SURVEY §6): every pair-producing operator generates
  * candidates through an equi-join on a bucket key (LSH band, SimHash
  * band, inverted shingle index, hyperplane signature) — never a
  * cross join — so shuffle volume grows linearly with data, and
  * per-bucket width is bounded (frequency-capped index) against skew.
  */
object Dedup {

  /** Exact dedup: group by deterministic content hash, keep the
    * minimum doc_id per group. */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", HashFns.polyHash($"text").as("content_hash"))
      .groupBy($"content_hash")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  private def shingleSets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", TextFns.shingleSet($"text", 3).as("shingles"))
  }

  /** MinHash(16) + LSH(4 bands × 4 rows) candidate pairs, verified
    * with exact shingle-set Jaccard ≥ 0.2. */
  /** MinHash-LSH candidate pairs (band-key equi-join, unverified):
    * the shared candidate-generation tier `minhash` (Jaccard verify)
    * and `fuzzy` (edit-distance verify) both refine. */
  private def lshCandidates(spark: SparkSession, dir: String,
      maxBucket: Int = 200): DataFrame = {
    import spark.implicits._
    val mh = shingleSets(spark, dir).select($"doc_id",
      HashFns.minHashesNative($"shingles").as("mh"))
    val bands = mh.select($"doc_id", explode(array((0 until HashFns.Bands).map { b =>
      struct(lit(b).as("band"),
        HashFns.foldKey(slice($"mh", b * HashFns.RowsPerBand + 1, HashFns.RowsPerBand)).as("bkey"))
    }: _*)).as("bk")).select($"doc_id", $"bk.band", $"bk.bkey")
    // Stop-band removal (same rule as [[simhash]]): a band key shared
    // by > maxBucket docs — the duplicate-heavy-crawl case — would
    // emit C(n,2) pairs in one task; dropping it bounds per-bucket
    // work at the standard LSH recall/cost trade. Mirrored in the
    // DuckDB oracle (mhrare CTE) so the gate holds the same pair set.
    // Deliberately an EQUI-join on the rare side, not a broadcast
    // anti-join on the hot side: the pair self-join below needs the
    // (band, bkey) exchange anyway, so ReuseExchange serves the
    // census and both join sides from ONE shuffle — a broadcast
    // formulation re-derives the band table for the census instead
    // (measured +50% on this operator at sf0.1).
    val rare = observeStopBand(
        bands.groupBy($"band", $"bkey").agg(count(lit(1)).as("bc")),
        "lsh_candidates", maxBucket)
      .filter($"bc" <= maxBucket)
      .select($"band", $"bkey")
    val pruned = bands.join(rare, Seq("band", "bkey"))
    pruned.as("a").join(pruned.as("b"), Seq("band", "bkey"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b")).distinct()
  }

  /** Observable recall trade (VERDICT r8): the batch stop-band prune
    * silently dropped every pair from hot buckets while the stream
    * tier counts overflow in an accumulator and fails loudly. Now the
    * shared [[StopBand]] audit: a CollectMetrics node on the census
    * (exact, zero extra jobs) plus an accumulator backstop that
    * survives AQE empty-relation collapse (ADVICE r9) —
    * [[graft.GraftSession]]'s listener reports whichever survived. */
  private def observeStopBand(census: DataFrame, site: String, cap: Int): DataFrame =
    StopBand.audited(census, site, cap)

  def minhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleSets(spark, dir)
    lshCandidates(spark, dir)
      .join(sh.select($"doc_id".as("doc_a"), $"shingles".as("sh_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"shingles".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b", TextFns.jaccard($"sh_a", $"sh_b").as("jaccard"))
      .filter($"jaccard" >= 0.2d)
  }

  /** Single-scan MinHash dedup — the 100 TB shape. Where `minhash`
    * verifies candidates against exact shingle sets (a join back to
    * the documents, i.e. a second pass over the corpus), this variant
    * estimates Jaccard as the fraction of agreeing MinHash components
    * — one scan, signatures only ever shuffle (16 longs/doc, not
    * shingle sets), standard practice when re-reading 100 TB to
    * verify is the actual cost. */
  def minhashEstimate(spark: SparkSession, dir: String,
      maxBucket: Int = 200): DataFrame = {
    import spark.implicits._
    val mh = Tables.documents(spark, dir)
      .select($"doc_id", HashFns.minHashesNative(TextFns.shingleSet($"text", 3)).as("mh"))
    val bands = mh.select($"doc_id", $"mh", explode(array((0 until HashFns.Bands).map { b =>
      struct(lit(b).as("band"),
        HashFns.foldKey(slice($"mh", b * HashFns.RowsPerBand + 1, HashFns.RowsPerBand)).as("bkey"))
    }: _*)).as("bk")).select($"doc_id", $"mh", $"bk.band", $"bk.bkey")
    // stop-band removal — same cap, rare-side equi-join (exchange
    // reuse with the pair self-join), oracle mirror, and observed
    // drop count as lshCandidates
    val rare = observeStopBand(
        bands.groupBy($"band", $"bkey").agg(count(lit(1)).as("bc")),
        "minhash_estimate", maxBucket)
      .filter($"bc" <= maxBucket)
      .select($"band", $"bkey")
    val pruned = bands.join(rare, Seq("band", "bkey"))
    pruned.as("a").join(pruned.as("b"), Seq("band", "bkey"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        (HashFns.sigAgree($"a.mh", $"b.mh").cast(DoubleType) / 16.0d).as("est_jaccard"))
      .distinct()
  }

  /** 62-bit SimHash fingerprints; candidates share a 16-bit band,
    * kept when Hamming distance ≤ 12.
    *
    * Band keys shared by more than `maxBucket` docs are dropped
    * before the self-join (stop-band removal, the SimHash analogue of
    * the ngram df cap): clustered fingerprints otherwise produce
    * quadratic candidate blowup — measured 4M candidate pairs at
    * sf0.1, 303k with the cap — which is what kills this operator at
    * 100 TB. Pairs only reachable through a hot band are sacrificed,
    * the standard LSH recall/cost trade. */
  def simhash(spark: SparkSession, dir: String, maxBucket: Int = 200): DataFrame = {
    import spark.implicits._
    val sh = Tables.documents(spark, dir)
      .select($"doc_id", HashFns.simHash(TextFns.tokens($"text")).as("simhash"))
    val bands = sh.select($"doc_id", $"simhash", explode(array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright($"simhash", 16 * b).bitwiseAND(lit(65535L)).as("bkey"))
    }: _*)).as("bk")).select($"doc_id", $"simhash", $"bk.band", $"bk.bkey")
    // rare-side equi-join: the pair self-join needs the (band, bkey)
    // exchange anyway, so ReuseExchange serves census + both sides
    val rare = observeStopBand(
        bands.groupBy($"band", $"bkey").agg(count(lit(1)).as("bc")),
        "simhash", maxBucket)
      .filter($"bc" <= maxBucket)
      .select($"band", $"bkey")
    val pruned = bands.join(rare, Seq("band", "bkey"))
    pruned.as("a").join(pruned.as("b"), Seq("band", "bkey"))
      .where($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        bit_count($"a.simhash".bitwiseXOR($"b.simhash")).cast(LongType).as("hamming"))
      .distinct()
      .filter($"hamming" <= 12L)
  }

  /** n-gram Jaccard similarity join via a frequency-capped inverted
    * index (prefix-filtering family): explode distinct char-4-grams,
    * drop grams shared by > maxBucket DISTINCT TEXTS (stopword
    * grams — they only add candidates that other grams already
    * produce), count shared grams per pair, return the top-20 most
    * similar pairs. The df cap counting distinct texts (not docs,
    * r11) is what keeps the stop-gram notion meaningful under
    * duplication: at the 100x verbatim-amplified census every gram
    * sat in ≥100 documents, so a doc-counted cap of 50 emptied the
    * index and the operator returned ZERO near-dup pairs — a total
    * recall cliff exactly where a dedup tier matters most. */
  def ngram(spark: SparkSession, dir: String, maxBucket: Int = 50): DataFrame = {
    import spark.implicits._
    ngramRanked(spark, dir, maxBucket,
      (shared, na, nb) =>
        shared.cast(DoubleType) / (na + nb - shared).cast(DoubleType),
      "jaccard")
  }

  /** Containment near-dup (the asymmetric case Jaccard under-scores:
    * a short document quoted whole inside a long one — their union
    * dwarfs the intersection, but |A∩B| / min(|A|,|B|) is ~1). Same
    * capped inverted index as [[ngram]]; only the final score
    * differs, so the scale posture is identical. */
  def containment(spark: SparkSession, dir: String, maxBucket: Int = 50): DataFrame = {
    import spark.implicits._
    ngramRanked(spark, dir, maxBucket,
      (shared, na, nb) => shared.cast(DoubleType) / least(na, nb).cast(DoubleType),
      "containment")
  }

  /** Shared core of [[ngram]] and [[containment]], PROFILE-COLLAPSED
    * (r11, the bm25ProfileCensus discipline): docs GROUP BY
    * lower(text) first — identical texts have identical gram sets,
    * so pair scores are a function of the (profile, profile) pair —
    * and the inverted index, df census, and pair join all run over
    * profiles. Work is then invariant under corpus duplication
    * (clone groups grow members, never index rows), and collect_list
    * buffers stay bounded by maxBucket PROFILES.
    *
    * The emitted top-20 is still over DOC pairs, expanded exactly:
    * each profile keeps its 21 smallest member ids; the
    * lexicographically-smallest doc pair of a cross-profile class is
    * (pidA, pidB) (pid IS the min member) and of an intra-profile
    * class is its two smallest members, so electing the top 20
    * CLASSES by (score desc, smallest-pair asc) covers every doc
    * pair that can reach the top 20 (each higher class contributes
    * at least its smallest pair above it), and 21 kept members per
    * side cover the 20 smallest pairs within a class (any pair using
    * a 22nd-smallest member is preceded by ≥20 pairs using smaller
    * ones). Intra-profile classes score with shared = the profile's
    * KEPT-gram count (clone pairs share exactly the surviving
    * grams — same value the doc-level formulation yields). */
  private def ngramRanked(spark: SparkSession, dir: String, maxBucket: Int,
      scoreOf: (org.apache.spark.sql.Column, org.apache.spark.sql.Column,
        org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
      scoreName: String): DataFrame = {
    import spark.implicits._
    // three consumers with different pruned columns (gram index,
    // intra classes, keep-list expansion) — materialize the profile
    // table once (the bm25ProfileCensus discipline)
    val prof = localCheckpointTransient(Tables.documents(spark, dir)
      .groupBy(lower($"text").as("lw"))
      .agg(min($"doc_id").as("pid"), count(lit(1)).as("members"),
        graft.plans.Sketch.topKPairs(
          -$"doc_id".cast(DoubleType), $"doc_id", 21).as("keep")))
    val index = prof
      .select($"pid", explode(TextFns.charNGrams($"lw", 4)).as("gram"))
    // per-profile set sizes derive from the exploded (already-distinct)
    // index — no second n-gram pass over the text
    val sizes = index.groupBy($"pid").agg(count(lit(1)).as("n_grams"))
    // df cap BEFORE any doc-list materialization: a stop-gram present
    // in ~every profile would otherwise accumulate a corpus-sized
    // array in a single aggregation buffer just to be thrown away
    // (single-key OOM at 100×). Plain count first (bounded partial-agg
    // buffers), filter to rare grams, then left-semi the index to
    // survivors — collect_list buffers are now bounded by maxBucket.
    val rare = observeStopBand(
        index.groupBy($"gram").agg(count(lit(1)).as("df")).withColumnRenamed("df", "bc"),
        "ngram", maxBucket)
      .filter($"bc" <= maxBucket)
      .select($"gram")
    val kept = index.join(rare, Seq("gram"), "left_semi")
    val capped = kept
      .groupBy($"gram")
      .agg(collect_list($"pid").as("pids"))
    val cross = capped
      .select(explode(expr(
        "filter(flatten(transform(pids, a -> transform(pids, b -> struct(a, b)))), p -> p.a < p.b)")).as("p"))
      .groupBy($"p.a".as("pa"), $"p.b".as("pb"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select($"pid".as("pa"), $"n_grams".as("na")), "pa")
      .join(sizes.select($"pid".as("pb"), $"n_grams".as("nb")), "pb")
      .select($"pa", $"pb", $"shared", $"na", $"nb",
        $"pa".as("sp1"), $"pb".as("sp2"))
    // intra-profile classes: clone pairs share exactly the profile's
    // kept grams; only multi-member profiles that kept ≥1 gram exist
    // in the doc-level pair set
    val intra = kept.groupBy($"pid").agg(count(lit(1)).as("shared"))
      .join(prof.filter($"members" >= 2L)
        .select($"pid", element_at($"keep", 1).getField("key").as("sp1"),
          element_at($"keep", 2).getField("key").as("sp2")), "pid")
      .join(sizes, "pid")
      .select($"pid".as("pa"), $"pid".as("pb"), $"shared",
        $"n_grams".as("na"), $"n_grams".as("nb"), $"sp1", $"sp2")
    val classes = cross.unionByName(intra)
      .withColumn("score", scoreOf($"shared", $"na", $"nb"))
      .orderBy($"score".desc, $"sp1".asc, $"sp2".asc)
      .limit(20)
    // expand the 20 winning classes by their kept members (≤ 21×21
    // pairs each; least/greatest restores the doc-id orientation,
    // distinct collapses the doubled intra combinations)
    val profKeep = prof.select($"pid", $"keep")
    classes
      .join(profKeep.select($"pid".as("pa"), $"keep".as("ka")), "pa")
      .join(profKeep.select($"pid".as("pb"), $"keep".as("kb")), "pb")
      .select($"score", explode($"ka").as("ma"), $"kb")
      .select($"score", $"ma.key".as("a"), explode($"kb").as("mb"))
      .select($"score", least($"a", $"mb.key").as("doc_a"),
        greatest($"a", $"mb.key").as("doc_b"))
      .where($"doc_a" < $"doc_b")
      .distinct()
      .orderBy($"score".desc, $"doc_a".asc, $"doc_b".asc)
      .limit(20)
      .select($"doc_a", $"doc_b", $"score".as(scoreName))
  }

  /** Duplicate-cluster resolution — the last mile of the dedup story:
    * candidate PAIRS (from the verified MinHash join) become connected
    * components, and each component elects one keeper.
    *
    * Implementation is iterative min-label propagation over
    * distributed joins (the Hash-to-Min family): every node starts
    * labeled with itself; each round every node takes the min of its
    * own label and its neighbors' labels; converged when no label
    * changes. No driver-side graph — edges and labels only ever move
    * through joins/aggregations, so the operator scales with the
    * cluster. `localCheckpoint` truncates the growing lineage each
    * round (on a real cluster a reliable checkpoint dir serves the
    * same purpose); rounds needed = graph diameter, which for dedup
    * clusters (near-cliques from LSH) is small.
    */
  def clusters(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val labels = componentLabels(spark, dir, maxIters)
    val sizes = labels.groupBy($"label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select($"node".as("doc_id"), $"label".as("cluster_id"),
        ($"node" === $"label").as("is_keeper"), $"cluster_size")
  }

  /** Per-session cache of converged labels: `dedup_clusters` and
    * `dedup_apply` share the whole MinHash + iteration pipeline, so
    * within one session the second caller reuses the first's
    * converged (checkpointed) label set instead of recomputing it.
    * The cached DataFrame's checkpoint blocks are the ONLY persisted
    * state the operator leaves behind; [[clearLabelCache]] frees them.
    */
  private val labelCache =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), (DataFrame, Seq[org.apache.spark.rdd.RDD[_]])]

  /** Unpersist every cached converged label set (used by tests and
    * the bench harness to measure full operator cost). */
  def clearLabelCache(): Unit = {
    labelCache.values.foreach { case (_, rdds) =>
      rdds.foreach(_.unpersist(blocking = false))
    }
    labelCache.clear()
    releaseAllTransientBlocks()
  }

  /** Registry of TRANSIENT resources: checkpoint blocks and broadcast
    * variables a returned DataFrame still references, and the sink
    * directories a returned lazy scan still reads, so the call that
    * made them cannot free them, but that are dead once the caller has
    * consumed the result. Bench (per rep, via clearLabelCache), Verify
    * (per query) and perfbench (per call) drain it — without the
    * registry every kcore round / kmeans seed pass leaked its blocks
    * for the JVM's lifetime (ADVICE r8), and the 294-query gate runs
    * in one SparkSession. Broadcasts (the packed LSH tables, the packed
    * triangle/kcore adjacencies) are destroyed BLOCKING: before r14
    * they lived until GC, and the 100x census OOM'd the triangles
    * sweep at the default 8g when it ran AFTER the packed ANN keys in
    * one JVM, because their ~0.5 GB of spent broadcasts had not been
    * collected yet. A staged twin's sink directory otherwise lived in
    * RAM scratch until JVM exit (58 were live half-way through one
    * tier-1 run). */
  // keyed on the Thread OBJECT, not Thread.getId (ADVICE r10): JVM
  // thread ids are reused, so an id key could hand a dead thread's
  // queue to an unrelated new thread. Keys are strong on purpose — a
  // queue abandoned by a dead thread (the packed-LSH pack pool builds
  // on short-lived threads) stays drainable by the full reset
  // (releaseAllTransientBlocks) instead of leaking when a weak entry
  // is collected. Contract: the thread that BUILDS a transient-backed
  // DataFrame must be the one that drains it (build-on-A/consume-on-B
  // patterns must drain via clearLabelCache).
  private val transients = new java.util.concurrent.ConcurrentHashMap[
    Thread, java.util.concurrent.ConcurrentLinkedQueue[() => Unit]]()

  private def trackRelease(release: () => Unit): Unit =
    transients.computeIfAbsent(Thread.currentThread(),
      _ => new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()).add(release)

  private[graft] def trackTransient(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
    rdds.foreach(r => trackRelease(() => r.unpersist(blocking = false)))

  private[graft] def trackTransientBroadcast(
      bc: org.apache.spark.broadcast.Broadcast[_]): Unit =
    trackRelease { () =>
      try bc.destroy()
      catch { case _: Throwable => () } // already destroyed / stopped context
    }

  private[graft] def trackTransientDir(dir: java.nio.file.Path): Unit =
    trackRelease(() => graft.sources.Scratch.deleteTree(dir))

  private def drain(q: java.util.concurrent.ConcurrentLinkedQueue[() => Unit]): Unit = {
    var release = q.poll()
    while (release != null) { release(); release = q.poll() }
  }

  /** localCheckpoint whose blocks are freed at the next
    * [[releaseTransientBlocks]] — for checkpoints the RETURNED plan
    * references (caller cannot unpersist them itself). */
  private[graft] def localCheckpointTransient(df: DataFrame): DataFrame = {
    val (ck, rdds) = localCheckpointTracked(df)
    trackTransient(rdds)
    ck
  }

  /** Release the transients registered by the CALLING thread. The
    * registry is thread-scoped (ADVICE r9): a
    * Verify/Bench drain after each query can no longer truncate a
    * not-yet-consumed DataFrame held by a concurrent consumer
    * (parallel tests, interactive use) on the shared session — each
    * consumer drains only what its own thread built. Callers must
    * have consumed (or abandoned) every DataFrame THIS thread was
    * returned since its previous drain — lineage is truncated, so a
    * late action on one would fail rather than silently recompute. */
  def releaseTransientBlocks(): Unit =
    Option(transients.remove(Thread.currentThread())).foreach(drain)

  /** Release EVERY thread's transients — only safe when no returned
    * DataFrame anywhere is still awaiting consumption
    * (clearLabelCache's full-reset contract). */
  private def releaseAllTransientBlocks(): Unit = {
    val it = transients.values().iterator()
    while (it.hasNext) {
      val q = it.next(); it.remove()
      drain(q)
    }
  }

  /** localCheckpoint (eager) plus handles to the RDD blocks it
    * persisted, so superseded rounds can be unpersisted — without
    * this every iteration leaks one checkpointed label set for the
    * lifetime of the application.
    *
    * The persisted RDD is read straight off the checkpointed
    * Dataset's plan (a `LogicalRDD` leaf over exactly the RDD
    * `localCheckpoint` persisted) — NOT by diffing
    * `sc.getPersistentRDDs` before/after, which would capture RDDs
    * persisted concurrently by unrelated queries on the shared
    * context and later unpersist them out from under their owners
    * (fatal after lineage truncation). */
  private def localCheckpointTracked(df: DataFrame)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val ck = df.localCheckpoint()
    val rdds = ck.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    assert(rdds.nonEmpty, "localCheckpoint did not yield a LogicalRDD leaf")
    (ck, rdds)
  }

  /** Converged (node, label) component assignment — the shared core
    * of [[clusters]] and [[applyDedup]]; cached per (session, dir).
    *
    * The cache assumes the data under `dir` is immutable for the
    * session's lifetime (the norm for a parquet snapshot dir); if a
    * caller rewrites `dir` mid-session it must [[clearLabelCache]]
    * first or stale labels are served. Concurrent first callers may
    * both compute; `putIfAbsent` picks one winner and the loser's
    * checkpoint blocks are unpersisted immediately (TrieMap's
    * `getOrElseUpdate` would leak the losing computation's blocks —
    * its RDD handles are discarded when the winning entry is kept).
    * `maxIters` is part of the key (like pagerank's `iters`), so a
    * later call with a different iteration budget recomputes instead
    * of silently serving labels converged under the old setting. */
  private def componentLabels(spark: SparkSession, dir: String, maxIters: Int): DataFrame =
    cachedTracked(spark, dir + s"#labels$maxIters")(computeComponentLabels(spark, dir, maxIters))

  /** The verified MinHash candidate pair set, checkpointed ONCE per
    * (session, dir) and shared by every consumer (clustering, apply,
    * the composed pipeline, PageRank) — the shingle+MinHash+LSH+
    * verify sub-pipeline is the expensive half of all of them. Owned
    * by the cache: blocks live until [[clearLabelCache]], so a
    * consumer failing mid-computation can never orphan them. */
  private def cachedPairs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    cachedTracked(spark, dir + "#pairs")(
      localCheckpointTracked(minhash(spark, dir).select($"doc_a", $"doc_b")))
  }

  /** Shared cache protocol for expensive derived results whose only
    * persisted state is their tracked checkpoint blocks (converged
    * component labels, PageRank scores): winner-takes-all insertion,
    * the losing concurrent computation's blocks unpersist
    * immediately, [[clearLabelCache]] frees everything. */
  private def cachedTracked(spark: SparkSession, key: String)(
      compute: => (DataFrame, Seq[org.apache.spark.rdd.RDD[_]])): DataFrame = {
    val k = (spark, key)
    labelCache.get(k) match {
      case Some((df, _)) => df
      case None =>
        val computed = compute
        labelCache.putIfAbsent(k, computed) match {
          case Some(existing) =>
            computed._2.foreach(_.unpersist(blocking = false))
            existing._1
          case None => computed._1
        }
    }
  }

  private def computeComponentLabels(spark: SparkSession, dir: String, maxIters: Int)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) =
    // the cached pair checkpoint: computed once per (session, dir),
    // shared with pagerank/apply/pipeline — the symmetric union's two
    // branches read its blocks instead of recomputing the MinHash join
    propagateMinLabels(spark, cachedPairs(spark, dir), maxIters)

  /** Min-label propagation to convergence over ANY (doc_a, doc_b)
    * candidate-pair frame — the connected-components core shared by
    * the text cluster family (via [[componentLabels]]'s cache) and
    * the image near-dup clusters ([[Multimodal.phashClusters]]).
    * Returns converged (node, label) plus the checkpoint RDD handles
    * the caller owns. */
  private[operators] def propagateMinLabels(spark: SparkSession,
      pairs: DataFrame, maxIters: Int)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    import spark.implicits._
    // materialize the symmetric edge set ONCE: every propagation round
    // joins against it, and for callers whose pair frame is a live
    // pipeline (phashClusters' banded Hamming join over packed image
    // blobs) an unmaterialized edge frame re-runs that pipeline per
    // round — the checkpoint turns O(rounds) pair computations into 1
    val (edges, edgeRdds) = localCheckpointTracked(
      pairs.select($"doc_a".as("u"), $"doc_b".as("v"))
        .union(pairs.select($"doc_b".as("u"), $"doc_a".as("v"))))
    val nodes = edges.select($"u".as("node")).distinct()
    var (labels, labelRdds) = localCheckpointTracked(nodes.withColumn("label", $"node"))
    // labels only ever decrease under min-propagation, so the label
    // sum strictly decreases until the fixed point: comparing sums is
    // a full convergence test at the cost of one aggregate per round
    // (no old-vs-new join). coalesce(0) covers the clean-corpus case
    // (no verified pairs at all => empty node set, empty sum)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum($"label"), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      val (next, nextRdds) = localCheckpointTracked(edges
        .join(labels.select($"node".as("u"), $"label".as("nl")), "u")
        .select($"v".as("node"), $"nl")
        .union(labels.select($"node", $"label".as("nl")))
        .groupBy($"node").agg(min($"nl").as("label")))
      val s = labelSum(next)
      // the new round is fully materialized (eager checkpoint + the
      // sum above), so the superseded round's blocks can go now
      labelRdds.foreach(_.unpersist(blocking = false))
      converged = s == prevSum
      prevSum = s
      labels = next
      labelRdds = nextRdds
      iter += 1
    }
    // an unconverged result would silently split real components into
    // several clusters with wrong keepers — fail loudly instead; the
    // caller raises maxIters for pathological chain-shaped corpora
    edgeRdds.foreach(_.unpersist(blocking = false))
    if (!converged) {
      labelRdds.foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters rounds " +
          "(component diameter exceeds maxIters); raise maxIters")
    }
    (labels, labelRdds)
  }

  /** PageRank over the duplicate-similarity graph (fixed `iters`
    * rounds): centrality scores that rank each near-dup neighborhood's
    * most-connected documents — the signal a curation pipeline uses to
    * pick canonical pages out of boilerplate families (beyond
    * [[clusters]]' arbitrary min-id keeper). Joins-and-aggregations
    * only (contributions shuffle on the edge key, like the label
    * propagation), rounds a fixed constant — the classic
    * iterative-graph-on-Spark shape.
    *
    * Engine-exact (SURVEY §5): mass is integer MICRO-units — rank
    * 1e6/N to start, per-edge contribution `r div deg`, damping
    * 15/100 + 85·Σ/100 in integer arithmetic — so partial-aggregation
    * order cannot perturb results (double-sum PageRank is famously
    * nondeterministic on Spark) and the oracle replays the identical
    * integers. The candidate pair set is localCheckpointed once
    * (same lifecycle as the clustering loop; cached per (session,
    * dir), freed by [[clearLabelCache]]). */
  def pagerank(spark: SparkSession, dir: String, iters: Int = 2): DataFrame =
    cachedTracked(spark, dir + s"#pagerank$iters")(computePagerank(spark, dir, iters))

  private def computePagerank(spark: SparkSession, dir: String, iters: Int)
      : (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    import spark.implicits._
    val pairs = cachedPairs(spark, dir)
    val edges = pairs.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(pairs.select($"doc_b".as("u"), $"doc_a".as("v")))
    val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
    val nodes = edges.select($"u".as("node")).distinct()
    // node count stays in-plan (single-row broadcast), no driver action
    val nDf = nodes.agg(count(lit(1)).as("cnt"))
    var r = nodes.crossJoin(broadcast(nDf))
      .selectExpr("node", "CAST(1000000 AS BIGINT) div cnt AS r")
    var it = 0
    while (it < iters) {
      val contrib = edges
        .join(r.select($"node".as("u"), $"r"), "u")
        .join(deg, "u")
        .selectExpr("v AS node", "r div d AS c")
        .groupBy($"node").agg(sum($"c").as("s"))
      r = nodes.crossJoin(broadcast(nDf))
        .join(contrib, Seq("node"), "left")
        .selectExpr("node",
          "(CAST(15000000 AS BIGINT) div (100 * cnt)) + ((85 * coalesce(s, CAST(0 AS BIGINT))) div 100) AS r")
      it += 1
    }
    val (fin, finRdds) = localCheckpointTracked(
      r.join(deg.select($"u".as("node"), $"d"), "node")
        .select($"node".as("doc_id"), $"r".as("pr_micro"), $"d".as("degree")))
    (fin, finRdds)
  }

  /** Triangle counting over the duplicate-similarity graph (the
    * clustering-coefficient signal: a near-dup pair inside a triangle
    * is corroborated by a third document — high-triangle nodes are
    * template families, zero-triangle pairs are more likely LSH
    * noise). Edges are [[minhash]]'s verified pairs.
    *
    * The plan is the degree-ORIENTED wedge join (the standard
    * distributed triangle shape): each undirected edge points from
    * its lower-(degree, id) endpoint to the higher one, so every
    * node's out-degree is O(√m) regardless of how hot a hub is —
    * wedge work is bounded by Σ out-deg² ≤ O(m^1.5), never the
    * naive Σ deg² a popularity hub explodes. Wedges equi-join on
    * the center node, close with one semi-join on the third edge;
    * every triangle is found exactly once (at its minimum-key
    * vertex). Output: per-node triangle participation counts. */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = cachedPairs(spark, dir)
    val und = pairs.select($"doc_a".as("u"), $"doc_b".as("v"))
    val deg = und.select($"u".as("node")).union(und.select($"v".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
    val j = und
      .join(deg.select($"node".as("u"), $"d".as("du")), "u")
      .join(deg.select($"node".as("v"), $"d".as("dv")), "v")
    val fwd = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    val oriented = j.select(
      when(fwd, $"u").otherwise($"v").as("src"),
      when(fwd, $"v").otherwise($"u").as("dst"),
      when(fwd, $"dv").otherwise($"du").as("dd"))
    // Two evaluation paths, size-gated like the LSH pack (r13): a
    // template-farm corpus drives the clone graph toward cap-sized
    // cliques, and the wedge join then MATERIALIZES Σ out-deg² rows —
    // measured 2.09 BILLION wedges on the 100x census corpus (26.9M
    // pairs, max out-degree 199 ≈ the stop-band cap), a heap-death
    // spill storm in one JVM. The packed path never materializes a
    // wedge: the whole oriented adjacency (Σ out-deg longs ≈ 8·|E|
    // bytes — ~220 MB at that census) broadcasts as flat sorted
    // arrays, and each oriented edge (a, b) merge-intersects
    // outAdj(a) ∩ outAdj(b) scan-local — every triangle found exactly
    // once at its two lowest-(deg, id) endpoints, per-partition
    // count maps (≤ |V| entries) partial-aggregate before one final
    // node-keyed sum. Same exact counts either way; past the gate the
    // relational wedge join remains the arbitrarily-large-graph plan.
    // the pair relation is a checkpointed LogicalRDD (no Catalyst
    // size estimate), so the gate prices the adjacency directly:
    // one count of the checkpointed edges, ~16 bytes per oriented
    // edge (8 for the flat adjacency long + structure overhead)
    val est = BigInt(pairs.count()) * 16
    // default derives from spark.driver.maxResultSize (r14): the
    // flat 4 GiB default made the wedge-join fallback unreachable in
    // the 1-4 GiB band — the collect tripped maxResultSize first
    val maxAdj =
      JoinGate.packGateBytes(spark, "spark.graft.graph.maxAdjBroadcastBytes")
    val packed = est <= maxAdj
    println(s"[graft-tripack] graph_triangles: est adjacency=$est bytes, " +
      s"threshold=$maxAdj -> " +
      (if (packed) "packed adjacency broadcast" else "relational wedge join"))
    if (packed) {
      val edgesNarrow = oriented.select($"src", $"dst").as[(Long, Long)]
      val adjRows = edgesNarrow.groupByKey(_._1)
        .mapGroups { (src, it) =>
          val a = it.map(_._2).toArray
          java.util.Arrays.sort(a)
          (src, a)
        }
        .collect()
      val n = adjRows.length
      val idIdx = new java.util.HashMap[java.lang.Long, Integer](n * 2)
      val offs = new Array[Int](n + 1)
      var i = 0
      while (i < n) {
        idIdx.put(adjRows(i)._1, i)
        offs(i + 1) = offs(i) + adjRows(i)._2.length
        i += 1
      }
      val adj = new Array[Long](offs(n))
      i = 0
      while (i < n) {
        System.arraycopy(adjRows(i)._2, 0, adj, offs(i), adjRows(i)._2.length)
        i += 1
      }
      val bc = spark.sparkContext.broadcast((idIdx, offs, adj))
      // destroyed (blocking) at the caller's next transient drain
      trackTransientBroadcast(bc)
      edgesNarrow.mapPartitions { edges =>
        val (idx, off, flat) = bc.value
        val counts = scala.collection.mutable.LongMap.empty[Long]
        edges.foreach { case (a, b) =>
          val ia = idx.get(a)
          val ib = idx.get(b)
          if (ia != null && ib != null) {
            var pa = off(ia)
            val ea = off(ia + 1)
            var pb = off(ib)
            val eb = off(ib + 1)
            while (pa < ea && pb < eb) {
              val ca = flat(pa)
              val cb = flat(pb)
              if (ca < cb) pa += 1
              else if (ca > cb) pb += 1
              else {
                counts(a) = counts.getOrElse(a, 0L) + 1L
                counts(b) = counts.getOrElse(b, 0L) + 1L
                counts(ca) = counts.getOrElse(ca, 0L) + 1L
                pa += 1; pb += 1
              }
            }
          }
        }
        counts.iterator
      }.toDF("doc_id", "c")
        .groupBy($"doc_id").agg(sum($"c").as("n_triangles"))
    } else {
      val wedges = oriented.as("o1").join(oriented.as("o2"),
          $"o1.src" === $"o2.src" &&
          ($"o1.dd" < $"o2.dd" || ($"o1.dd" === $"o2.dd" && $"o1.dst" < $"o2.dst")))
        .select($"o1.src".as("a"), $"o1.dst".as("b"), $"o2.dst".as("c"))
      val tri = wedges.join(
        oriented.select($"src".as("b"), $"dst".as("c")), Seq("b", "c"), "left_semi")
      tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_triangles"))
    }
  }

  /** Degree distribution of the duplicate-similarity graph — the
    * one-number-per-degree profile that decides HOW to process the
    * graph before paying for it: a heavy tail means hub documents
    * (boilerplate quoted everywhere → salt [[clusters]]' propagation
    * or cap the hub), a spike at 1 means isolated pairs the full
    * component machinery is overkill for. Edges are [[minhash]]'s
    * verified pairs.
    *
    * Two partial-aggregated shuffles, each strictly smaller than the
    * last: per-node degrees (∝ edges), then nodes-per-degree (∝
    * distinct degrees — at 100 TB a few hundred rows). The profiling
    * twin of [[Relational.qHistogram]] on graph data. */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = cachedPairs(spark, dir)
    pairs.select($"doc_a".as("node")).union(pairs.select($"doc_b".as("node")))
      .groupBy($"node").agg(count(lit(1)).as("d"))
      .groupBy($"d".as("degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Per-EDGE link corroboration over the duplicate graph: each
    * candidate pair's common-neighbor count and neighborhood Jaccard
    * — the link-prediction scores that separate corroborated near-dup
    * families (a third document duplicates both sides) from isolated
    * LSH coincidences, at edge granularity where [[triangles]] scores
    * nodes. nbr_jaccard = |N(a)∩N(b)| / |N(a)∪N(b) − {a,b}|, pure
    * integer counts with one final guarded division.
    *
    * Shape: wedges form at their CENTER via one self-equi-join of the
    * symmetric edge list (shuffle keys = nodes), collapse to per-pair
    * counts, and land back on the verified edges with a left join —
    * everything partial-aggregated, nothing ∝ pairs². Wedge volume is
    * Σ deg(c)², bounded here because the LSH band caps bound degrees;
    * an uncapped hub graph would cap or sample hub centers first (the
    * [[degreeDist]] profile is exactly the pre-flight check). */
  def commonNeighbors(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vp = cachedPairs(spark, dir).select($"doc_a", $"doc_b")
    val e = vp.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(vp.select($"doc_b".as("u"), $"doc_a".as("v")))
    val deg = e.groupBy($"u").agg(count(lit(1)).as("d"))
    val wedges = e.as("e1").join(e.as("e2"),
        $"e1.u" === $"e2.u" && $"e1.v" < $"e2.v")
      .select($"e1.v".as("doc_a"), $"e2.v".as("doc_b"))
    val cn = wedges.join(vp, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_common"))
    val scored = vp.join(cn, Seq("doc_a", "doc_b"), "left")
      .join(deg.withColumnRenamed("u", "doc_a").withColumnRenamed("d", "deg_a"), "doc_a")
      .join(deg.withColumnRenamed("u", "doc_b").withColumnRenamed("d", "deg_b"), "doc_b")
      .withColumn("n_common", coalesce($"n_common", lit(0L)))
    scored.select($"doc_a", $"doc_b", $"n_common", $"deg_a", $"deg_b",
      when($"deg_a" + $"deg_b" - 2L - $"n_common" > 0L,
        $"n_common".cast(DoubleType) /
          ($"deg_a" + $"deg_b" - 2L - $"n_common").cast(DoubleType))
        .as("nbr_jaccard"))
  }

  /** k-hop reachability over the duplicate-similarity graph
    * (`graph_reach`): from a seed set (node id ≡ 0 mod 10 here; in a
    * real pipeline, the flagged/poisoned/contaminated documents),
    * every node within `maxHops` edges gets its MINIMUM hop distance —
    * the "blast radius" query that turns pairwise near-dup evidence
    * into a transitive quarantine list, and the bounded-depth BFS
    * complement of [[componentLabels]]' run-to-convergence labeling.
    *
    * Shape: classic frontier expansion — `maxHops` rounds of
    * (edges ⋈ frontier) with a per-round DISTINCT, then one min-hop
    * aggregate over the level union. Each round's shuffle is
    * ∝ edges incident to the CURRENT frontier, never the whole graph,
    * and hop counts are exact integers. Depth is fixed (not
    * run-to-convergence) because a quarantine policy wants a bounded
    * radius — and at 100 TB a bounded-depth sweep is the difference
    * between k passes and an unbounded iteration. */
  def reach(spark: SparkSession, dir: String, maxHops: Int = 3): DataFrame = {
    import spark.implicits._
    val vp = cachedPairs(spark, dir).select($"doc_a", $"doc_b")
    val e = vp.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(vp.select($"doc_b".as("u"), $"doc_a".as("v")))
    val seeds = e.select($"u".as("node")).distinct()
      .filter(pmod($"node", lit(10L)) === 0L)
    var levels = Seq(seeds.withColumn("hops", lit(0L)))
    var frontier = seeds
    for (i <- 1 to maxHops) {
      frontier = e.join(frontier, $"u" === $"node")
        .select($"v".as("node")).distinct()
      levels = levels :+ frontier.withColumn("hops", lit(i.toLong))
    }
    levels.reduce(_.unionByName(_))
      .groupBy($"node".as("doc_id")).agg(min($"hops").as("hops"))
  }

  /** Component-partition modularity profile (`graph_modularity`) —
    * the structural read on the duplicate graph the cluster family
    * resolves: per component, node count, degree mass D_c and
    * internal edge count, plus each component's share D_c²/(2m)² of
    * the modularity penalty. Under the component partition every edge
    * is internal, so Q = 1 − Σ_c (D_c/2m)² — a share concentrated in
    * one giant component (share → 1, Q → 0) means the "duplicate
    * clusters" are really one hairball and cluster-level policies
    * (keep one per cluster) are about to delete most of the corpus;
    * many small balanced components is the healthy profile. All
    * counts and D_c² are exact integers; the share divides once in
    * double with the same literal shape as the oracle.
    *
    * Scale: degrees and component sums are partial-aggregated
    * reductions over the pair list (shuffle ∝ nodes); m is a one-row
    * driver reduction; nothing touches raw documents. */
  def modularity(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val vp = cachedPairs(spark, dir).select($"doc_a", $"doc_b")
    val e = vp.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(vp.select($"doc_b".as("u"), $"doc_a".as("v")))
    val deg = e.groupBy($"u".as("node")).agg(count(lit(1)).as("d"))
    val m = vp.count()
    deg.join(componentLabels(spark, dir, maxIters), "node")
      .groupBy($"label".as("cluster_id"))
      .agg(count(lit(1)).as("n_nodes"), sum($"d").as("deg_sum"))
      .select($"cluster_id", $"n_nodes", $"deg_sum",
        expr("deg_sum DIV 2").as("n_edges"),
        ($"deg_sum" * $"deg_sum").as("dsq"),
        (($"deg_sum" * $"deg_sum").cast(DoubleType) /
          lit(4L * m * m).cast(DoubleType)).as("share"))
  }

  /** The dedup pipeline's actual OUTPUT: the corpus with every
    * non-keeper cluster member dropped — keepers and never-paired
    * documents survive. A left-anti join against the (tiny relative
    * to the corpus) loser set; at 100 TB the loser list broadcasts or
    * shuffles ∝ duplicates found, never ∝ corpus. */
  def applyDedup(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    // only the loser ids are needed — skip clusters()'s size join
    val losers = componentLabels(spark, dir, maxIters)
      .filter($"node" =!= $"label").select($"node".as("doc_id"))
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", $"source", $"n_chars")
  }

  /** Quality-aware keeper election (`dedup_keep_best`): per duplicate
    * cluster, keep the member with the MOST content (n_chars DESC,
    * doc_id ASC on ties) instead of [[clusters]]' min-id convention —
    * the policy real LLM dedup pipelines want, because the min-id
    * keeper is arbitrary while the longest member usually subsumes
    * its truncated near-duplicates.
    *
    * Shape: the converged component labels (shared/checkpointed with
    * the whole cluster family) join the corpus's (doc_id, n_chars)
    * projection — a column-pruned scan, never the text — and the
    * election is the q_argmax `min(struct)` trick, partial-aggregated
    * so one candidate struct per cluster crosses the shuffle. Output
    * is cluster-sized, not corpus-sized. */
  def keepBest(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val labeled = componentLabels(spark, dir, maxIters)
      .join(Tables.documents(spark, dir)
        .select($"doc_id".as("node"), $"n_chars"), "node")
    labeled.groupBy($"label".as("cluster_id"))
      .agg(min(struct((-$"n_chars").as("negc"), $"node".as("id"))).as("m"),
        count(lit(1)).as("cluster_size"))
      .select($"cluster_id", $"m.id".as("keeper_id"),
        (-$"m.negc").as("keeper_chars"), $"cluster_size")
  }

  /** URL-canonicalization dedup (`dedup_url`) — the FIRST dedup pass
    * of every web-crawl pipeline: the same page is fetched under
    * http/https, cased hosts, trailing slashes, tracking params, and
    * fragments, and collapsing those is pure per-URL string
    * normalization — no content hashing, no pairs, no index. The
    * corpus has no URL column, so (the mm_* blob-packing pattern)
    * each doc derives a deterministic MESSY crawl URL from its dials:
    * scheme by id parity, host casing by id%3, trailing slash on the
    * query-less id%5 stratum, tracking-suffixed query strings by
    * id%7, a fragment by id%11.
    *
    * Canonicalization (applied by regex to the URL STRING, the way a
    * canonicalizer meets real crawl data): drop the scheme, drop the
    * fragment, lowercase the HOST only (path case is significant),
    * drop `utm_*` tracking params (the generator keeps them
    * param-sorted last, standing in for a canonicalizer's param
    * sort), strip the trailing slash. Scan-local expressions into
    * ONE partial-aggregated groupBy on the canonical key — at 100 TB
    * this is a map-side-combined census, the cheapest dedup tier
    * there is, which is exactly why crawls run it first. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    canonicalUrls(spark, dir)
      .groupBy($"canonical_url")
      .agg(min($"doc_id").as("keeper_id"),
        count(lit(1)).as("n_docs"),
        countDistinct($"url").as("n_raw_variants"))
  }

  /** The (doc_id, url, canonical_url) derivation shared by
    * [[urlDedup]] and its streaming twin — scan-local expressions
    * only, so both tiers canonicalize bit-identically. */
  private[graft] def canonicalUrls(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.documents(spark, dir)
    val scheme = when($"doc_id" % 2L === 0L, lit("http://")).otherwise(lit("https://"))
    val host = when($"doc_id" % 3L === 0L, concat(upper($"source"), lit(".Example.COM")))
      .otherwise(concat($"source", lit(".example.com")))
    val path = concat(lit("/"), $"lang", lit("/item-"), ($"doc_id" % 50L).cast("string"))
    val slash = when($"doc_id" % 5L === 0L, lit("/")).otherwise(lit(""))
    val query = when($"doc_id" % 5L =!= 0L && $"doc_id" % 7L === 0L,
        lit("?ref=home&utm_source=feed"))
      .when($"doc_id" % 5L =!= 0L && $"doc_id" % 7L === 1L,
        lit("?utm_source=feed&utm_campaign=x"))
      .otherwise(lit(""))
    val frag = when($"doc_id" % 11L === 0L, lit("#section")).otherwise(lit(""))
    val withUrl = d.select($"doc_id",
      concat(scheme, host, path, slash, query, frag).as("url"))
    // scheme off, fragment off; host lowercases, path/query keep case
    val noScheme = regexp_replace(
      regexp_replace($"url", "^[a-zA-Z][a-zA-Z0-9+.-]*://", ""), "#.*", "")
    withUrl.withColumn("u2", noScheme)
      .withColumn("canonical_url", concat(
        lower(regexp_extract($"u2", "^[^/?]+", 0)),
        regexp_replace(
          regexp_replace(regexp_replace($"u2", "^[^/?]+", ""), "[?&]utm_[^&#]*", ""),
          "/$", "")))
      .select($"doc_id", $"url", $"canonical_url")
  }

  /** Threshold-sensitivity sweep (`dedup_sensitivity`): how the
    * verified near-dup pair set shrinks as the Jaccard threshold
    * rises from the operating point (0.2) to 0.8 — the tuning curve
    * that decides WHERE to set the dedup knife before committing a
    * 100 TB run: a cliff between two thresholds means the corpus has
    * a distinct near-dup family right there. Per threshold: surviving
    * pairs and distinct documents touched.
    *
    * Shape: the verified pair set (with its exact-division Jaccard
    * scores) crosses a 7-row broadcast threshold dimension — the
    * sweep costs 7× a pair-sized frame, never a second corpus pass;
    * both counts partial-aggregate. */
  def sensitivity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = minhash(spark, dir)
    val thresholds = spark.range(2, 9)
      .select(($"id".cast(DoubleType) / 10.0d).as("threshold"))
    pairs.crossJoin(broadcast(thresholds))
      .filter($"jaccard" >= $"threshold")
      .select($"threshold", $"doc_a", $"doc_b",
        explode(array($"doc_a", $"doc_b")).as("doc"))
      .groupBy($"threshold")
      .agg((count(lit(1)) / 2L).cast(LongType).as("n_pairs"),
        countDistinct($"doc").as("n_docs"))
  }

  /** Dedup savings report (`dedup_report`): the management summary of
    * the whole dedup pipeline, as a cluster-SIZE histogram — per
    * cluster size: how many clusters, how many documents, how many
    * would drop under keep-one-per-cluster, and the exact character
    * mass dropped — the "what does dedup buy us" number that decides
    * whether the pipeline runs at all, broken down by the cluster
    * shape ([[kcore]]'s hairball warning in accounting form).
    *
    * Shape: converged labels join the column-pruned (doc_id, n_chars)
    * projection; sizes and the histogram are two partial-aggregated
    * reductions, each strictly smaller than the last (nodes →
    * clusters → distinct sizes). Never touches text. */
  def dedupReport(spark: SparkSession, dir: String, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val labeled = componentLabels(spark, dir, maxIters)
      .join(Tables.documents(spark, dir)
        .select($"doc_id".as("node"), $"n_chars"), "node")
    val perCluster = labeled.groupBy($"label")
      .agg(count(lit(1)).as("cluster_size"),
        sum($"n_chars").as("chars_total"),
        sum(when($"node" =!= $"label", $"n_chars").otherwise(0L)).as("chars_dropped"))
    perCluster.groupBy($"cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum($"cluster_size").as("n_docs"),
        sum($"cluster_size" - 1L).as("n_losers"),
        sum($"chars_total").as("chars_total"),
        sum($"chars_dropped").as("chars_dropped"))
  }

  /** Bounded-round k-core peel (`graph_kcore`): iteratively drop
    * nodes of degree < k from the duplicate graph for a FIXED number
    * of rounds, reporting each node's survival depth and whether it
    * sits in the (round-bounded) k-core — the "dense duplicate mass"
    * detector: chains and stars peel away in a round or two, while
    * template farms (every page near-duplicating every other) survive
    * all rounds and deserve cluster-level policy, not pairwise.
    *
    * Rounds are FIXED (like [[reach]]'s bounded BFS), not
    * run-to-convergence: the depth-R verdict is already the
    * actionable signal (survivors of round R only get denser).
    *
    * Two evaluation paths, size-gated like [[triangles]] (r14,
    * VERDICT r13 task 4). The packed path shuffles the symmetric
    * adjacency ONCE into per-node neighbor arrays and then peels with
    * node-set broadcasts: each round maps the (checkpointed)
    * adjacency against the previous round's SORTED survivor array
    * (binary-search membership, multiplicity preserved by iterating
    * the neighbor array) and collects the ≤|V| survivor ids — the
    * per-round semi-join + edge-set checkpoint cycle is gone, and
    * with it the whole-graph edge state that made the 100x census
    * need a 16g heap (the old path eagerly re-materialized the
    * surviving EDGE set every round: 3 extra edge-sized checkpoints +
    * 2 shuffles per round). The broadcasts scale with NODES, not
    * edges, so the gate prices |V|; past it (10⁹-node graphs) the
    * relational peel below remains the plan: one degree aggregation +
    * two semi-joins per round, all shuffles ∝ surviving edges. Both
    * paths elect identical survivor sets round by round (same deg ≥ k
    * test over the same multiset of edges), so results are
    * bit-identical — Round34Spec pins packed == relational. */
  def kcore(spark: SparkSession, dir: String, k: Int = 2, rounds: Int = 3): DataFrame = {
    import spark.implicits._
    val vp = cachedPairs(spark, dir).select($"doc_a", $"doc_b")
    val sym = vp.select($"doc_a".as("u"), $"doc_b".as("v"))
      .union(vp.select($"doc_b".as("u"), $"doc_a".as("v")))
    // one shuffle builds the per-node neighbor arrays; checkpointed
    // (transient) because every peel round and the final output pass
    // re-scan it. Every node of `sym` appears as a key (the union is
    // symmetric), so adjacency keys == the node set.
    val adjacency = localCheckpointTransient(
      sym.as[(Long, Long)].groupByKey(_._1)
        .mapGroups { (u, it) => (u, it.map(_._2).toArray) }
        .toDF("u", "nbrs"))
      .as[(Long, Array[Long])]
    val nNodes = adjacency.count()
    // survivor-set broadcasts are |V| longs; gate on nodes (~16 B per
    // id incl. structure), same posture as the triangles pack. The
    // returned plan holds every round's survivor set at once, so the
    // footprint is `rounds` sets, not one
    val est = BigInt(nNodes) * 16 * math.max(1, rounds)
    val maxKeep =
      JoinGate.packGateBytes(spark, "spark.graft.graph.maxKeepBroadcastBytes")
    val packed = est <= maxKeep
    println(s"[graft-kcorepack] graph_kcore: est survivor set=$est bytes, " +
      s"threshold=$maxKeep -> " +
      (if (packed) "packed adjacency peel" else "relational semi-join peel"))
    if (packed) {
      val kk = k
      // alive == null means "all nodes alive" (round 1)
      def survivors(alive: org.apache.spark.broadcast.Broadcast[Array[Long]])
          : Array[Long] = {
        val ids = adjacency.mapPartitions { it =>
          val a = if (alive == null) null else alive.value
          it.flatMap { case (u, nbrs) =>
            if (a != null && java.util.Arrays.binarySearch(a, u) < 0) None
            else {
              var d = 0
              var i = 0
              while (i < nbrs.length) {
                if (a == null || java.util.Arrays.binarySearch(a, nbrs(i)) >= 0)
                  d += 1
                i += 1
              }
              if (d >= kk) Some(u) else None
            }
          }
        }.collect()
        java.util.Arrays.sort(ids)
        ids
      }
      // keep_1 ⊇ keep_2 ⊇ ... (a peeled node's edges never return)
      val keeps = new Array[org.apache.spark.broadcast.Broadcast[Array[Long]]](rounds)
      var r = 0
      while (r < rounds) {
        val ids = survivors(if (r == 0) null else keeps(r - 1))
        keeps(r) = spark.sparkContext.broadcast(ids)
        // destroyed (blocking) at the caller's next transient drain —
        // the returned plan's final pass still reads them
        trackTransientBroadcast(keeps(r))
        r += 1
      }
      val last = if (rounds > 0) keeps(rounds - 1) else null
      val nR = rounds.toLong
      adjacency.mapPartitions { it =>
        val ks: Array[Array[Long]] = keeps.map(_.value)
        val fin = if (last == null) null else last.value
        it.map { case (u, nbrs) =>
          // survivor sets are nested, so rounds_survived = deepest r
          // containing u — probe from the deepest set up
          var rs = ks.length
          while (rs > 0 && java.util.Arrays.binarySearch(ks(rs - 1), u) < 0)
            rs -= 1
          val fd =
            if (fin != null && java.util.Arrays.binarySearch(fin, u) < 0) 0L
            else {
              var d = 0L
              var i = 0
              while (i < nbrs.length) {
                if (fin == null ||
                    java.util.Arrays.binarySearch(fin, nbrs(i)) >= 0) d += 1L
                i += 1
              }
              d
            }
          (u, rs.toLong, rs.toLong == nR, fd)
        }
      }.toDF("doc_id", "rounds_survived", "in_core", "final_degree")
    } else {
      val all = sym.select($"u".as("node")).distinct()
      var edges = sym
      var prevEdgeBlocks: Seq[org.apache.spark.rdd.RDD[_]] = Nil
      // survived(r) = nodes still present after r peel rounds
      var depth = all.withColumn("rounds_survived", lit(0L))
      for (_ <- 1 to rounds) {
        val deg = edges.groupBy($"u").agg(count(lit(1)).as("d"))
        // every round's keep set feeds the RETURNED depth plan →
        // transient (freed by the harness drain), not per-round
        val keep = localCheckpointTransient(
          deg.filter($"d" >= k).select($"u".as("node")))
        val (nextEdges, edgeBlocks) = localCheckpointTracked(edges
          .join(keep.select($"node".as("u")), Seq("u"), "left_semi")
          .join(keep.select($"node".as("v")), Seq("v"), "left_semi"))
        // the superseded round's edge blocks are dead the instant the
        // eager checkpoint above materializes — unpersist them now
        // instead of leaking one edge set per round (ADVICE r8)
        prevEdgeBlocks.foreach(_.unpersist(blocking = false))
        prevEdgeBlocks = edgeBlocks
        edges = nextEdges
        depth = depth.join(keep.withColumn("s", lit(1L)), Seq("node"), "left")
          .select($"node",
            ($"rounds_survived" + coalesce($"s", lit(0L))).as("rounds_survived"))
      }
      // the final round's edges feed finalDeg in the returned plan
      trackTransient(prevEdgeBlocks)
      val finalDeg = edges.groupBy($"u".as("node")).agg(count(lit(1)).as("fd"))
      depth.join(finalDeg, Seq("node"), "left")
        .select($"node".as("doc_id"), $"rounds_survived",
          ($"rounds_survived" === rounds.toLong).as("in_core"),
          coalesce($"fd", lit(0L)).as("final_degree"))
    }
  }

  /** Embedding-cosine near-duplicates: candidates share an adaptive-
    * width random-hyperplane signature bucket (Similarity.sigBuckets
    * — width grows log2(N), hot buckets capped), pairs kept at
    * cosine ≥ 0.35 with fold-exact scores. */
  def embed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // norms computed once per vector (not per candidate pair);
    // dot/(sqrt·sqrt) ordering matches the oracle exactly
    val sigs = Similarity.sigBuckets(spark, dir)
    sigs.as("a").join(sigs.as("b"), Seq("sig"))
      .where($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        (VecFns.dot($"a.embedding", $"b.embedding") / ($"a.nrm" * $"b.nrm")).as("cosine"))
      .filter($"cosine" >= 0.35d)
  }

  /** Exact-substring duplication scoring (the signal behind suffix-
    * array dedup, Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better"): a `k`-token window at EVERY position
    * of every document — the SLIDING variant of [[Curation.dedupLines]]'
    * fixed chunks, so a duplicated passage is detected at any
    * alignment, not only on chunk boundaries. A position is
    * duplicated when its k-gram appears in ≥ 2 distinct documents;
    * each document reports its duplicated-position count and
    * fraction (the score a removal pass thresholds on).
    *
    * Scale shape: positions explode scan-local (slice over the token
    * array), the cross-document census is one partial-aggregated
    * two-level count on the gram, and the duplicated-gram set comes
    * back as a semi-join on the same key — shuffle ∝ corpus token
    * positions, never pairs. At 100 TB the join key would be a
    * 128-bit gram hash (narrow exchange rows); the reference
    * suffix-array formulation finds the same spans in O(n log n)
    * single-node — the distributed shape trades that for linear
    * shuffles that partition. Documents shorter than k tokens
    * contribute their whole text as one position. */
  def substringDup(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    import spark.implicits._
    val toks = TextFns.tokens($"text")
    // positions build through the native SlidingShingles expression
    // (plans/TextExprs documents the value-identity with the composed
    // transform∘slice∘array_join spelling): the HOF ran the slice+join
    // INTERPRETED per position — measured 13.4 s for this key at
    // sf0.1 under the noop action (count() had pruned the gram text
    // entirely and hidden it)
    val pos = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(graft.plans.TextExprs.slidingShinglesCol($"text", k)).as("gram"))
    val dup = pos.groupBy($"gram")
      .agg(countDistinct($"doc_id").as("df"))
      .filter($"df" >= 2)
      .select($"gram")
    val counts = pos.join(dup, Seq("gram"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("dup_pos"))
    Tables.documents(spark, dir)
      .select($"doc_id",
        greatest(size(toks) - (k - 1), lit(1)).cast(LongType).as("n_positions"))
      .join(counts, Seq("doc_id"), "left")
      .select($"doc_id", $"n_positions",
        coalesce($"dup_pos", lit(0L)).as("n_dup_positions"),
        (coalesce($"dup_pos", lit(0L)).cast(DoubleType) /
          $"n_positions".cast(DoubleType)).as("dup_frac"))
  }

  /** Edit-distance near-dup pairs over LSH candidates
    * (`dedup_fuzzy`): exact Levenshtein as the VERIFICATION tier on
    * MinHash-LSH candidate generation — the fuzzy-ER pipeline shape.
    * Jaccard verification (`dedup_minhash`) treats a document as a
    * shingle SET; edit distance sees order and small in-place edits,
    * so this tier grades template fills and typo-level rewrites the
    * set view scores identically.
    *
    * Scale shape: Levenshtein is O(len²) DP per pair — the operator
    * is only sane if the pair set is candidate-sized, never
    * corpus-sized. A first cut blocked on (source, length-bucket);
    * at sf0.1 that yielded 218k candidate pairs and a 183 s bench —
    * length agreement just isn't selective. LSH banding IS the
    * selective blocker (collision probability tracks similarity),
    * and it's already the audited scale path of `dedup_minhash`; the
    * verify join back to the 512-char heads is candidate-sized. The
    * DP cap bounds per-pair cost (equal prefixes ⇒ tail distance
    * unmeasured — documented); the relative threshold divides two
    * exact ints. */
  def fuzzy(spark: SparkSession, dir: String, cap: Int = 512,
            maxRel: Double = 0.25): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", substring($"text", 1, cap).as("head"),
        least($"n_chars", lit(cap.toLong)).as("hlen"))
    lshCandidates(spark, dir)
      .join(docs.select($"doc_id".as("doc_a"), $"head".as("h1"), $"hlen".as("len1")), "doc_a")
      .join(docs.select($"doc_id".as("doc_b"), $"head".as("h2"), $"hlen".as("len2")), "doc_b")
      // two exact prunes before the O(len²) DP (100x census:
      // 720 s → the candidate set is dominated by verbatim clones):
      // lev(x, x) = 0, and lev ≥ |len1 − len2|, so a pair whose
      // length gap already exceeds the threshold can never pass
      .filter(abs($"len1" - $"len2").cast(DoubleType) <=
        lit(maxRel) * greatest($"len1", $"len2").cast(DoubleType))
      .withColumn("lev",
        when($"h1" === $"h2", lit(0)).otherwise(levenshtein($"h1", $"h2")))
      .filter($"lev" <= lit(maxRel) * greatest($"len1", $"len2").cast(DoubleType))
      .select($"doc_a".as("doc_id1"), $"doc_b".as("doc_id2"),
        $"lev".cast(LongType).as("edit_distance"), $"len1", $"len2",
        (lit(1.0d) - $"lev".cast(DoubleType) /
          greatest($"len1", $"len2").cast(DoubleType)).as("similarity"))
  }
}
