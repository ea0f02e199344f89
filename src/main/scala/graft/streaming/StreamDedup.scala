package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{HashFns, TextFns}

/** Streaming incremental near-duplicate detection — the piece a
  * production training-data pipeline runs daily: newly arriving
  * documents are flagged against the EXISTING corpus without
  * re-scanning it.
  *
  * The state is the LSH band index itself: per (band, bandkey) bucket,
  * the member list (doc_id, MinHash signature). A new document joins
  * each of its 4 band buckets and immediately emits an estimated-
  * Jaccard candidate pair against every member already there — the
  * incremental twin of [[graft.operators.Dedup.minhashEstimate]]'s
  * single-scan batch shape, with identical hashes and the identical
  * agree/16 estimate, so a replay of the corpus through the stream
  * produces exactly the batch operator's pair set (parity-tested, and
  * oracle-gated as `dedup_stream`).
  *
  * Scale posture: state shards by bucket key (the same equi-join key
  * the batch plan shuffles on); hot buckets (> `MaxBucket` docs — the
  * duplicate-heavy-crawl case) are pruned BEFORE the index by a
  * static profile built on the batch census cadence (see
  * [[hotBucketProfile]]), the same whole-bucket stop-band the batch
  * tier applies, so surviving buckets hold ≤ `MaxBucket` members by
  * construction; signatures are 16 longs per member — the 100 TB
  * corpus never re-shuffles, only the day's increment moves.
  */
object StreamDedup {

  case class BandRow(band: Int, bkey: Long, doc_id: Long, sig: Seq[Long])
  case class Member(id: Long, sig: Seq[Long])
  /** Sink event of the demote-aware index: a candidate pair tagged
    * with its bucket, or (demoted=true) a tombstone announcing the
    * bucket crossed the cap IN-STREAM — past the static profile — and
    * its pairs must be retracted on read-back. */
  case class PairEv(band: Int, bkey: Long, doc_a: Long, doc_b: Long,
      est_jaccard: Double, demoted: Boolean)
  /** Per-bucket state: the member list, and whether the bucket has
    * been demoted to census-only mode (members cleared — a demoted
    * bucket holds ZERO state, the same cost as the profile prune). */
  case class BucketSt(members: Seq[Member], demoted: Boolean)
  // Option-typed hash: a NULL-text document hashes to NULL (the
  // batch tier and the NULL-preserving oracle ph agree) and must form
  // its own keeper group, not crash the encoder (r10
  // documents-adversarial finding)
  case class HashRow(content_hash: Option[Long], doc_id: Long)
  case class ArrivalOut(content_hash: Option[Long], doc_id: Long, is_dup: Boolean)

  /** (doc_id, text) stream → one row per (band, bucket) — the same
    * MinHash + band-key plan as the batch operator, stateless, so it
    * runs identically over bounded or unbounded sources. */
  def bandRows(docs: DataFrame): Dataset[BandRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", HashFns.minHashesNative(TextFns.shingleSet($"text", 3)).as("mh"))
      .select($"doc_id", $"mh", explode(array((0 until HashFns.Bands).map { b =>
        struct(lit(b).as("band"),
          HashFns.foldKey(slice($"mh", b * HashFns.RowsPerBand + 1, HashFns.RowsPerBand))
            .as("bkey"))
      }: _*)).as("bk"))
      .select($"bk.band".as("band"), $"bk.bkey".as("bkey"), $"doc_id", $"mh".as("sig"))
      // a NULL-text doc has no signature: the batch tier's NULL band
      // keys never equi-join (SQL NULL != NULL), so it contributes no
      // pairs there — drop it here for the same pair set instead of
      // crashing the non-nullable encoder
      .filter($"sig".isNotNull && $"bkey".isNotNull)
      .as[BandRow]
  }

  /** The stateful core: per-bucket member lists; every arrival emits
    * candidate pairs against the bucket's existing members (state
    * from ALL previous batches plus earlier arrivals in this batch).
    * Estimate = agreeing signature components / 16, bit-identical to
    * the batch SigAgreeCount path. */
  def incrementalPairs(bands: Dataset[BandRow], maxBucket: Int = 200,
      overflow: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[PairEv] =
    // deterministic intra-batch order (arrival order proxy)
    Staged.onArrival(bands)(r => (r.band, r.bkey), _.doc_id)(
        BucketSt(Seq.empty, demoted = false)) { (st, r) =>
      if (st.demoted) {
        // census-only mode: the bucket crossed the cap past the
        // static profile (DRIFT) — count arrivals for the audit,
        // hold no members, emit no pairs
        overflow.foreach(_.add(1L))
        (st, Nil)
      } else if (st.members.exists(_.id == r.doc_id)) (st, Nil)   // replay-safe
      else if (st.members.size >= maxBucket) {
        // the (cap+1)-th DISTINCT doc: in the batch census this
        // bucket has bc > maxBucket and is stop-banded WHOLE —
        // demote it (r12 VERDICT task 4): clear the state,
        // announce a tombstone so the read-back retracts the
        // pairs it emitted while still under the cap. The
        // streamed pair set stays EQUAL to the batch oracle's
        // even when the profile lagged the corpus — drift costs
        // an audit line, never a crash and never a divergence.
        overflow.foreach(_.add(1L))
        (BucketSt(Seq.empty, demoted = true),
          Seq(PairEv(r.band, r.bkey, -1L, -1L, 0.0d, demoted = true)))
      } else (BucketSt(st.members :+ Member(r.doc_id, r.sig), demoted = false),
        st.members.map { m =>
          var c = 0
          var i = 0
          val n = math.min(m.sig.length, r.sig.length)
          while (i < n) { if (m.sig(i) == r.sig(i)) c += 1; i += 1 }
          val (lo, hi) = if (m.id < r.doc_id) (m.id, r.doc_id) else (r.doc_id, m.id)
          PairEv(r.band, r.bkey, lo, hi, c / 16.0d, demoted = false)
        })
    }

  /** Read-back retraction for the demote-aware index: drop every pair
    * belonging to a tombstoned bucket, then project to the distinct
    * pair set — the batch stop-band semantics (a bucket that crossed
    * the cap contributes NOTHING), reconstructed from the append-only
    * sink log. The tombstone set is drift-sized (usually empty), so
    * the anti-join broadcasts. */
  private[graft] def retractDemoted(ev: DataFrame): DataFrame = {
    import ev.sparkSession.implicits._
    // lineage break on the tombstone side: both join inputs derive
    // from the SAME sink scan, and a memory-sink view cannot be
    // self-join-deduplicated by the analyzer (INTERNAL_ERROR —
    // conflicting references). The tombstone set is drift-sized
    // (bounded by the hot-bucket census, usually empty), so paying
    // its own scan is noise.
    val demoted0 = ev.filter($"demoted").select($"band", $"bkey").distinct()
    val demoted = ev.sparkSession.createDataFrame(demoted0.rdd, demoted0.schema)
    ev.filter(!$"demoted")
      .join(demoted, Seq("band", "bkey"), "left_anti")
      .select($"doc_a", $"doc_b", $"est_jaccard")
      .distinct()
  }

  /** Streaming EXACT dedup — the other half of the daily pipeline
    * beside the near-dup index: per content hash the state is the
    * keeper's existence, and every arrival is flagged new-vs-duplicate
    * against the standing corpus without rescanning it. Emission is
    * append-safe (one immutable row per arrival), so any sink works
    * and the keeper/copy-count view is a plain aggregation of the
    * emitted log. State per hash is one boolean — the 100 TB state
    * footprint is the distinct-document count, sharded by the same
    * hash the batch plan groups on. */
  def incrementalExact(rows: Dataset[HashRow]): Dataset[ArrivalOut] =
    // deterministic intra-batch order (arrival order proxy): smaller
    // doc_id arrives first, so the keeper is the global min when
    // batches are staged in doc_id order
    Staged.onArrival(rows)(_.content_hash, _.doc_id)(false) { (seen, r) =>
      (true, Some(ArrivalOut(r.content_hash, r.doc_id, seen)))
    }

  /** The batch-gated run (`dedup_exact_stream`): two doc_id-ordered
    * micro-batches through [[incrementalExact]]; the arrival log
    * aggregates to exactly the batch [[graft.operators.Dedup.exact]]
    * result (keeper = first arrival = min doc_id, copies = arrivals)
    * — which only holds if batch-2 copies are caught against batch-1
    * state. */
  def streamedExactDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir)
      .select($"doc_id", graft.functions.HashFns.polyHash($"text").as("content_hash"))
    val log = Staged.run(spark, Staged.timeCut(docs.filter($"doc_id".isNotNull), $"doc_id")) {
      stream => incrementalExact(stream.select($"content_hash", $"doc_id").as[HashRow]).toDF()
    }
    // exactly one keeper per hash, and it must be the smallest id —
    // anything else means cross-batch state was not consulted
    val badKeeper = log.groupBy($"content_hash")
      .agg(count(when(!$"is_dup", 1)).as("keepers"),
        min($"doc_id").as("mn"),
        min(when(!$"is_dup", $"doc_id")).as("keeper"))
      .filter($"keepers" =!= 1 || $"keeper" =!= $"mn").count()
    if (badKeeper > 0)
      throw new IllegalStateException(
        s"streamed exact dedup: $badKeeper hashes have a wrong keeper " +
          "(duplicate not matched against earlier-batch state)")
    log.groupBy($"content_hash")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
  }

  /** Shared stop-band cap — MUST move together with the batch tier's
    * (Dedup.minhashEstimate/lshCandidates maxBucket) and the mhrare
    * CTE in the DuckDB oracles, or the streamed pair set diverges
    * from the batch oracle's. */
  private[graft] val MaxBucket = 200

  /** Static hot-bucket profile for the streaming LSH index — the
    * stream_enrich pattern: the set of (band, bkey) buckets shared by
    * more than [[MaxBucket]] docs, built ONCE from the standing
    * corpus with exactly the batch tier's census (so pruning them
    * from the stream reproduces the batch stop-band, pair-for-pair).
    * In a deployment this is yesterday's corpus census, refreshed on
    * the batch cadence; the gate builds it from the staged corpus,
    * which is the same data the oracle sees. Runs through
    * [[StopBand.audited]], so the pruned buckets/members are reported
    * loudly on the observation channel — the prune is never silent. */
  private[graft] def hotBucketProfile(docs: DataFrame): Set[(Int, Long)] = {
    import docs.sparkSession.implicits._
    graft.operators.StopBand.audited(
        bandRows(docs).groupBy($"band", $"bkey").agg(count(lit(1)).as("bc")),
        "dedup_stream_profile", MaxBucket)
      .filter($"bc" > MaxBucket)
      .select($"band", $"bkey").as[(Int, Long)]
      // driver-held profile is bounded: ≤ bands·N/cap entries (each
      // hot bucket holds > cap docs), i.e. ~40k tuples at the 100x
      // census — a profile, not a corpus
      .collect().toSet
  }

  /** The batch-gated end-to-end run (`dedup_stream`): the documents
    * table staged as TWO micro-batches (split at the median doc_id),
    * streamed through the incremental index, pairs deduplicated
    * across bands on the sink read-back. A near-duplicate whose
    * partner arrived in the earlier batch is caught against the
    * bucket state, not a rescan — the oracle (dedup_minhash_est's
    * pair set) only matches if cross-batch detection works.
    *
    * Scale story (r11 VERDICT task 2): band rows landing in a
    * profiled hot bucket are pruned BEFORE the stateful index — the
    * same whole-bucket stop-band the batch tier applies — so at 100x
    * duplication the twin completes with a loud audit (the profile
    * census reports dropped buckets/members) instead of aborting once
    * per-bucket membership caps.
    *
    * Drift story (r12 VERDICT task 4): a production stream DRIFTS —
    * a bucket can cross the cap after the profile census that was
    * supposed to prune it. The index demotes such a bucket at arrival
    * (census-only mode, state cleared, tombstone emitted) and the
    * read-back retracts its already-emitted pairs, so the streamed
    * pair set still equals the batch oracle's stop-band semantics on
    * the TRUE corpus; the drift surfaces as a loud audit line, never
    * a crash and never a silent divergence. `staleProfile` injects a
    * lagged census (the drift spec's hook; production would pass
    * yesterday's). */
  def streamedDedup(spark: SparkSession, dir: String,
      staleProfile: Option[Set[(Int, Long)]] = None): DataFrame = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, dir).select($"doc_id", $"text")
    val hot = spark.sparkContext.broadcast(
      staleProfile.getOrElse(hotBucketProfile(docs)))
    val dropped = spark.sparkContext.longAccumulator("dedup_stream_bucket_overflow")
    val sink = Staged.run(spark, Staged.timeCut(docs.filter($"doc_id".isNotNull), $"doc_id")) {
      stream => incrementalPairs(
        bandRows(stream).filter(r => !hot.value.contains((r.band, r.bkey))),
        maxBucket = MaxBucket, overflow = Some(dropped)).toDF()
    }
    // one pair per band bucket shared -> distinct across bands
    // (est_jaccard depends only on the full signatures, so the
    // duplicates are exact); demoted buckets' pairs retract first
    val pairs = retractDemoted(sink)
    if (dropped.value > 0)
      println(s"[graft-observe] dedup_stream_drift: ${dropped.value} " +
        s"arrivals hit buckets that crossed $MaxBucket docs PAST the " +
        "static profile (census drift) — those buckets were demoted to " +
        "census-only mode and their pairs retracted on read-back " +
        "(batch stop-band semantics preserved); refresh the profile " +
        "(hotBucketProfile) on the batch census cadence")
    pairs
  }
}
