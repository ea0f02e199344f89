package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Incremental MIN/MAX view maintenance under deletes
  * (`stream_mv_minmax`) — the algebra [[StreamMvRefresh]] documents
  * as NOT self-maintainable: a delete can expose a new minimum that
  * only the deleted value's successors know. The standard IVM answer
  * (bounded synopsis + rescan-on-expose) is implemented here: per
  * language the state seeds with the K smallest / K largest
  * (n_bytes, doc_id) candidates of the STANDING corpus (batch-built,
  * like the standing view in stream_mv_refresh), the delta feed folds
  * in — an insert below the seed horizon joins the candidates, a
  * delete retires its exact (value, id) cell — and the view's min/max
  * read off the surviving candidate heads. Only when a language's
  * candidate set is fully deleted while live rows remain does the
  * view RESCAN that one language from the merged corpus — the
  * documented, audited escape hatch, priced per exposed language,
  * never a standing per-delta corpus scan.
  *
  * Correctness invariant: every live row outside the candidate set
  * has value ≥ the min horizon (the seed's K-th smallest; inserts at
  * or below the horizon are absorbed), so a non-empty candidate set's
  * head IS the true minimum; symmetric for max. NULL values never
  * enter the synopsis (SQL MIN/MAX skip them) — a language whose
  * non-NULL population reaches zero reports NULL, not a rescan.
  *
  * Gated on the full-recompute oracle: the incremental path must be
  * indistinguishable from `SELECT lang, MIN(n_bytes), MAX(n_bytes)`
  * over the merged corpus, whichever path (synopsis or rescan) each
  * language took. Delta classes replay snapshotDiff's deterministic
  * re-crawl (7th revised +7 bytes, 11th removed, 13th re-discovered).
  *
  * A flushed language KEEPS its synopsis (unlike the delta cells of
  * stream_mv_refresh, which reset at the barrier): this state is the
  * view itself, so a later barrier re-reads the same — correctly
  * maintained — snapshot.
  */
object StreamMvMinMax {

  /** Synopsis width: candidates survive K deletions of the extreme
    * tier before a rescan is needed. */
  val K = 8

  /** Flat event row: kind ∈ seedmin/seedmax/count/del/ins, `v` the
    * value (None = NULL n_bytes), `id` the doc identity for exact
    * candidate retirement. */
  case class Ev(lang: Option[String], kind: String, v: Option[Long],
      id: Long, nDocs: Long, nNonnull: Long, sentinel: Boolean)
  case class Cand(v: Long, id: Long)
  case class St(minC: List[Cand], maxC: List[Cand],
      minHorizon: Option[Long], maxHorizon: Option[Long],
      nDocs: Long, nNonnull: Long)
  case class Out(lang: Option[String], min_v: Option[Long],
      max_v: Option[Long], exposed_min: Boolean, exposed_max: Boolean,
      n_docs: Long)

  private val prio = Map("seedmin" -> 0, "seedmax" -> 0, "count" -> 0,
    "del" -> 1, "ins" -> 1)

  /** The stateful core. Seeds sort before deltas inside a batch (the
    * synopsis must exist before the first delta lands), the sentinel
    * after both; deltas order by id for determinism, though
    * retirement matches on exact (v, id) so delta order cannot change
    * the outcome. */
  def fold(ev: Dataset[Ev], k: Int = K): Dataset[Out] =
    Staged.onArrival(ev)(_.lang, e => (prio.getOrElse(e.kind, 2), e.id))(
        St(Nil, Nil, None, None, 0L, 0L)) { (st, e) =>
      if (e.sentinel)
        (st, if (st.nDocs <= 0L) None else Some(Out(e.lang,
          st.minC.headOption.map(_.v), st.maxC.headOption.map(_.v),
          exposed_min = st.minC.isEmpty && st.nNonnull > 0L,
          exposed_max = st.maxC.isEmpty && st.nNonnull > 0L,
          st.nDocs)))
      else (e.kind match {
        case "seedmin" =>
          val c = (st.minC :+ Cand(e.v.get, e.id)).sortBy(c => (c.v, c.id))
          // horizon = the largest seeded candidate once the seed
          // is K wide; a narrower seed means the WHOLE language
          // fits, so every insert is absorbed (horizon stays None
          // only while the seed covers everything)
          st.copy(minC = c, minHorizon = if (c.length >= k) Some(c.last.v) else None)
        case "seedmax" =>
          val c = (st.maxC :+ Cand(e.v.get, e.id)).sortBy(c => (-c.v, c.id))
          st.copy(maxC = c, maxHorizon = if (c.length >= k) Some(c.last.v) else None)
        case "count" =>
          st.copy(nDocs = st.nDocs + e.nDocs, nNonnull = st.nNonnull + e.nNonnull)
        case "del" =>
          st.copy(nDocs = st.nDocs - 1L,
            nNonnull = st.nNonnull - e.v.fold(0L)(_ => 1L),
            minC = e.v.fold(st.minC)(v =>
              st.minC.filterNot(c => c.v == v && c.id == e.id)),
            maxC = e.v.fold(st.maxC)(v =>
              st.maxC.filterNot(c => c.v == v && c.id == e.id)))
        case "ins" =>
          val counted = st.copy(nDocs = st.nDocs + 1L,
            nNonnull = st.nNonnull + e.v.fold(0L)(_ => 1L))
          e.v.fold(counted) { v =>
            val withMin = if (counted.minHorizon.forall(v <= _))
              counted.copy(minC = (counted.minC :+ Cand(v, e.id)).sortBy(c => (c.v, c.id)))
              else counted
            if (withMin.maxHorizon.forall(v >= _))
              withMin.copy(maxC = (withMin.maxC :+ Cand(v, e.id)).sortBy(c => (-c.v, c.id)))
            else withMin
          }
        case other =>
          throw new IllegalStateException(s"unknown delta kind $other")
      }, None)
    }

  def streamedMvMinMax(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NULL doc_id rows are invisible to the oracle's merged view
    // (NULL % k selects nothing on either branch) and have no
    // identity for candidate retirement — excluded symmetrically
    val docs = graft.sources.Tables.documents(spark, dir)
      .filter($"doc_id".isNotNull)
      .select($"doc_id", $"lang",
        octet_length($"text").cast(LongType).as("n_bytes"))
    // --- batch-built standing synopsis (the view's persisted state) —
    // K smallest / K largest per language via the bounded-heap
    // aggregate: map-side heaps, ≤ K pairs per language cross the
    // shuffle, never a per-language sort of the corpus
    val nn = docs.filter($"n_bytes".isNotNull)
    val seedMin = nn.groupBy($"lang")
      .agg(graft.plans.Sketch.topKPairs(
        -$"n_bytes".cast("double"), $"doc_id", K).as("top"))
      .select($"lang", explode($"top").as("c"))
      .select($"lang", lit("seedmin").as("kind"),
        (-$"c.value").cast(LongType).as("v"), $"c.key".as("id"))
    val seedMax = nn.groupBy($"lang")
      .agg(graft.plans.Sketch.topKPairs(
        $"n_bytes".cast("double"), $"doc_id", K).as("top"))
      .select($"lang", explode($"top").as("c"))
      .select($"lang", lit("seedmax").as("kind"),
        $"c.value".cast(LongType).as("v"), $"c.key".as("id"))
    val counts = docs.groupBy($"lang")
      .agg(count(lit(1)).as("nDocs"), count($"n_bytes").as("nNonnull"))
      .select($"lang", lit("count").as("kind"), lit(null).cast(LongType).as("v"),
        lit(0L).as("id"), $"nDocs", $"nNonnull")
    def ev(df: DataFrame): DataFrame =
      df.select($"lang", $"kind", $"v", $"id",
        lit(0L).as("nDocs"), lit(0L).as("nNonnull"))
    val seeds = ev(seedMin).unionByName(ev(seedMax)).unionByName(counts)
    // --- the delta feed: snapshotDiff's re-crawl classes. A revision
    // is delete(old) + insert(new) for an order-sensitive view; the
    // +7 rides only on non-NULL bytes (NULL revises to NULL — the
    // oracle's n_bytes + 7 stays NULL)
    val dels = docs.filter($"doc_id" % 11 === 0)
      .select($"lang", lit("del").as("kind"), $"n_bytes".as("v"), $"doc_id".as("id"))
    val revDel = docs.filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0)
      .select($"lang", lit("del").as("kind"), $"n_bytes".as("v"), $"doc_id".as("id"))
    val revIns = docs.filter($"doc_id" % 7 === 0 && $"doc_id" % 11 =!= 0)
      .select($"lang", lit("ins").as("kind"), ($"n_bytes" + 7L).as("v"), $"doc_id".as("id"))
    // re-discovered docs take NEGATIVE ids (-doc_id - 1): collision-
    // free against every real doc_id at any scale, and the underlying
    // doc recovers for the staging cut; the oracle never sees ids
    val ins = docs.filter($"doc_id" % 13 === 0)
      .select($"lang", lit("ins").as("kind"), $"n_bytes".as("v"),
        (-$"doc_id" - 1L).as("id"))
    val delta = ev(dels).unionByName(ev(revDel))
      .unionByName(ev(revIns)).unionByName(ev(ins))
    // stage at the median doc-id cut so every language's delta
    // straddles it (the cross-batch fold is the gated property); the
    // seeds ride batch 1
    val cut = Staged.timeCut(delta, when($"id" < 0, -$"id" - 1L).otherwise($"id"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](
        seeds.unionByName(cut.head) +: cut.tail, docs.select($"lang").distinct())) {
      stream => fold(stream.as[Ev]).toDF()
    }
    // --- rescan-on-expose: the one batch pass a deleted-out extreme
    // tier costs, restricted to the exposed languages and audited
    val merged = docs.filter($"doc_id" % 11 =!= 0)
      .select($"lang",
        when($"doc_id" % 7 === 0, $"n_bytes" + 7L).otherwise($"n_bytes").as("n_bytes"))
      .unionByName(docs.filter($"doc_id" % 13 === 0).select($"lang", $"n_bytes"))
    val exposed = flushed.filter($"exposed_min" || $"exposed_max")
      .select($"lang").collect().map(r => Option(r.getString(0)))
    if (exposed.nonEmpty)
      println(s"[graft-observe] stream_mv_minmax_rescan: ${exposed.length} " +
        "language(s) deleted out their candidate synopsis — rescan-on-expose " +
        s"ran for ${exposed.map(_.getOrElse("NULL")).sorted.mkString(", ")} " +
        "(the priced IVM escape hatch; widen K if this fires on every census)")
    val exposedLangs = flushed.filter($"exposed_min" || $"exposed_max")
      .select($"lang".as("xlang"))
    val rescan = merged.as("m")
      .join(exposedLangs, $"m.lang" <=> $"xlang", "left_semi")
      .groupBy($"m.lang")
      .agg(min($"n_bytes").as("r_min"), max($"n_bytes").as("r_max"))
    flushed.as("f").join(rescan.as("r"), $"f.lang" <=> $"r.lang", "left_outer")
      .select($"f.lang".as("lang"),
        when($"f.exposed_min", $"r.r_min").otherwise($"f.min_v").as("min_bytes"),
        when($"f.exposed_max", $"r.r_max").otherwise($"f.max_v").as("max_bytes"))
  }
}
