package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.funnel3]] — the
  * three-step signup → view → purchase funnel run INCREMENTALLY,
  * generalizing [[StreamFunnel]]'s retroactive-qualifier state one
  * level deeper. The chain is doubly moving: `view_ts` = min view ≥
  * min signup moves DOWN as earlier signups arrive, and every such
  * move can retroactively qualify purchases rejected against the old
  * `view_ts`. Per-user state is therefore two copies of the funnel
  * invariant: (minSignup; qualifying-view min + pending views below
  * it; qualifying-purchase min + pending purchases below it). The
  * pend-prune rule is StreamFunnel's, proven one level at a time: a
  * pending entry at or above the current qualifying min can never
  * BECOME the min (the current qualifier already beats it for every
  * possible future threshold), so pend holds only distinct values
  * below the qualifying min — bounded by pre-signup (resp. pre-view)
  * arrivals, watermark-droppable in production.
  *
  * Emission at the snapshot barrier only (reached_step can upgrade
  * retroactively; append mode forbids retraction). Shares
  * events_funnel3's oracle, so a batch-2 EARLIER signup must promote
  * batch-1 pending views AND re-qualify batch-1 pending purchases
  * through the moved view_ts for the hash to match.
  *
  * Scale posture: the stream filters to the three funnel types before
  * the stateful shuffle; state shards on user_id (the batch groupBy
  * key); everything else is O(distinct pend values) per user.
  */
object StreamFunnel3 {

  case class Ev(user_id: Option[Long], ts_us: Long, typ: String, sentinel: Boolean)
  case class F3State(minSignup: Long,
    viewQual: Long, viewPend: Seq[Long],
    purchQual: Long, purchPend: Seq[Long])
  case class F3Out(user_id: Option[Long], signup_us: Long,
    view_us: Option[Long], purchase_us: Option[Long])

  private val None_ = Long.MaxValue

  /** Lower `qual` with every pend entry ≥ `threshold`, re-prune pend
    * to distinct values strictly below the new qual. Returns
    * (newQual, newPend). */
  private def promote(qual: Long, pend: Seq[Long], threshold: Long): (Long, Seq[Long]) = {
    val (promoted, keep) = pend.partition(_ >= threshold)
    val q = if (promoted.isEmpty) qual else math.min(qual, promoted.min)
    (q, keep.filter(_ < q))
  }

  /** The view threshold moved down: re-run the purchase election
    * against it. */
  private def requalifyPurchases(s: F3State): F3State = {
    val (pq, pp) = promote(s.purchQual, s.purchPend, s.viewQual)
    s.copy(purchQual = pq, purchPend = pp)
  }

  /** The stateful core: fold the three event types into the chained
    * election; emit exactly once, at the sentinel. */
  def funnel3Stream(evs: Dataset[Ev]): Dataset[F3Out] =
    Staged.atBarrier(evs)(_.user_id, _.sentinel)(F3State(None_, None_, Nil, None_, Nil)) {
      (s, e) =>
        // a NULL user never equi-joins in the batch shape: its
        // views/purchases can't qualify against its signups —
        // only the signup election itself survives (s1 groups
        // nulls; s2/s3 joins drop them)
        if (e.user_id.isEmpty && e.typ != "signup") s
        else e.typ match {
          case "signup" if e.ts_us < s.minSignup =>
            val (vq, vp) = promote(s.viewQual, s.viewPend, e.ts_us)
            val s2 = s.copy(minSignup = e.ts_us, viewQual = vq, viewPend = vp)
            if (vq < s.viewQual) requalifyPurchases(s2) else s2
          case "view" =>
            if (e.ts_us >= s.minSignup) {
              if (e.ts_us < s.viewQual) requalifyPurchases(s.copy(viewQual = e.ts_us))
              else s
            } else if (e.ts_us < s.viewQual && !s.viewPend.contains(e.ts_us))
              s.copy(viewPend = s.viewPend :+ e.ts_us)
            else s
          case "purchase" =>
            if (e.ts_us >= s.viewQual) s.copy(purchQual = math.min(s.purchQual, e.ts_us))
            else if (e.ts_us < s.purchQual && !s.purchPend.contains(e.ts_us))
              s.copy(purchPend = s.purchPend :+ e.ts_us)
            else s
          case _ => s
        }
    } { (uid, s) =>
      if (s.minSignup == None_) None
      else Some(F3Out(uid, s.minSignup,
        if (s.viewQual != None_) Some(s.viewQual) else None,
        if (s.purchQual != None_) Some(s.purchQual) else None))
    }

  /** The batch-gated run: shares events_funnel3's oracle. */
  def streamedFunnel3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = graft.sources.Tables.events(spark, dir)
      .filter($"event_type".isin("signup", "view", "purchase") && $"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("ts_us"),
        $"event_type".as("typ"))
    val out = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(log, $"ts_us"),
        log.select($"user_id").distinct())) { stream =>
      funnel3Stream(stream.as[Ev]).toDF()
    }
    val dupUsers = out.groupBy($"user_id").count().filter($"count" =!= 1L).count()
    if (dupUsers > 0)
      throw new IllegalStateException(
        s"streamed funnel3: $dupUsers users emitted != 1 row " +
          "(cross-batch funnel state lost or replayed)")
    out.select($"user_id",
      timestamp_micros($"signup_us").as("signup_ts"),
      timestamp_micros($"view_us").as("view_ts"),
      timestamp_micros($"purchase_us").as("purchase_ts"),
      when($"purchase_us".isNotNull, 3L)
        .when($"view_us".isNotNull, 2L)
        .otherwise(1L).as("reached_step"),
      ($"purchase_us" - $"signup_us").as("total_delay_us"))
  }
}
