package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
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
  * The fold is order-free and mergeable, so it is an [[Aggregator]]
  * ([[Election]]) run by a streaming aggregation per user; the funnel
  * row comes from the final state, since reached_step can upgrade
  * retroactively. Shares events_funnel3's oracle, so a batch-2
  * EARLIER signup must promote batch-1 pending views AND re-qualify
  * batch-1 pending purchases through the moved view_ts for the hash
  * to match. A user whose every signup has a NULL ts keeps a
  * step-1 row, as the batch `min(ts)` does.
  *
  * Scale posture: the stream filters to the three funnel types before
  * the stateful shuffle; state shards on user_id (the batch groupBy
  * key); everything else is O(distinct pend values) per user.
  */
object StreamFunnel3 {

  case class Ev(ts_us: Option[Long], typ: String)
  /** `signed`: some signup arrived, even one with a NULL ts. */
  case class F3State(signed: Boolean, minSignup: Long,
    viewQual: Long, viewPend: Seq[Long],
    purchQual: Long, purchPend: Seq[Long])
  case class F3Out(signed: Boolean, signup_us: Option[Long],
    view_us: Option[Long], purchase_us: Option[Long])

  private val None_ = Long.MaxValue

  private def opt(t: Long): Option[Long] = Option.when(t != None_)(t)

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

  /** The per-user chained election. `merge` folds b's summary into a:
    * its min signup as a signup, its qualifying min and pending
    * entries as views and as purchases — every view (purchase) b
    * dropped is at or above its qualifying min, which stays the
    * better candidate. */
  object Election extends Aggregator[Ev, F3State, F3Out] {
    def zero: F3State = F3State(signed = false, None_, None_, Nil, None_, Nil)

    def reduce(s: F3State, e: Ev): F3State = e.typ match {
      case "signup" => e.ts_us.fold(s.copy(signed = true))(signup(s, _))
      case "view" => e.ts_us.fold(s)(view(s, _))
      case "purchase" => e.ts_us.fold(s)(purchase(s, _))
      case _ => s
    }

    private def signup(s: F3State, t: Long): F3State =
      if (t >= s.minSignup) s.copy(signed = true)
      else {
        val (vq, vp) = promote(s.viewQual, s.viewPend, t)
        val s2 = s.copy(signed = true, minSignup = t, viewQual = vq, viewPend = vp)
        if (vq < s.viewQual) requalifyPurchases(s2) else s2
      }

    private def view(s: F3State, t: Long): F3State =
      if (t >= s.minSignup) {
        if (t < s.viewQual) requalifyPurchases(s.copy(viewQual = t)) else s
      } else if (t < s.viewQual && !s.viewPend.contains(t)) s.copy(viewPend = s.viewPend :+ t)
      else s

    private def purchase(s: F3State, t: Long): F3State =
      if (t >= s.viewQual) s.copy(purchQual = math.min(s.purchQual, t))
      else if (t < s.purchQual && !s.purchPend.contains(t)) s.copy(purchPend = s.purchPend :+ t)
      else s

    def merge(a: F3State, b: F3State): F3State = {
      val signed = if (b.signed) signup(a, b.minSignup) else a
      val viewed = (b.viewQual +: b.viewPend).filter(_ != None_).foldLeft(signed)(view)
      (b.purchQual +: b.purchPend).filter(_ != None_).foldLeft(viewed)(purchase)
    }

    def finish(s: F3State): F3Out =
      F3Out(s.signed, opt(s.minSignup), opt(s.viewQual), opt(s.purchQual))
    def bufferEncoder: Encoder[F3State] = Encoders.product[F3State]
    def outputEncoder: Encoder[F3Out] = Encoders.product[F3Out]
  }

  /** The stateful core over (user_id, ts_us, typ): the [[Election]]
    * `f` per user. A NULL user never equi-joins in the batch shape,
    * so only its signups count (s1 groups nulls; the s2/s3 joins drop
    * them). */
  def funnel3Stream(ev: DataFrame): DataFrame =
    ev.filter(col("user_id").isNotNull || col("typ") === "signup")
      .groupBy(col("user_id"))
      .agg(udaf(Election, Encoders.product[Ev])(col("ts_us"), col("typ")).as("f"))

  /** The batch-gated run: shares events_funnel3's oracle. */
  def streamedFunnel3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = graft.sources.Tables.events(spark, dir)
      .filter($"event_type".isin("signup", "view", "purchase"))
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_type".as("typ"))
    Staged.aggregate(spark, Staged.timeCut(log, $"ts_us"))(funnel3Stream)
      .filter($"f.signed")
      .select($"user_id",
        timestamp_micros($"f.signup_us").as("signup_ts"),
        timestamp_micros($"f.view_us").as("view_ts"),
        timestamp_micros($"f.purchase_us").as("purchase_ts"),
        when($"f.purchase_us".isNotNull, 3L)
          .when($"f.view_us".isNotNull, 2L)
          .otherwise(1L).as("reached_step"),
        ($"f.purchase_us" - $"f.signup_us").as("total_delay_us"))
  }
}
