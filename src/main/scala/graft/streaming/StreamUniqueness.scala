package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.uniqueness]] — the
  * candidate-key constraint monitor run ONLINE via RUNNING
  * MULTIPLICITY: state is one counter per (candidate, key value) —
  * the honest exact-uniqueness state, ∝ distinct keys, the
  * dedup_exact_stream bound — and every arrival emits its key's new
  * multiplicity m at landing. That emission is FINAL (a count only
  * grows), so the stream is append-safe with NO sentinel, and every
  * batch headline is a plain aggregate of the emission log:
  * n_rows = #emissions, n_keys = #(m=1), n_dup_keys = #(m=2) (a key
  * crosses 2 exactly once), n_surplus_rows = #(m≥2), and
  * max_multiplicity = max m. The violation FEED — "this row just
  * made key K a duplicate" — is exactly what a live constraint
  * monitor pages on; the batch twin only sees the totals.
  *
  * All three candidate keys ride ONE stateful pass: the group key is
  * (candidate, key tuple), so the state store holds the three
  * censuses side by side, sharded by the keys themselves.
  * Shares dq_uniqueness' oracle.
  *
  * Gated property: a key occurring on both sides of the cut must
  * CONTINUE its multiplicity sequence (m = 1 then 2), not restart —
  * a restart inflates n_keys and loses the duplicate.
  */
object StreamUniqueness {

  /** Composite group key: `cand` selects the candidate key (0 =
    * event_id, 1 = (user_id, ts), 2 = (user_id, event_type, ts));
    * unused fields stay None within a candidate, so identities never
    * collide across schemas. NULL key parts group as NULL = NULL,
    * the batch groupBy semantics. */
  case class Key(cand: Int, eid: Option[Long], uid: Option[Long],
    typ: Option[String], tsUs: Option[Long])
  case class Ev(cand: Int, eid: Option[Long], uid: Option[Long],
    typ: Option[String], tsUs: Option[Long])
  case class Mult(cand: Int, m: Long)

  /** The stateful core: per-(candidate, key) counter; every arrival
    * emits the key's new multiplicity (order-free). */
  def multiplicities(ev: Dataset[Ev]): Dataset[Mult] =
    Staged.onArrival(ev)(e => Key(e.cand, e.eid, e.uid, e.typ, e.tsUs), _ => 0)(0L) {
      (n, e) => (n + 1L, Some(Mult(e.cand, n + 1L)))
    }

  def streamedUniqueness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type",
        unix_micros($"ts").as("tsUs"))
    // one staged stream carries all three candidates: each source row
    // fans into its three key projections SCAN-LOCAL (the Expand
    // shape — no extra scan, no join)
    def fan(df: DataFrame): DataFrame = df.selectExpr(
      """inline(array(
        |  named_struct('cand', 0, 'eid', event_id, 'uid', CAST(NULL AS BIGINT),
        |               'typ', CAST(NULL AS STRING), 'tsUs', CAST(NULL AS BIGINT)),
        |  named_struct('cand', 1, 'eid', CAST(NULL AS BIGINT), 'uid', user_id,
        |               'typ', CAST(NULL AS STRING), 'tsUs', tsUs),
        |  named_struct('cand', 2, 'eid', CAST(NULL AS BIGINT), 'uid', user_id,
        |               'typ', event_type, 'tsUs', tsUs)))""".stripMargin)
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs").map(fan)) { stream =>
      multiplicities(stream.as[Ev]).toDF()
    }
    // localCheckpoint: three audits re-read the same emission log
    val cp = log.localCheckpoint()
    def audit(cand: Int, name: String): DataFrame = cp.filter($"cand" === cand)
      .agg(lit(name).as("key_cols"),
        count(lit(1)).as("n_rows"),
        coalesce(sum(when($"m" === 1L, 1L)), lit(0L)).as("n_keys"),
        coalesce(sum(when($"m" === 2L, 1L)), lit(0L)).as("n_dup_keys"),
        coalesce(sum(when($"m" >= 2L, 1L)), lit(0L)).as("n_surplus_rows"),
        max($"m").as("max_multiplicity"))
    audit(0, "event_id")
      .unionByName(audit(1, "user_id,ts"))
      .unionByName(audit(2, "user_id,event_type,ts"))
  }
}
