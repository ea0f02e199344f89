package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.gapfill]] — the
  * minute-grid carry-forward resampler run CAUSALLY: the batch shape
  * unions a synthetic 60-slot grid into the event stream and fills
  * through a window; the twin never materializes the grid — per-user
  * state is (open hour, next unfinalized slot, carried cents, running
  * slot census), O(1) however long the stream. An arrival at offset o
  * finalizes every slot whose end precedes o with the carried value
  * (NULL-valued events do not reset the carry — the batch fill is
  * IGNORE NULLS; same-µs duplicates keep the max event_id, the batch
  * dedup rank); an arrival in a LATER hour (or the per-user sentinel)
  * closes the open hour — remaining slots take the carry — and emits
  * its (n_slots, n_filled, sum_filled) row, final exactly when the
  * hour can no longer change. Hours with no events emit nothing (the
  * batch grid only covers ACTIVE hours); the carry resets per hour
  * (the batch fill window is partitioned by hour); an hour whose
  * every slot stayed empty reports a NULL sum like the batch SUM
  * over no rows. Cents keep the per-slot DECIMAL sum exact — a slot
  * counts its carried value as dec(value) each, so sum_filled is
  * Σ cents / 100. Shares ts_gapfill's oracle.
  *
  * Gated property: an hour straddling the micro-batch cut must carry
  * (carry value, slot cursor, partial census) across batches.
  */
object StreamGapfill {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      cents: Option[Long])
  case class St(hr: Long, nextSlot: Int, carry: Option[Long],
      nFilled: Long, sumCents: Long)
  case class Out(user_id: Option[Long], hour_us: Long, n_slots: Long,
      n_filled: Long, sum_cents: Long)

  private[graft] val hourUs = 3600000000L
  private val minUs = 60000000L

  /** The stateful core: fold arrivals into the open hour's slot
    * cursor (None: no open hour); sentinel (event_id = −1) closes the
    * open hour. Same-µs groups look ahead, so a key's micro-batch
    * folds as a whole. */
  def fill(ev: Dataset[Ev]): Dataset[Out] =
    Staged.perBatch(ev)(_.user_id)(Option.empty[St]) { (uid, open, it) =>
      var st = open.orNull
      val out = scala.collection.mutable.ArrayBuffer.empty[Out]
      def advance(boundUs: Long): Unit = {
        var m = st.nextSlot
        while (m < 60 && st.hr + (m + 1) * minUs - 1L < boundUs) {
          st.carry.foreach { c =>
            st = st.copy(nFilled = st.nFilled + 1L,
              sumCents = Math.addExact(st.sumCents, c))
          }
          m += 1
          st = st.copy(nextSlot = m)
        }
      }
      def closeHour(): Unit = {
        advance(Long.MaxValue)
        out += Out(uid, st.hr, 60L, st.nFilled, st.sumCents)
        st = null
      }
      val all = it.toSeq.sortBy(e => (e.tsUs, e.event_id))
      var i = 0
      while (i < all.length) {
        val e = all(i)
        if (e.event_id == -1L) {
          if (st != null) closeHour()
        } else if (!(i + 1 < all.length && all(i + 1).tsUs == e.tsUs &&
            all(i + 1).event_id != -1L)) {
          // same-µs groups keep only the max event_id (the batch
          // dedup rank) — it sorts last, so earlier ones skip
          val hr = e.tsUs - e.tsUs % hourUs
          if (st != null && hr != st.hr) closeHour()
          if (st == null) st = St(hr, 0, None, 0L, 0L)
          advance(e.tsUs)
          // IGNORE NULLS carry: a null value never resets it
          e.cents.foreach(c => st = st.copy(carry = Some(c)))
        }
        i += 1
      }
      (Option(st), out.iterator)
    }

  def streamedGapfill(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        (graft.operators.dec($"value") * 100).cast("long").as("cents"))
    val rows = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct()
          .select($"user_id", lit(Staged.FarFutureUs).as("tsUs"), lit(-1L).as("event_id")))) {
      stream => fill(stream.as[Ev]).toDF()
    }
    rows.select($"user_id", timestamp_micros($"hour_us").as("hour_ts"),
      $"n_slots", $"n_filled",
      when($"n_filled" > 0L,
        ($"sum_cents".cast("decimal(38,0)") / 100).cast("decimal(38,2)")
          .cast("double")).as("sum_filled"))
  }
}
