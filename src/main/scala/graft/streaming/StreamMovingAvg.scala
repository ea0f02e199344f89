package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.movingAvg]] — the
  * 10-minute trailing average run as a live filter: per-user state
  * is the (µs, cents) buffer restricted to the trailing span — the
  * watermark-shaped bound (O(rate × span), pruned on every arrival
  * since event time folds monotonically per user). Each arrival
  * emits its window count and average at landing, final immediately:
  * the batch RANGE frame reaches only backward — except that rows at
  * the SAME microsecond all see each other regardless of event_id
  * order, so arrivals fold in same-timestamp GROUPS (the whole group
  * enters the buffer, then every group member emits over it). Cent
  * sums keep the DECIMAL average exact; a window whose every value
  * is NULL averages NULL like the batch SUM. No sentinel — nothing
  * pends. Shares ts_moving_avg's oracle.
  *
  * Gated property: a batch-2 arrival must average over batch-1
  * buffer entries still inside its span.
  */
object StreamMovingAvg {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long,
      cents: Option[Long], value: Option[Double])
  case class Entry(tUs: Long, cents: Option[Long])
  case class Out(event_id: Long, user_id: Option[Long], eus: Long,
      value: Option[Double], n_window: Long, sum_cents: Option[Long])

  /** The stateful core: the span-pruned buffer; a same-µs group
    * enters whole before any member emits, so a key's micro-batch
    * folds as a whole. */
  def smooth(ev: Dataset[Ev], spanUs: Long): Dataset[Out] =
    Staged.perBatch(ev)(_.user_id)(List.empty[Entry]) { (uid, buf0, it) =>
      var buf = buf0
      val out = scala.collection.mutable.ArrayBuffer.empty[Out]
      it.toSeq.sortBy(e => (e.tsUs, e.event_id))
        .groupBy(_.tsUs).toSeq.sortBy(_._1).foreach { case (t, group) =>
          buf = buf.filter(_.tUs >= t - spanUs)
          group.foreach(e => buf ::= Entry(e.tsUs, e.cents))
          val n = buf.length.toLong
          val nv = buf.count(_.cents.isDefined)
          val s = buf.iterator.flatMap(_.cents).sum
          group.foreach { e =>
            out += Out(e.event_id, uid, t, e.value, n,
              if (nv > 0) Some(s) else None)
          }
        }
      (buf, out.iterator)
    }

  def streamedMovingAvg(spark: SparkSession, dir: String,
      minutes: Int = 10): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        (graft.operators.dec($"value") * 100).cast("long").as("cents"),
        $"value")
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      smooth(stream.as[Ev], minutes.toLong * 60L * 1000000L).toDF()
    }
    log.select($"event_id", $"user_id", $"eus", $"value", $"n_window",
      (($"sum_cents".cast("decimal(38,0)") / 100).cast("decimal(38,2)")
        .cast("double") / $"n_window").as("avg_window"))
  }
}
