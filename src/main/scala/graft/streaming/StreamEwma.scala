package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.ewma]] — the
  * dyadic-weight trailing smoother run as a LIVE filter: per-user
  * state is the last `taps − 1` cent values in arrival order —
  * O(taps), the classic FIR filter delay line — and every arrival
  * emits its smoothed value at landing (newest tap heaviest,
  * weights halving back, integer num/den exactly as the batch
  * operator's lag() columns assemble them). This is the twin where
  * ORDER is the gated property: the batch shape is `taps` lag()
  * columns over one window sort, so the delay line must chain
  * values across the micro-batch cut in (event time, event_id)
  * order — a batch-2 arrival smooths over batch-1 tail values.
  * Emission is append-safe (each row final at arrival), no sentinel
  * needed. Shares ts_ewma's DuckDB oracle.
  */
object StreamEwma {

  case class Ev(user_id: Option[Long], tsUs: Long, event_id: Long, cents: Long)
  case class Out(event_id: Long, user_id: Option[Long], eus: Long,
      n_window: Long, ewma: Double)

  /** The stateful core: fold each arrival against the delay line
    * (newest first, at most taps−1 entries); weight 2^(taps−1−j) for
    * tap j (0 = the arrival itself). */
  def smooth(ev: Dataset[Ev], taps: Int = 8): Dataset[Out] = {
    require(taps >= 1 && taps <= 32, "dyadic weights need 1..32 taps")
    Staged.onArrival(ev)(_.user_id, e => (e.tsUs, e.event_id))(List.empty[Long]) { (line, e) =>
      var num = e.cents * (1L << (taps - 1))
      var den = 1L << (taps - 1)
      var n = 1L
      var j = 1
      var rest = line
      while (j < taps && rest.nonEmpty) {
        num += rest.head * (1L << (taps - 1 - j))
        den += 1L << (taps - 1 - j)
        n += 1L
        rest = rest.tail
        j += 1
      }
      ((e.cents :: line).take(taps - 1),
        Some(Out(e.event_id, e.user_id, e.tsUs, n, num.toDouble / den.toDouble / 100.0d)))
    }
  }

  def streamedEwma(spark: SparkSession, dir: String, taps: Int = 8): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id",
        round($"value" * 100).cast("long").as("cents"))
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      smooth(stream.as[Ev], taps).toDF()
    }
    log.select($"event_id", $"user_id", $"eus", $"n_window", $"ewma")
  }
}
