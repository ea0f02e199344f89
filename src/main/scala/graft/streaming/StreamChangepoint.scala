package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Telemetry.changepoints]] — the
  * mean-shift detector run CAUSALLY: per stream the state is a ring
  * of the last 2k readings (O(k), never the stream), and a row's
  * jump (leading-k mean − trailing-k mean) becomes decidable — and
  * emits, exactly once — the moment its (k−1)-th successor lands.
  * Edge rows with incomplete frames never emit, which IS the batch
  * `n_pre = k AND n_post = k` filter, so no sentinel tail pass is
  * needed: the jump log is append-final by construction. The
  * per-series adaptive threshold (mean |jump|, decimal-summed) is a
  * population statistic over the JUMP rows, so it runs sink-side via
  * the batch operator's own assembly
  * ([[graft.operators.Telemetry.changepointAssembly]]) — a window
  * over candidate rows, never the raw stream.
  *
  * Exactness: ring sums fold in exact cents; each mean is ONE
  * decimal→double conversion and ONE IEEE division (the batch
  * `sum(dec).cast(double) / count` tree); NULL readings occupy ring
  * slots but skip their sum, the window's null semantics.
  *
  * Gated property: a pre/post frame that STRADDLES the micro-batch
  * cut must assemble from cross-batch ring state — lose the ring and
  * every straddling row's jump shifts or vanishes.
  */
object StreamChangepoint {

  case class Ev(event_type: Option[String], tsUs: Long, event_id: Long,
    cents: Option[Long])
  case class Slot(tsUs: Long, event_id: Long, cents: Option[Long])
  case class Jump(event_type: Option[String], event_id: Long, tsUs: Long,
    pre_mean: Option[Double], post_mean: Option[Double],
    jump: Option[Double])

  private def mean(xs: Seq[Slot], k: Int): Option[Double] = {
    val vs = xs.flatMap(_.cents)
    if (vs.isEmpty) None
    // the batch sum(dec).cast(double) / count(rows) tree: the exact
    // cent sum is < 2^53 (exact in double), /100.0 is ONE correctly-
    // rounded op — the same double the decimal→double cast yields —
    // then ONE IEEE division by the k-row count
    else Some(vs.sum.toDouble / 100.0 / k.toDouble)
  }

  /** The stateful core: 2k-slot ring per stream; the row k-from-the-
    * tail emits its jump when its leading frame completes. */
  def jumps(ev: Dataset[Ev], k: Int = 8): Dataset[Jump] =
    Staged.onArrival(ev)(_.event_type, e => (e.tsUs, e.event_id))(Seq.empty[Slot]) {
      (ring0, e) =>
        val ring = (ring0 :+ Slot(e.tsUs, e.event_id, e.cents)).takeRight(2 * k)
        // the row k from the tail: pre = slots [0, k), post = slots
        // [k, 2k) — post INCLUDES the row itself (the batch
        // rowsBetween(currentRow, k-1) frame)
        (ring, if (ring.length < 2 * k) None else {
          val cur = ring(k)
          val pre = mean(ring.slice(0, k), k)
          val post = mean(ring.slice(k, 2 * k), k)
          Some(Jump(e.event_type, cur.event_id, cur.tsUs, pre, post,
            for (a <- post; b <- pre) yield a - b))
        })
    }

  def streamedChangepoints(spark: SparkSession, dir: String,
      k: Int = 8, mult: Double = 3.0): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_type", unix_micros($"ts").as("tsUs"), $"event_id",
        when($"value".isNotNull,
          (expr("CAST(value AS DECIMAL(18,2))") * 100).cast("long"))
          .as("cents"))
    val log = Staged.run(spark, Staged.timeCut(ev, $"tsUs")) { stream =>
      jumps(stream.as[Ev], k).toDF()
    }
    graft.operators.Telemetry.changepointAssembly(
      log.select($"event_type", $"event_id",
        timestamp_micros($"tsUs").as("ts"),
        $"pre_mean", $"post_mean", $"jump"), mult)
  }
}
