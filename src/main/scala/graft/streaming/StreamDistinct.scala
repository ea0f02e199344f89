package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** STREAMING distinct-count sketching (`stream_distinct`) — the
  * cardinality question every ingest dashboard asks ("distinct users
  * per event type so far") answered ONLINE with bounded state: exact
  * streaming distinct needs the whole id set per key (unbounded),
  * so per-type state is a k-min-values sketch — the k smallest
  * DISTINCT user-id hashes, O(k) longs per type however long the
  * stream runs. The k-min set of a SET is fold-order-independent,
  * so arrival order, micro-batch boundaries, and shuffle
  * nondeterminism cannot change the flushed sketch, and the
  * estimate ((k−1)·P / kth-min, the [[graft.plans.Sketch]] KMV
  * estimator of q_sketch_distinct) is DETERMINISTIC — the DuckDB
  * oracle replays it exactly, no tolerance band. Sketches straddling
  * the staged median-time cut must fold batch-2 hashes into batch-1
  * sketch state; a sentinel barrier flushes once per type
  * (exactly-once emission asserted in-operator).
  */
object StreamDistinct {

  val K = 64

  case class Ev(event_type: String, h: Long, sentinel: Boolean)
  case class SketchOut(event_type: String, hs: Seq[Long])

  /** Insert into a sorted distinct k-min buffer. */
  private[graft] def insert(hs: Seq[Long], h: Long, k: Int): Seq[Long] = {
    val idx = hs.search(h)(Ordering.Long)
    idx match {
      case scala.collection.Searching.Found(_) => hs
      case scala.collection.Searching.InsertionPoint(i) =>
        if (hs.length < k) hs.patch(i, Seq(h), 0)
        else if (i < k) hs.patch(i, Seq(h), 0).take(k)
        else hs
    }
  }

  /** The stateful core: per-type k-min-values fold, emitted once at
    * the sentinel. */
  def census(ev: Dataset[Ev]): Dataset[SketchOut] =
    Staged.atBarrier(ev)(_.event_type, _.sentinel)(Seq.empty[Long])((hs, e) => insert(hs, e.h, K)) {
      (tp, hs) => Some(SketchOut(tp, hs))
    }

  def streamedDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.HashFns
    // identified members only (the q_sketch_setops null contract)
    val ev = graft.sources.Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"event_type".isNotNull && $"ts".isNotNull)
      .select($"event_type",
        HashFns.polyHash($"user_id".cast("string")).as("h"),
        unix_micros($"ts").as("tsUs"))
    val sketches = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"event_type").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    val bad = sketches.groupBy($"event_type").count()
      .filter($"count" =!= 1L).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"streamed distinct: $bad types emitted != once " +
          "(cross-batch sketch state lost or replayed)")
    sketches.select($"event_type",
      size($"hs").cast(LongType).as("n_sketch"),
      when(size($"hs") < K, size($"hs").cast(DoubleType))
        .otherwise(lit((K - 1).toDouble) * lit(HashFns.P.toDouble) /
          element_at($"hs", K).cast(DoubleType))
        .as("est_distinct"))
  }
}
