package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
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
  case class SketchState(hs: Seq[Long])
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
  def census(ev: Dataset[Ev]): Dataset[SketchOut] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.event_type)
      .flatMapGroupsWithState[SketchState, SketchOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (tp, it, state: GroupState[SketchState]) =>
          var hs = state.getOption.map(_.hs).getOrElse(Vector.empty[Long])
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else hs = insert(hs, e.h, K)
          }
          state.update(SketchState(hs))
          if (flush) Iterator.single(SketchOut(tp, hs))
          else Iterator.empty
      }
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
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val staged = ev.select($"event_type", $"h", lit(false).as("sentinel"), $"tsUs")
    val sentinels = ev.select($"event_type").distinct()
      .select($"event_type", lit(0L).as("h"), lit(true).as("sentinel"))
    val sketches = StreamDedup.runStagedStream(spark,
        Seq(staged.filter($"tsUs" <= cut).drop("tsUs"),
          staged.filter($"tsUs" > cut).drop("tsUs"),
          sentinels)) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
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
