package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Streaming twin of [[graft.operators.Quality.quarantine]] — the
  * admission-control counters run ONLINE, the way ingestion gates
  * actually work: every expectation evaluates scan-local BEFORE the
  * stateful shuffle (the flags are 0/1/NULL longs computed by the
  * batch operator's own three-valued expressions, so NULL-condition
  * rows keep SUM's skip-null semantics), counters accumulate per
  * SHARD — the global aggregate distributes over a fixed shard key
  * so no single state-store key sees the whole stream — and flush
  * once at a sentinel barrier. Per-shard sums stay Option (a shard
  * that never saw a non-NULL flag emits NULL) so the batch-side
  * shard rollup reproduces SUM-over-all-rows exactly; the shared
  * `events_quarantine` oracle gates the 5-row output. Rows crossing
  * the micro-batch cut must fold into batch-1 shard state.
  */
object StreamQuarantine {

  private val NShards = 8

  case class Flags(shard: Long, f1: Option[Long], f2: Option[Long],
    f3: Option[Long], f4: Option[Long], fa: Option[Long], sentinel: Boolean)
  case class ShardOut(shard: Long, v1: Option[Long], v2: Option[Long],
    v3: Option[Long], v4: Option[Long], va: Option[Long], n: Long)
  case class ShardState(v1: Option[Long], v2: Option[Long],
    v3: Option[Long], v4: Option[Long], va: Option[Long], n: Long)

  private def add(a: Option[Long], b: Option[Long]): Option[Long] = (a, b) match {
    case (Some(x), Some(y)) => Some(Math.addExact(x, y))
    case (Some(x), None)    => Some(x)
    case (None, Some(y))    => Some(y)
    case (None, None)       => None
  }

  /** The stateful core: per-shard expectation counters, emitted once
    * at the sentinel. */
  def census(ev: Dataset[Flags]): Dataset[ShardOut] =
    Staged.atBarrier(ev)(_.shard, _.sentinel)(ShardState(None, None, None, None, None, 0L)) {
      (s, e) => ShardState(add(s.v1, e.f1), add(s.v2, e.f2),
        add(s.v3, e.f3), add(s.v4, e.f4), add(s.va, e.fa), s.n + 1L)
    } { (shard, s) => Some(ShardOut(shard, s.v1, s.v2, s.v3, s.v4, s.va, s.n)) }

  def streamedQuarantine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev0 = graft.sources.Tables.events(spark, dir)
    val c1 = $"value" < 1.0d
    val c2 = !$"event_type".isin("signup", "click", "view", "purchase", "error")
    val c3 = $"user_id" < 0L
    val c4 = $"ts" < to_timestamp(lit("2024-01-01")) ||
      $"ts" >= to_timestamp(lit("2024-02-01"))
    // NULL-ts rows must still stream (the batch COUNT(*) counts
    // them): they ride in batch 1
    val ev = ev0.select(
      coalesce(pmod($"event_id", lit(NShards.toLong)), lit(0L)).as("shard"),
      c1.cast(LongType).as("f1"), c2.cast(LongType).as("f2"),
      c3.cast(LongType).as("f3"), c4.cast(LongType).as("f4"),
      (c1 || c2 || c3 || c4).cast(LongType).as("fa"),
      unix_micros($"ts").as("tsUs"))
    val shards = Staged.run(spark, Staged.withBarrier[Flags](Staged.timeCut(ev, $"tsUs"),
        spark.range(NShards.toLong).select($"id".as("shard")))) { stream =>
      census(stream.as[Flags]).toDF()
    }
    val nShardRows = shards.groupBy($"shard").count()
      .filter($"count" =!= 1L).count()
    if (nShardRows > 0)
      throw new IllegalStateException(
        s"streamed quarantine: $nShardRows shards emitted != once " +
          "(cross-batch counter state lost or replayed)")
    // shard rollup (sum skips all-NULL shards exactly like the batch
    // SUM skips NULL flags), then the batch operator's 5-row explode
    val agg1 = shards.agg(
      sum($"v1").as("v1"), sum($"v2").as("v2"), sum($"v3").as("v3"),
      sum($"v4").as("v4"), sum($"va").as("va"), sum($"n").as("n"))
    val rows = Seq("low_value" -> "v1", "unknown_type" -> "v2",
      "invalid_user" -> "v3", "out_of_window" -> "v4", "any" -> "va")
      .map { case (name, c) =>
        struct(lit(name).as("constraint_name"),
          col(c).as("n_violations"), $"n".as("n_rows"))
      }
    agg1.select(explode(array(rows: _*)).as("p")).select($"p.*")
  }
}
