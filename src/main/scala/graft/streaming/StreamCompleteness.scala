package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.completeness]] — the
  * per-column null/blank audit run ONLINE at the ingest edge: every
  * flag evaluates scan-local BEFORE the stateful shuffle (0/1 longs
  * from the batch operator's own expressions), counters accumulate
  * per SHARD — the global aggregate distributes over a fixed shard
  * key so no single state-store key absorbs the firehose (the
  * StreamQuarantine posture) — and flush once at the audit barrier.
  * The shard rollup plus the batch unpivot
  * ([[graft.operators.Quality.completenessAssembly]]) run over
  * #shards rows. State is ten longs per shard, O(1) forever.
  * Shares dq_completeness' oracle.
  *
  * Gated property: rows split across the micro-batch cut accumulate
  * into the same shard counters.
  */
object StreamCompleteness {

  private val NShards = 8

  case class Flags(shard: Long, nTs: Long, nUid: Long, nTyp: Long,
    bTyp: Long, nVal: Long, nPr: Long, bPr: Long, sentinel: Boolean)
  case class St(n: Long, nTs: Long, nUid: Long, nTyp: Long,
    bTyp: Long, nVal: Long, nPr: Long, bPr: Long)
  case class Out(shard: Long, n: Long, nTs: Long, nUid: Long, nTyp: Long,
    bTyp: Long, nVal: Long, nPr: Long, bPr: Long)

  /** The stateful core: ten counters per shard, flushed at the
    * sentinel. */
  def census(ev: Dataset[Flags]): Dataset[Out] =
    Staged.atBarrier(ev)(_.shard, _.sentinel)(St(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)) { (s, e) =>
      St(s.n + 1L, s.nTs + e.nTs, s.nUid + e.nUid,
        s.nTyp + e.nTyp, s.bTyp + e.bTyp, s.nVal + e.nVal,
        s.nPr + e.nPr, s.bPr + e.bPr)
    } { (shard, s) =>
      Some(Out(shard, s.n, s.nTs, s.nUid, s.nTyp, s.bTyp, s.nVal, s.nPr, s.bPr))
    }

  def streamedCompleteness(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def f(c: org.apache.spark.sql.Column) = when(c.isNull, 1L).otherwise(0L)
    def b(c: org.apache.spark.sql.Column) =
      when(c.isNotNull && trim(c) === "", 1L).otherwise(0L)
    val ev = graft.sources.Tables.events(spark, dir)
      .select(pmod(xxhash64($"event_id"), lit(NShards.toLong)).as("shard"),
        f($"ts").as("nTs"), f($"user_id").as("nUid"),
        f($"event_type").as("nTyp"), b($"event_type").as("bTyp"),
        f($"value").as("nVal"), f($"props").as("nPr"), b($"props").as("bPr"),
        xxhash64($"event_id", $"ts").as("ord"))
    val flushed = Staged.run(spark, Staged.withBarrier[Flags](Staged.timeCut(ev, $"ord"),
        spark.range(NShards.toLong).select($"id".as("shard")))) { stream =>
      census(stream.as[Flags]).toDF()
    }
    // shard rollup to the single 11-counter row, then the batch
    // unpivot — #shards rows in, 5 rows out
    graft.operators.Quality.completenessAssembly(flushed.agg(
        sum($"n").as("n_rows"),
        sum($"nTs").as("null_ts"),
        sum($"nUid").as("null_user_id"),
        sum($"nTyp").as("null_event_type"), sum($"bTyp").as("blank_event_type"),
        sum($"nVal").as("null_value"),
        sum($"nPr").as("null_props"), sum($"bPr").as("blank_props"))
      .withColumn("blank_ts", lit(0L))
      .withColumn("blank_user_id", lit(0L))
      .withColumn("blank_value", lit(0L)))
  }
}
