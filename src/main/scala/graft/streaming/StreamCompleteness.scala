package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  def census(ev: Dataset[Flags]): Dataset[Out] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.shard)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (shard, it, state: GroupState[St]) =>
          var s = state.getOption.getOrElse(St(0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
          var flush = false
          it.foreach { e =>
            if (e.sentinel) flush = true
            else s = St(s.n + 1L, s.nTs + e.nTs, s.nUid + e.nUid,
              s.nTyp + e.nTyp, s.bTyp + e.bTyp, s.nVal + e.nVal,
              s.nPr + e.nPr, s.bPr + e.bPr)
          }
          state.update(s)
          if (flush) Iterator.single(Out(shard, s.n, s.nTs, s.nUid,
            s.nTyp, s.bTyp, s.nVal, s.nPr, s.bPr))
          else Iterator.empty
      }
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
        lit(false).as("sentinel"), xxhash64($"event_id", $"ts").as("ord"))
    val bounds = ev.agg(min($"ord"), max($"ord")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = spark.range(NShards.toLong)
      .select($"id".as("shard"), lit(0L).as("nTs"), lit(0L).as("nUid"),
        lit(0L).as("nTyp"), lit(0L).as("bTyp"), lit(0L).as("nVal"),
        lit(0L).as("nPr"), lit(0L).as("bPr"), lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"ord" <= cut).drop("ord"),
        ev.filter($"ord" > cut).drop("ord")
          .unionByName(sentinels))) { stream =>
      census(stream.as[Flags]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
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
