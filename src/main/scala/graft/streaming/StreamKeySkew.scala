package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.Quality.keySkew]] — the
  * join-key skew pre-flight fed LIVE: per key the state is one
  * counter (∝ distinct keys, the exact-census bound uniqueness and
  * dedup share), flushed at the audit barrier because the headline
  * numbers — share of table, skew factor, top-k rank — are
  * population statistics. The stats rollup and the bounded-heap
  * hot-key election are the batch operator's own assembly
  * ([[graft.operators.Quality.keySkewAssembly]]) over the flushed
  * (key, n) census. Shares dq_keyskew's oracle.
  *
  * Gated property: a key split across the micro-batch cut folds into
  * one census counter — a restart deflates the hot key's share and
  * can demote it out of the top-k.
  */
object StreamKeySkew {

  case class Ev(user_id: Option[Long], sentinel: Boolean)
  case class St(n: Long)
  case class Cell(user_id: Option[Long], n: Long)

  /** The stateful core: one counter per key; sentinel flushes the
    * census cell. */
  def census(ev: Dataset[Ev]): Dataset[Cell] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[St, Cell](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[St]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          var flush = false
          it.foreach { e => if (e.sentinel) flush = true else n += 1L }
          state.update(St(n))
          if (flush && n > 0L) Iterator.single(Cell(uid, n))
          else Iterator.empty
      }
  }

  def streamedKeySkew(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tsUs"))
    val bounds = ev.agg(min($"tsUs"), max($"tsUs")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = ev.select($"user_id").distinct()
      .select($"user_id", lit(true).as("sentinel"))
    // null-ts rows carry no order key; route them into batch 1 (the
    // batch census has no ts filter)
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        ev.filter($"tsUs" <= cut || $"tsUs".isNull)
          .select($"user_id", lit(false).as("sentinel")),
        ev.filter($"tsUs" > cut)
          .select($"user_id", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Ev]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Quality.keySkewAssembly(
      flushed.select($"user_id", $"n"))
  }
}
