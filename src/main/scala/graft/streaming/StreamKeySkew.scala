package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

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
  case class Cell(user_id: Option[Long], n: Long)

  /** The stateful core: one counter per key; sentinel flushes the
    * census cell. */
  def census(ev: Dataset[Ev]): Dataset[Cell] =
    Staged.atBarrier(ev)(_.user_id, _.sentinel)(0L)((n, _) => n + 1L) { (uid, n) =>
      if (n > 0L) Some(Cell(uid, n)) else None
    }

  def streamedKeySkew(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"user_id", unix_micros($"ts").as("tsUs"))
    val flushed = Staged.run(spark, Staged.withBarrier[Ev](Staged.timeCut(ev, $"tsUs"),
        ev.select($"user_id").distinct())) { stream =>
      census(stream.as[Ev]).toDF()
    }
    graft.operators.Quality.keySkewAssembly(
      flushed.select($"user_id", $"n"))
  }
}
