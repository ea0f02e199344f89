package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Relational.qQuantilesHist]] —
  * the mergeable histogram-sketch quantiles run as a LIVE dashboard
  * feed: per group the state is the fixed-width bucket census
  * (bounded by the VALUE AXIS — occupied buckets, never rows), and
  * bucket counters fold order-free, which is precisely the property
  * that makes the histogram THE streaming quantile sketch (state
  * merge = vector addition, the same thing partial aggregation does
  * batch-side). Groups flush at the snapshot barrier because a
  * quantile is a population rank — no bucket is final before the
  * census closes. The cumulative walk + rank estimate run over the
  * flushed census via the batch operator's own
  * [[graft.operators.Relational.quantilesHistAssembly]].
  * Shares q_quantiles_hist's oracle.
  *
  * Gated property: a (group, bucket) cell whose rows split across
  * the order-key cut must accumulate into one counter.
  */
object StreamQuantilesHist {

  case class Li(flag: Option[String], bucket: Option[Long], sentinel: Boolean)
  case class Cell(bucket: Option[Long], c: Long)
  case class Out(l_returnflag: Option[String], bucket: Option[Long], c: Long)

  /** The stateful core: bucket→count folds per group; the sentinel
    * flushes the census. */
  def census(rows: Dataset[Li]): Dataset[Out] =
    Staged.atBarrier(rows)(_.flag, _.sentinel)(List.empty[Cell]) { (cells, r) =>
      val i = cells.indexWhere(_.bucket == r.bucket)
      if (i < 0) Cell(r.bucket, 1L) :: cells
      else cells.updated(i, cells(i).copy(c = cells(i).c + 1L))
    } { (flag, cells) => cells.map(c => Out(flag, c.bucket, c.c)) }

  def streamedQuantilesHist(spark: SparkSession, dir: String,
      width: Double = 500.0d): DataFrame = {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("flag"),
        floor($"l_extendedprice" / lit(width)).cast("long").as("bucket"),
        $"l_orderkey")
    val flushed = Staged.run(spark, Staged.withBarrier[Li](Staged.timeCut(li, $"l_orderkey"),
        li.select($"flag").distinct())) { stream =>
      census(stream.as[Li]).toDF()
    }
    graft.operators.Relational.quantilesHistAssembly(
      flushed.select($"l_returnflag", $"bucket", $"c"), width)
  }
}
