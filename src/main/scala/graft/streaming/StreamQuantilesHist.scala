package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  case class St(cells: Seq[Cell])
  case class Out(l_returnflag: Option[String], bucket: Option[Long], c: Long)

  /** The stateful core: bucket→count folds per group; the sentinel
    * flushes the census. */
  def census(rows: Dataset[Li]): Dataset[Out] = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupByKey(_.flag)
      .flatMapGroupsWithState[St, Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (flag, it, state: GroupState[St]) =>
          var cells = state.getOption.map(_.cells.toList).getOrElse(Nil)
          var flush = false
          it.foreach { r =>
            if (r.sentinel) flush = true
            else {
              val i = cells.indexWhere(_.bucket == r.bucket)
              cells =
                if (i < 0) Cell(r.bucket, 1L) :: cells
                else cells.updated(i, cells(i).copy(c = cells(i).c + 1L))
            }
          }
          state.update(St(cells))
          if (flush) cells.iterator.map(c => Out(flag, c.bucket, c.c))
          else Iterator.empty
      }
  }

  def streamedQuantilesHist(spark: SparkSession, dir: String,
      width: Double = 500.0d): DataFrame = {
    import spark.implicits._
    val li = graft.sources.Tables.lineitem(spark, dir)
      .select($"l_returnflag".as("flag"),
        floor($"l_extendedprice" / lit(width)).cast("long").as("bucket"),
        $"l_orderkey")
    val bounds = li.agg(min($"l_orderkey"), max($"l_orderkey")).head()
    if (bounds.isNullAt(0)) return spark.emptyDataFrame
    val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
    val sentinels = li.select($"flag").distinct()
      .select($"flag", lit(null).cast("long").as("bucket"),
        lit(true).as("sentinel"))
    val flushed = StreamDedup.runStagedStream(spark, Seq(
        li.filter($"l_orderkey" <= cut)
          .select($"flag", $"bucket", lit(false).as("sentinel")),
        li.filter($"l_orderkey" > cut)
          .select($"flag", $"bucket", lit(false).as("sentinel"))
          .unionByName(sentinels))) { stream =>
      census(stream.as[Li]).toDF()
    }.getOrElse(return spark.emptyDataFrame)
    graft.operators.Relational.quantilesHistAssembly(
      flushed.select($"l_returnflag", $"bucket", $"c"), width)
  }
}
