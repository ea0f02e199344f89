package graft.streaming

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.scalatest.concurrent.Eventually

import graft.operators.Telemetry
import graft.sources.Parquet

/** The staged gate's stateful shuffle width follows the staged input:
  * `ceil(rows of the largest staged batch / R)`, clamped to
  * [1, defaultParallelism], with the rows bounded from the batch plans
  * and the parquet footers they scan, or counted where no bound is
  * known. */
class StreamWidthSpec extends graft.SparkSpec with Eventually {
  import Staged.{RowsPerStatePartition => R, stateWidth}

  test("width rule: 0 rows, exactly R, R + 1 and above the cap") {
    assert(stateWidth(0L, 4) == 1)
    assert(stateWidth(1L, 4) == 1)
    assert(stateWidth(R, 4) == 1)
    assert(stateWidth(R + 1, 4) == 2)
    assert(stateWidth(3 * R, 4) == 3)
    assert(stateWidth(100 * R, 4) == 4)
    assert(stateWidth(100 * R, 1) == 1)
  }

  test("row bound: at least the true rows of each plan shape it accepts, None through a Generate or a Join") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf)
    def bound(df: DataFrame) = PlanSource.rowBound(spark, ColumnBridge.optimized(df))
    Seq(ev, ev.select(col("user_id")), ev.filter(col("value") > 50.0), ev.limit(7),
        ev.sample(0.5, 7L), ev.groupBy(col("user_id")).count(), ev.limit(0).agg(count(lit(1))),
        ev.union(ev.filter(col("user_id") === 1L)), ev.limit(0), spark.range(5).toDF(),
        Seq(1, 2, 3).toDF("x"), spark.range(1).select(lit(1).as("one")))
      .foreach { df =>
        val (b, n) = (bound(df), df.count())
        assert(b.exists(_ >= n), s"bound $b < $n rows of ${ColumnBridge.optimized(df)}")
      }
    assert(bound(ev) == Some(ev.count()))
    assert(bound(ev.select(explode(array(col("user_id"), col("user_id"))))).isEmpty)
    assert(bound(ev.join(ev.select(col("event_id")), "event_id")).isEmpty)
  }

  test("footer rows and schema match what Spark reads") {
    val dir = graft.sources.Scratch.tempDir("graft_twidth_footer_")
    try {
      val out = dir.resolve("t").toString
      spark.range(1500).repartition(3)
        .select(col("id"), col("id").cast("string").as("s"),
          array(col("id")).as("a"), struct(col("id").as("x")).as("st"),
          lit(1).as("one"))
        .write.parquet(out)
      assert(Parquet.rows(spark, java.nio.file.Paths.get(out)) == 1500L)
      assert(Parquet.read(spark, out).schema == spark.read.parquet(out).schema)
      // a file from another writer: rows from its footer too
      assert(Parquet.rows(spark, java.nio.file.Paths.get(s"$sf/events.parquet")) ==
        graft.sources.Tables.events(spark, sf).count())
    } finally graft.sources.Scratch.deleteTree(dir)
  }

  /** `body`'s result, and the numShufflePartitions of every stateful
    * operator in the progress events of the streaming queries it
    * starts. The twins run in a cloned session, whose query manager a
    * session-level listener does not see, so this listens on the
    * shared context's bus. */
  private def withStateWidths[A](body: => A): (A, Seq[Long]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val start = Instant.now().truncatedTo(ChronoUnit.MILLIS)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if !Instant.parse(p.progress.timestamp).isBefore(start) =>
          p.progress.stateOperators.foreach(o => seen.add(o.numShufflePartitions))
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      eventually(timeout(30.seconds)) { assert(!seen.isEmpty) }
      (out, seen.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** A synthetic events table of `n` rows spread over ~28 days, in
    * the five event types and the `{"k": ..}` props the twins read. */
  private def syntheticEvents(n: Long): java.nio.file.Path = {
    val dir = graft.sources.Scratch.tempDir("graft_twidth_")
    val types = array(Seq("click", "view", "signup", "error", "purchase").map(lit): _*)
    spark.range(n).select(
        col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 12000000L +
          pmod(hash(col("id")), lit(1000000))).as("ts"),
        pmod(hash(col("id"), lit(7)), lit(150)).cast("long").as("user_id"),
        element_at(types, (pmod(hash(col("id"), lit(3)), lit(5)) + 1).cast("int")).as("event_type"),
        (pmod(hash(col("id"), lit(11)), lit(100000)) / 100.0d).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(13)), lit(100)).cast("string"), lit("}"))
          .as("props"))
      .write.parquet(dir.resolve("events.parquet").toString)
    dir
  }

  private def downsampleRows(df: DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
      Option(r.getAs[java.sql.Timestamp]("sec")).map(_.getTime),
      r.getAs[Double]("value"))).sortBy(_._1).toSeq

  private def queueRows(df: DataFrame) = df.collect()
    .map(r => (Option(r.getAs[String]("event_type")), r.getAs[Long]("n_msgs"),
      Option(r.getAs[java.lang.Double]("bytes_total")).map(_.doubleValue),
      r.getAs[Long]("n_lost"), r.getAs[Double]("bytes_lost"),
      Option(r.getAs[java.sql.Timestamp]("last_sent")).map(_.getTime),
      Option(r.getAs[java.sql.Timestamp]("last_lost")).map(_.getTime)))
    .sortBy(_.toString).toSeq

  test("width > 1 on a large staged batch: downsample and queue stats still equal their batch twins") {
    val dir = syntheticEvents(200000L)
    try {
      val d = dir.toString
      val (down, downWidths) =
        withStateWidths(downsampleRows(StreamDownsample.streamedDownsample(spark, d)))
      assert(downWidths.forall(_ > 1), s"stream_downsample widths $downWidths")
      assert(down.nonEmpty && down == downsampleRows(Telemetry.downsample1Hz(spark, d)))

      val (queue, queueWidths) =
        withStateWidths(queueRows(StreamQueueStats.streamedQueueStats(spark, d)))
      assert(queueWidths.forall(_ > 1), s"stream_queue_stats widths $queueWidths")
      assert(queue.nonEmpty && queue == queueRows(Telemetry.queueStats(spark, d)))
    } finally graft.sources.Scratch.deleteTree(dir)
  }

  test("width 1 at sf0.001") {
    val (down, widths) =
      withStateWidths(downsampleRows(StreamDownsample.streamedDownsample(spark, sf)))
    assert(widths.forall(_ == 1L), s"widths $widths")
    assert(down == downsampleRows(Telemetry.downsample1Hz(spark, sf)))
  }
}
