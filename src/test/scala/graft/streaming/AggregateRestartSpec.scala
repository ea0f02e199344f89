package graft.streaming

import java.time.Instant
import java.time.temporal.ChronoUnit

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.scalatest.concurrent.Eventually

import graft.operators.Telemetry
import graft.sources.{Scratch, Tables}

/** A staged twin's stream, stopped after its first batch and restarted
  * from the same checkpoint and sink, reads only its second batch (the
  * source's offsets come back from the checkpoint serialized) and ends
  * with the output of an uninterrupted run: for a complete-mode
  * aggregation ([[Staged.aggregate]]), one of them over a
  * `TypedImperativeAggregate` buffer, and for an append-mode keyed fold
  * ([[Staged.run]]). */
class AggregateRestartSpec extends graft.SparkSpec with Eventually {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** `core` streamed over `batches.take(1)`, then restarted on the same
    * checkpoint and sink over both batches: the rows of `assembly`
    * over the sink after each run, and (start offset, end offset,
    * input rows) of every trigger of the restarted run that read an
    * offset. */
  private def restarted(batches: Seq[DataFrame], complete: Boolean,
      assembly: DataFrame => DataFrame = identity)(core: DataFrame => DataFrame)
      : (Seq[String], Seq[String], Seq[(String, String, Long)]) = {
    val dir = Scratch.tempDir("graft_restart_")
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long)]()
    def run(bs: Seq[DataFrame]) = rows(assembly(Staged.stream(spark, bs, s"$dir/ckpt", s"$dir/out",
      noDataBatches = false, complete)(core)))
    try {
      val first = run(batches.take(1))
      val start = Instant.now().truncatedTo(ChronoUnit.MILLIS)
      // the cloned session's query manager is not this session's, so
      // listen on the shared context's bus
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case p: QueryProgressEvent if !Instant.parse(p.progress.timestamp).isBefore(start) =>
            p.progress.sources.filter(s => s.startOffset != s.endOffset)
              .foreach(s => reads.add((s.startOffset, s.endOffset, s.numInputRows)))
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val second = run(batches)
        eventually(timeout(30.seconds)) { assert(!reads.isEmpty) }
        (first, second, reads.asScala.toSeq)
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally Scratch.deleteTree(dir)
  }

  test("stream_queue_stats restarted between its two staged batches equals an uninterrupted run and the batch") {
    val ev = Tables.events(spark, sf)
      .select(col("event_type"), col("ts"), col("value"), col("props"))
    val batches @ Seq(b1, b2) = Staged.timeCut(ev, unix_micros(col("ts")))
    val (first, second, reads) = restarted(batches, complete = true)(Telemetry.queueCensus)
    // the table after batch 1 is the batch fold of the first slice
    assert(first == rows(Telemetry.queueCensus(b1)))
    // the restart reads batch 2 only: batch 1 comes from the state
    assert(reads == Seq(("0", "1", b2.count())))
    assert(second.nonEmpty)
    assert(second == rows(Staged.aggregate(spark, batches)(Telemetry.queueCensus)))
    assert(second == rows(Telemetry.queueStats(spark, sf)))
  }

  test("stream_ratecap's topKPairs census restarted between its two staged batches equals an uninterrupted run and the batch") {
    // the state is a serialized TypedImperativeAggregate buffer
    // (TopKPairs), which the restart must read back from the checkpoint
    val ev = Tables.events(spark, sf).select(col("user_id"), col("ts"), col("event_id"))
    val batches @ Seq(b1, b2) = Staged.timeCut(ev, unix_micros(col("ts")))
    val census = Telemetry.rateCapCensus(_: DataFrame, 5)
    val (first, second, reads) =
      restarted(batches, complete = true, Telemetry.rateCapAssembly)(census)
    assert(first == rows(Telemetry.rateCapAssembly(census(b1))))
    assert(reads == Seq(("0", "1", b2.count())))
    assert(second.size > first.size)
    assert(second == rows(Telemetry.rateCapAssembly(Staged.aggregate(spark, batches)(census))))
    assert(second == rows(Telemetry.rateCap(spark, sf)))
  }

  test("stream_downsample's gate restarted between its two staged batches equals an uninterrupted run") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("tsUs"), $"event_id", $"value")
    val batches @ Seq(b1, b2) = Staged.timeCut(ev, $"tsUs")
    val gate = (s: DataFrame) => StreamDownsample.gate(s.as[StreamDownsample.Ev]).toDF()
    val (first, second, reads) = restarted(batches, complete = false)(gate)
    assert(first.nonEmpty && first == rows(Staged.run(spark, Seq(b1))(gate)))
    assert(reads == Seq(("0", "1", b2.count())))
    assert(second.size > first.size)
    assert(second == rows(Staged.run(spark, batches)(gate)))
  }
}
