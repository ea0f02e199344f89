package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Telemetry
import graft.sources.{Scratch, Tables}

/** A twin's complete-mode aggregation, stopped after its first staged
  * batch and restarted from the same checkpoint, ends with the table
  * of an uninterrupted [[Staged.aggregate]] run and of the batch
  * operator. */
class AggregateRestartSpec extends graft.SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("stream_queue_stats restarted between its two staged batches equals an uninterrupted run and the batch") {
    val dir = Scratch.tempDir("graft_restart_")
    try {
      val ev = Tables.events(spark, sf)
        .select(col("event_type"), col("ts"), col("value"), col("props"))
      val Seq(b1, b2) = Staged.timeCut(ev, unix_micros(col("ts")))
      val (src, ckpt) = (s"$dir/src", s"$dir/ckpt")
      /** `batch` appended to the source dir, then the query started
        * from `ckpt` and run until it has read every file. */
      def stage(batch: DataFrame): Seq[Long] = {
        batch.coalesce(1).write.mode("append").parquet(src)
        val q = Telemetry.queueCensus(spark.readStream.schema(ev.schema).parquet(src))
          .writeStream.outputMode("complete").format("memory").queryName("restart_out")
          .option("checkpointLocation", ckpt).start()
        try q.processAllAvailable() finally q.stop()
        q.recentProgress.toSeq.map(_.numInputRows)
      }
      stage(b1)
      // the state after batch 1 is the batch fold of the first slice
      assert(rows(spark.table("restart_out")) == rows(Telemetry.queueCensus(b1)))
      // the restart reads batch 2 only: batch 1 comes from the state
      assert(stage(b2).sum == b2.count())
      val restarted = rows(spark.table("restart_out"))
      assert(restarted.nonEmpty)
      assert(restarted == rows(Staged.aggregate(spark, Seq(b1, b2))(Telemetry.queueCensus)))
      assert(restarted == rows(Telemetry.queueStats(spark, sf)))
    } finally Scratch.deleteTree(dir)
  }
}
