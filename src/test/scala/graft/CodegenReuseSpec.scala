package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Encoders}

/** A repeat call compiles no generated class: the codegen cache holds
  * the working set, and every session's tasks, the staged streams'
  * cloned sessions included, compile under one executor class loader
  * (see [[GraftSession.builder]]). */
class CodegenReuseSpec extends SparkSpec {

  /** The telemetry_olap keys of the benchmark (perfbench/README.md). */
  private val telemetryKeys = Seq("frame_roundtrip", "frame_stats", "downsample_1hz",
    "beacon_5min", "session_windows", "data_budget", "chunk_messages", "queue_stats",
    "relay_gate", "q1_agg", "q5_multijoin")

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def noopCall(key: String): Unit =
    try SparkEntry.queries(key)(spark, sf).write.format("noop").mode("overwrite").save()
    finally graft.operators.Dedup.releaseTransientBlocks()

  test("a repeated staged stream compiles no class") {
    compiles(noopCall("stream_downsample"))
    val again = compiles(noopCall("stream_downsample"))
    assert(again == 0L, s"second stream_downsample call compiled $again classes")
  }

  test("a second pass over the telemetry keys compiles no class") {
    compiles(telemetryKeys.foreach(noopCall))
    val again = telemetryKeys.map(k => k -> compiles(noopCall(k))).filter(_._2 > 0L)
    assert(again.isEmpty, s"second pass compiled classes: $again")
  }

  test("a staged stream's sessions share the executor class loader") {
    val key = "spark.sql.artifact.isolation.enabled"
    // the session Staged.run clones, which the twin's result reads from
    val staged = SparkEntry.queries("stream_downsample")(spark, sf).sparkSession
    assert(staged ne spark)
    assert(staged.conf.get(key) == "false")
    // the session StreamExecution clones from it for each micro-batch
    def taskLoader(df: DataFrame): Int = df.sparkSession.range(1)
      .map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))(Encoders.scalaInt)
      .head()
    @volatile var seen: Option[(String, Int)] = None
    val dir = graft.sources.Scratch.tempDir("graft_codegen_reuse_")
    try {
      val q = staged.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.option("checkpointLocation", dir.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (seen.isEmpty) seen = Some((batch.sparkSession.conf.get(key), taskLoader(batch)))
        }.start()
      try while (seen.isEmpty && q.isActive) q.awaitTermination(100L)
      finally q.stop()
    } finally graft.sources.Scratch.deleteTree(dir)
    val (streamIsolation, streamLoader) = seen.getOrElse(fail("no micro-batch ran"))
    assert(streamIsolation == "false")
    assert(streamLoader == taskLoader(spark.range(1).toDF()))
  }
}
