package graft

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** A fresh scratch directory, deleted at JVM exit also when the test
    * fails (a lazy frame the test returns may still read it). */
  def scratchDir(prefix: String): String = {
    val dir = graft.sources.Scratch.tempDir(prefix)
    graft.sources.Scratch.deleteOnExit(dir)
    dir.toString
  }

  /** `core` run in complete mode over a memory stream into a memory
    * sink: `first` is added and processed, then `second`; returns the
    * sink's table after the second trigger. */
  def twoTriggers[T: Encoder](first: Seq[T], second: Seq[T])
      (core: DataFrame => DataFrame): DataFrame = {
    implicit val ctx = spark.sqlContext
    val mem = MemoryStream[T]
    val name = s"two_triggers_${SparkSpec.queries.incrementAndGet()}"
    val q = core(mem.toDF()).writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    try {
      mem.addData(first)
      q.processAllAvailable()
      mem.addData(second)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }
}

object SparkSpec {
  private val queries = new java.util.concurrent.atomic.AtomicLong()

  lazy val session: SparkSession = {
    val s = GraftSession.builder(master = "local[4]", shufflePartitions = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
