package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkEntry

/** Table reads take the schema Spark's own inference picks from the
  * parquet footer, read on the driver, so building a query starts no
  * Spark job. */
class ParquetSpec extends graft.SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def sameSchemas(dir: String): Unit = tables.foreach { t =>
    assert(Tables.load(spark, dir, t).schema == spark.read.parquet(s"$dir/$t.parquet").schema,
      s"$t in $dir")
  }

  test("Tables.load schema equals the inferred schema at sf0.001") {
    sameSchemas(sf)
  }

  test("Tables.load schema equals the inferred schema on the adversarial corpora") {
    Seq(Nil, Seq("--ns-jitter"), Seq("--docs")).foreach { flags =>
      val dir = Scratch.tempDir("graft_parquet_adv_")
      try {
        val cmd = Seq("python3", "tools/make_adversarial.py", sf, dir.toString) ++ flags
        assert(new ProcessBuilder(cmd: _*).inheritIO().start().waitFor() == 0, cmd.mkString(" "))
        sameSchemas(dir.toString)
      } finally Scratch.deleteTree(dir)
    }
  }

  test("Tables.load schema equals the inferred schema on a zero-row Spark-written copy") {
    val dir = Scratch.tempDir("graft_parquet_empty_")
    try {
      tables.foreach(t =>
        spark.read.parquet(s"$sf/$t.parquet").limit(0).write.parquet(s"$dir/$t.parquet"))
      sameSchemas(dir.toString)
    } finally Scratch.deleteTree(dir)
  }

  test("building each telemetry_olap key at sf0.001 starts no job before its action") {
    val keys = Seq("frame_roundtrip", "frame_stats", "downsample_1hz", "beacon_5min",
      "session_windows", "data_budget", "chunk_messages", "queue_stats", "relay_gate",
      "q1_agg", "q5_multijoin")
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val eager = keys.map { k =>
        ListenerBusDrain.drain(spark.sparkContext)
        val before = jobs.get()
        SparkEntry.queries(k)(spark, sf)
        ListenerBusDrain.drain(spark.sparkContext)
        k -> (jobs.get() - before)
      }
      assert(eager.forall(_._2 == 0), eager.filter(_._2 != 0).mkString(", "))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
