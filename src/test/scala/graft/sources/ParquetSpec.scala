package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkEntry

/** Table reads take the schema Spark's own inference picks from the
  * parquet footer, read on the driver, so building a query starts no
  * Spark job unless its key table entry names the reason it does. */
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

  test("building a batch key at sf0.001 starts a job only if its entry says why") {
    val keys = SparkEntry.table.filterNot(_.twin)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.stageInfos.sortBy(_.stageId).lastOption.fold("?")(_.name))
    }
    def build(k: SparkEntry.Key): Seq[String] = {
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.clear()
      k.run(spark, sf)
      ListenerBusDrain.drain(spark.sparkContext)
      jobs.asScala.toSeq
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val wrong = keys.flatMap { k =>
        val started = build(k)
        // nothing a build derives outlives its call: a second build on
        // the same directory starts the same jobs as the first
        val again = if (k.eager.nonEmpty) build(k) else started
        graft.operators.Dedup.clearLabelCache()
        if (k.eager.isEmpty && started.nonEmpty)
          Some(s"${k.name} started ${started.size} jobs (${started.distinct.mkString(", ")}) and gives no reason")
        else if (k.eager.nonEmpty && started.isEmpty)
          Some(s"${k.name} started no job but gives: ${k.eager.get}")
        else if (again.size != started.size)
          Some(s"${k.name} started ${started.size} jobs, then ${again.size} on the same directory")
        else None
      }
      keys.flatMap(_.eager).groupBy(identity).toSeq.sortBy(-_._2.size).foreach { case (r, ks) =>
        info(s"${ks.size} keys: $r")
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
