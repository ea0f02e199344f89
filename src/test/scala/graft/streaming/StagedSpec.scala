package graft.streaming

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually

import graft.SparkEntry

/** Degenerate corpora behave the same way in every streaming twin:
  * [[Staged.timeCut]] stages an empty or all-NULL-time corpus as one
  * batch, so a twin neither bails out with a column-less frame nor
  * drops the rows its batch twin keeps. A staged stream re-runs its
  * batch plans, so it refuses a nondeterministic one, and it starts
  * no job beyond its triggers where the footers can tell the cut and
  * the width. */
class StagedSpec extends graft.SparkSpec with Eventually {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The keys graft.Verify dumps as streaming twins. */
  private val streamKeys = SparkEntry.table.filter(_.twin).map(_.name).sorted

  /** A copy of the sf0.001 tables, each passed through `f`. */
  private def corpus(prefix: String)(f: (String, DataFrame) => DataFrame): String = {
    val dir = graft.sources.Scratch.tempDir(prefix)
    graft.sources.Scratch.deleteOnExit(dir)
    tables.foreach { t =>
      f(t, spark.read.parquet(s"$sf/$t.parquet")).write.parquet(s"$dir/$t.parquet")
    }
    dir.toString
  }

  private def fields(df: DataFrame) = df.schema.fields.map(f => f.name -> f.dataType).toSeq

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("empty corpus: every streaming twin returns its sf0.001 columns and its batch twin's rows") {
    assert(streamKeys.size == 64)
    val empty = corpus("graft_staged_empty_")((_, df) => df.limit(0))
    val bad = streamKeys.flatMap { k =>
      try {
        val q = SparkEntry.queries(k)
        val got = q(spark, empty)
        val want = q(spark, sf)
        // a twin that shares a batch key's oracle returns what that key
        // returns on the same corpus (a global aggregate keeps its rows)
        val wantRows = SparkEntry.byName(k).batchTwin.fold(0L)(b => SparkEntry.queries(b)(spark, empty).count())
        val n = got.count()
        Seq(
          Option.when(fields(got) != fields(want))(s"$k columns ${fields(got)} != ${fields(want)}"),
          Option.when(n != wantRows)(s"$k returned $n rows, want $wantRows")).flatten
      } catch { case e: Exception => Seq(s"$k threw ${e.getMessage.take(300)}") }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("all-NULL ts: the twins that stage NULL-time rows match their batch twins") {
    val nullTs = corpus("graft_staged_nullts_") { (t, df) =>
      if (t == "events") df.withColumn("ts", lit(null).cast(df.schema("ts").dataType)) else df
    }
    // the keyed folds that stage NULL-time rows, and every twin run as
    // a complete-mode aggregation (Staged.aggregate) that shares a
    // batch key's oracle
    val aggregated = Seq("dedup_url_stream", "stream_abtest", "stream_ann_ingest",
      "stream_anomaly", "stream_benford", "stream_cdc", "stream_chunks", "stream_completeness",
      "stream_forecast", "stream_frame_stats", "stream_funnel", "stream_funnel3",
      "stream_heatmap", "stream_ltv", "stream_mv_refresh", "stream_orphans", "stream_power",
      "stream_quantiles_hist", "stream_quarantine", "stream_queue_stats", "stream_ratecap",
      "stream_retention", "stream_rfm", "stream_seasonal", "stream_topterms", "stream_trend",
      "stream_uptime", "stream_volume")
    (Seq("stream_basket", "stream_diversity", "stream_downsample", "stream_keyskew")
        ++ aggregated).foreach { k =>
      val b = SparkEntry.byName(k).batchTwin
      assert(b.nonEmpty, s"$k shares no batch oracle entry")
      val want = SparkEntry.queries(b.get)(spark, nullTs)
      val got = SparkEntry.queries(k)(spark, nullTs)
      assert(got.columns.sorted.toSeq == want.columns.sorted.toSeq, s"$k columns")
      assert(rows(got) == rows(want), s"$k rows differ from ${b.get}")
    }
  }

  test("a drained thread deletes the sink directory of the twin it consumed") {
    val df = SparkEntry.queries("stream_downsample")(spark, sf)
    val sinks = df.inputFiles.map(f => java.nio.file.Paths.get(java.net.URI.create(f)).getParent)
      .distinct.toSeq
    assert(sinks.nonEmpty && sinks.forall(_.getFileName.toString.startsWith("graft_sdsink_")),
      sinks.mkString(", "))
    assert(df.count() > 0)
    assert(sinks.forall(java.nio.file.Files.isDirectory(_)))
    graft.operators.Dedup.releaseTransientBlocks()
    assert(sinks.forall(!java.nio.file.Files.exists(_)), sinks.mkString(", "))
  }

  test("a nondeterministic batch plan fails loudly, naming its index") {
    val ok = spark.range(10).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Staged.run(spark, Seq(ok, spark.range(10).select((rand() * 10).cast("long").as("x"))))(identity)
    }
    assert(e.getMessage.contains("staged batch 1 is not deterministic"), e.getMessage)
  }

  /** The Spark jobs `body` starts, on any thread: the job ids between
    * two marker jobs of this thread (ids are handed out in order). */
  private def jobsOf(body: => Unit): Int = {
    val marks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "staged-spec-mark"))
          marks.add(e.jobId)
    }
    def mark(): Unit = {
      spark.sparkContext.setJobDescription("staged-spec-mark")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      mark()
      body
      mark()
      eventually(timeout(30.seconds)) { assert(marks.size == 2) }
      val Seq(a, b) = marks.asScala.toSeq.sorted
      b - a - 1
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the three benchmark twins start a pinned number of jobs at sf0.001") {
    // one job per trigger (two batches each); stream_chunks' batches
    // come through a Generate, so it also counts its batches' rows. A
    // staging write or a min/max cut job would add to each count.
    val want = Map("stream_queue_stats" -> 2, "stream_downsample" -> 2, "stream_chunks" -> 3)
    val got = want.keys.map(k => k -> jobsOf(SparkEntry.queries(k)(spark, sf))).toMap
    assert(got == want)
  }

  test("the seven twins on their batch keys' aggregates start a pinned number of jobs at sf0.001") {
    // one job per trigger (two batches each), plus the min/max cut
    // where the footers cannot tell it (a filtered or unioned corpus),
    // which adaptive execution runs as two jobs. A barrier-keys
    // distinct() or an "emitted exactly once" guard job would add to
    // each count.
    val want = Map("stream_ratecap" -> 2, "stream_distinct" -> 4, "stream_cdc" -> 2,
      "dedup_url_stream" -> 2, "stream_mv_refresh" -> 4, "stream_funnel" -> 4,
      "stream_funnel3" -> 4)
    val got = want.keys.map(k => k -> jobsOf(SparkEntry.queries(k)(spark, sf))).toMap
    assert(got == want)
  }
}
