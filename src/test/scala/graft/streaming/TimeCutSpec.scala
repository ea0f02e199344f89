package graft.streaming

import scala.sys.process._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.{Scratch, Tables}

/** [[Staged.timeCut]] takes its bounds from parquet footer statistics
  * when they can tell them, and they are exactly the bounds its min/max
  * job computes; where they cannot, the job runs. */
class TimeCutSpec extends graft.SparkSpec {

  private def jobBounds(ev: DataFrame, key: Column): Option[(Long, Long)] = {
    val b = ev.agg(min(key), max(key)).head()
    Option.when(!b.isNullAt(0))((b.getLong(0), b.getLong(1)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** `events` written as the events table of a fresh corpus dir. */
  private def eventsCorpus(dir: java.nio.file.Path, name: String)(events: DataFrame => DataFrame)
      : String = {
    val out = dir.resolve(name).toString
    events(spark.read.parquet(s"$sf/events.parquet")).write.parquet(s"$out/events.parquet")
    out
  }

  test("footer bounds equal the min/max job's on every corpus, an all-NULL-ts file and an empty file") {
    val dir = Scratch.tempDir("graft_tcut_")
    try {
      val made = Seq(
        "adv" -> Seq("tools/make_adversarial.py"),
        "adv_ns" -> Seq("tools/make_adversarial.py", "--ns-jitter"),
        "adv_docs" -> Seq("tools/make_adversarial.py", "--docs"),
        "nonascii" -> Seq("tools/make_nonascii.py")).map { case (name, tool) =>
        val out = dir.resolve(name).toString
        assert((Seq("python3", tool.head, sf, out) ++ tool.tail).! == 0, s"$tool failed")
        out
      }
      val nullTs = eventsCorpus(dir, "null_ts")(df =>
        df.withColumn("ts", lit(null).cast(df.schema("ts").dataType)))
      val empty = eventsCorpus(dir, "empty")(_.limit(0))
      val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
      val corpora = Seq(sf, sf01) ++ made ++ Seq(nullTs, empty)
      val seen = corpora.map { c =>
        val ev = Tables.events(spark, c)
        val us = ev.select(unix_micros(col("ts")).as("tsUs"), col("event_id"))
        Seq(ev -> unix_micros(col("ts")), us -> col("tsUs"), ev -> col("event_id"),
            ev -> col("ts").cast("long")).map { case (df, key) =>
          val want = jobBounds(df, key)
          assert(graft.sources.Parquet.keyBounds(df, key) == Some(want), s"$c: $key")
          want
        }.head
      }
      assert(seen.takeRight(2) == Seq(None, None))
      assert(seen.dropRight(2).forall(_.nonEmpty))
      // an all-NULL key still stages one batch
      assert(Staged.timeCut(Tables.events(spark, nullTs), unix_micros(col("ts"))).size == 1)
    } finally Scratch.deleteTree(dir)
  }

  test("the job runs for a filtered read, an xxhash64 key and a file without statistics") {
    val dir = Scratch.tempDir("graft_tcut_")
    try {
      val ev = Tables.events(spark, sf)
      val key = unix_micros(col("ts"))
      assert(graft.sources.Parquet.keyBounds(ev, key).nonEmpty)
      assert(graft.sources.Parquet.keyBounds(ev.filter(col("user_id").isNotNull), key).isEmpty)
      // StreamCompleteness's cut key is not monotone in any one column
      assert(graft.sources.Parquet.keyBounds(ev, xxhash64(col("event_id"), col("ts"))).isEmpty)
      spark.read.parquet(s"$sf/events.parquet").write
        .option("parquet.column.statistics.enabled", "false")
        .parquet(dir.resolve("events.parquet").toString)
      val noStats = Tables.events(spark, dir.toString)
      assert(graft.sources.Parquet.keyBounds(noStats, key).isEmpty)
      // the job's cut there is the footer cut of the same rows
      assert(Staged.timeCut(noStats, key).map(rows) == Staged.timeCut(ev, key).map(rows))
    } finally Scratch.deleteTree(dir)
  }
}
