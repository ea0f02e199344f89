package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.Skew
import graft.sources.{Sinks, Tables}

/** Infrastructure surface: sinks, skew utilities, watermarked
  * streaming (SURVEY §2.H). */
class InfraSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned sink prunes partitions on read") {
    val out = Files.createTempDirectory("graft_part").toString
    Sinks.writePartitioned(Tables.lineitem(spark, sf), out,
      partitionCols = Seq("l_returnflag"), sortCols = Seq("l_shipdate"))
    val back = spark.read.parquet(out)
    assert(back.count() == Tables.lineitem(spark, sf).count())
    val pruned = back.where($"l_returnflag" === "A")
    val planStr = pruned.queryExecution.executedPlan.toString
    // partition filter must reach the scan, not a post-filter
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("l_returnflag"))
    assert(pruned.count() ==
      Tables.lineitem(spark, sf).where($"l_returnflag" === "A").count())
  }

  test("frame sink roundtrips packed binary frames") {
    val out = Files.createTempDirectory("graft_frames").toString
    val samples = transform(sequence(lit(0L), lit(6L)),
      i => ($"event_id" * 7 + i * 13 + floor($"value").cast("long")) % 32768)
    val frames = Tables.events(spark, sf).select($"event_id",
      graft.plans.Frame.pack($"user_id", expr("unix_micros(ts) div 1000000"), samples).as("frame"))
    Sinks.writeFrames(frames, out)
    val back = Sinks.readFrames(spark, out)
      .withColumn("parsed", graft.plans.Frame.unpack($"frame"))
    assert(back.count() == 1000)
    assert(back.filter(octet_length($"frame") =!= 24).isEmpty)
    assert(back.select($"parsed.device").distinct().count() ==
      Tables.events(spark, sf).select($"user_id").distinct().count())
  }

  test("salted join equals plain join") {
    val fact = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_suppkey", $"l_quantity")
    val dim = Tables.supplier(spark, sf).select($"s_suppkey".as("l_suppkey"), $"s_name")
    val plain = fact.join(dim, "l_suppkey").count()
    val salted = Skew.saltedJoin(fact, dim, "l_suppkey", buckets = 8).count()
    assert(salted == plain)
  }

  test("streaming frame ingest parses and throttles to 1 Hz per device") {
    val out = Files.createTempDirectory("graft_ingest").toString
    val samples = transform(sequence(lit(0L), lit(6L)),
      i => ($"event_id" * 7 + i * 13 + floor($"value").cast("long")) % 32768)
    val frames = Tables.events(spark, sf).select($"event_id",
      graft.plans.Frame.pack($"user_id", expr("unix_micros(ts) div 1000000"), samples).as("frame"))
    Sinks.writeFrames(frames, out)
    val ingested = graft.streaming.StreamRelay.frameIngest(spark, out)
    // one row per (device, second), matching the batch downsampler's key space
    assert(ingested.groupBy($"device", $"ts_secs").count().filter($"count" > 1).isEmpty)
    val batchKeys = graft.operators.Telemetry.downsample1Hz(spark, sf)
      .select($"user_id", unix_seconds($"sec")).distinct().count()
    assert(ingested.count() == batchKeys)
    // the sink lives until the calling thread's drain
    val sinks = ingested.inputFiles.map(f => java.nio.file.Paths.get(java.net.URI.create(f)).getParent)
      .distinct.toSeq
    assert(sinks.nonEmpty && sinks.forall(_.getFileName.toString.startsWith("graft_fingest_")),
      sinks.mkString(", "))
    graft.operators.Dedup.releaseTransientBlocks()
    assert(sinks.forall(!Files.exists(_)), sinks.mkString(", "))
  }

  test("event-time state timeout closes inactive sessions across batches") {
    import graft.streaming.StreamRelay
    val dir = Files.createTempDirectory("graft_sessions").toString
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"value".as("kb"))
    // batch 1: all but the last day; batch 2: the last day (advances
    // the watermark so day-22 inactivity timeouts fire)
    val cut = ev.agg(max($"ts_us")).head().getLong(0) - 24L * 3600 * 1000000
    ev.filter($"ts_us" <= cut).coalesce(1).write.parquet(s"$dir/a_first")
    ev.filter($"ts_us" > cut).coalesce(1).write.parquet(s"$dir/b_second")
    val schema = spark.read.parquet(s"$dir/a_first").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .withColumn("ts", timestamp_micros($"ts_us"))
      .withWatermark("ts", "1 hour")
      .select($"user_id", $"ts_us", $"kb", $"ts").as[StreamRelay.TimedEvent]
    val closed = StreamRelay.sessionClose(stream, inactivityMs = 22L * 3600 * 1000)
    val q = closed.writeStream.outputMode("append").format("memory")
      .queryName("closed_out").start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.table("closed_out").collect()
    assert(rows.nonEmpty)   // some users are inactive in the final day
    val perUser = rows.groupBy(_.getAs[Long]("user_id"))
    assert(perUser.values.forall(_.length == 1))   // one close per user
  }

  test("append relay resumes from its checkpoint with exactly-once windows") {
    import graft.streaming.StreamRelay
    val tmp = Files.createTempDirectory("graft_resume_")
    val inDir = tmp.resolve("in"); val outDir = tmp.resolve("out"); val ck = tmp.resolve("ck")
    Files.createDirectories(inDir)
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      inDir.resolve("batch0.parquet"))
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    // first incarnation: process the events, then die (stop)
    val q1 = StreamRelay.startAppendRelay(spark, schema,
      inDir.toString, outDir.toString, ck.toString)
    try q1.processAllAvailable() finally q1.stop()
    // second incarnation on the same checkpoint: only the barrier
    // batch remains; resumed state must flush every pending window
    // exactly once
    StreamRelay.barrierRow(spark, schema).coalesce(1)
      .write.mode("append").parquet(inDir.toString)
    val q2 = StreamRelay.startAppendRelay(spark, schema,
      inDir.toString, outDir.toString, ck.toString)
    try q2.processAllAvailable() finally q2.stop()
    val out = spark.read.parquet(outDir.toString)
      .filter($"event_type" =!= StreamRelay.BarrierType)
    // exactly-once across the restart: no window duplicated, totals
    // equal the batch aggregation
    assert(out.groupBy($"window_start", $"event_type").count()
      .filter($"count" > 1).isEmpty, "restart must not re-emit windows")
    val total = out.agg(sum($"n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }

  test("bucketed tables join with zero exchanges") {
    // the co-located join SURVEY §6 promises: both sides bucketed on
    // the join key => the sort-merge join needs no shuffle at all.
    // Drop both the catalog entry AND the on-disk location: the
    // warehouse dir outlives the in-memory metastore across JVM runs.
    Seq("orders_bkt", "customer_bkt").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      val loc = java.nio.file.Paths.get(wh, t)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally walk.close()
      }
    }
    Tables.orders(spark, sf).write.bucketBy(8, "o_custkey")
      .sortBy("o_custkey").mode("overwrite").saveAsTable("orders_bkt")
    Tables.customer(spark, sf).write.bucketBy(8, "c_custkey")
      .sortBy("c_custkey").mode("overwrite").saveAsTable("customer_bkt")
    val j = spark.table("orders_bkt").hint("merge")
      .join(spark.table("customer_bkt"), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment").count()
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join must not shuffle its inputs:\n$plan")
  }

  test("watermarked stream-stream interval join matches the batch join") {
    val dir = Files.createTempDirectory("graft_ssjoin").toString
    val ev = Tables.events(spark, sf)
    ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("s_ts"))
      .coalesce(1).write.parquet(s"$dir/signups")
    ev.filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"ts".as("p_ts"))
      .coalesce(1).write.parquet(s"$dir/purchases")
    def stream(sub: String) = spark.readStream
      .schema(spark.read.parquet(s"$dir/$sub").schema).parquet(s"$dir/$sub")
    val cond = "user_id = p_user AND p_ts >= s_ts AND p_ts <= s_ts + INTERVAL 1 DAY"
    val joined = stream("signups").withWatermark("s_ts", "1 hour")
      .join(stream("purchases").withWatermark("p_ts", "1 hour"), expr(cond))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin_out").count()
    val batch = spark.read.parquet(s"$dir/signups")
      .join(spark.read.parquet(s"$dir/purchases"), expr(cond)).count()
    assert(streamed == batch,
      s"inner stream-stream join must emit every match: $streamed vs $batch")
    assert(streamed > 0)
  }

  test("stateful streaming gate matches the batch relayGate operator") {
    import graft.streaming.StreamRelay
    val dir = Files.createTempDirectory("graft_gate").toString
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id", $"event_type")
    val cut = ev.agg(max($"ts_us")).head().getLong(0) - 24L * 3600 * 1000000
    ev.filter($"ts_us" <= cut).coalesce(1).write.parquet(s"$dir/a_first")
    ev.filter($"ts_us" > cut).coalesce(1).write.parquet(s"$dir/b_second")
    val schema = spark.read.parquet(s"$dir/a_first").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
      .as[StreamRelay.GateEvent]
    val gated = StreamRelay.statefulGate(stream)
    val q = gated.writeStream.outputMode("append").format("memory")
      .queryName("gate_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("gate_out").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("forwarded")).toMap
    val batch = graft.operators.Telemetry.relayGate(spark, sf).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Boolean]("forwarded")).toMap
    assert(streamed.keySet == batch.keySet)
    assert(streamed == batch,
      "per-event gate state must match across streaming batches and the batch plan")
    assert(batch.values.exists(identity) && batch.values.exists(!_))
  }

  test("watermarked append-mode windowed aggregation emits closed windows") {
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val stream = Tables.normalizeEventTs(spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sf))
    val agg = stream
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("wm_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("wm_out")
    // append mode withholds windows the watermark hasn't closed; all
    // but the final event-time hour must have been emitted
    val emitted = got.agg(sum($"n")).head().get(0)
    assert(emitted != null && emitted.asInstanceOf[Long] > 0)
    assert(got.groupBy($"window", $"event_type").count().filter($"count" > 1).isEmpty)
  }
}
