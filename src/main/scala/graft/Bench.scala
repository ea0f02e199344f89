package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line of per-query seconds.
  *
  * The session is built through [[GraftSession.builder]] so the
  * numbers of record measure the SHIPPED engine configuration (AQE +
  * coalescing + skew-join on, tuned broadcast threshold, UTC) — a
  * bare SparkSession benchmarks a differently-tuned engine than the
  * one SURVEY §H describes.
  *
  * Each query runs SPARK_GRAFT_BENCH_REPS times (default 3) and
  * reports the MEDIAN — single-shot timings on a shared box swing
  * ±20% and have produced phantom regressions; the median of 3 is
  * stable to a few percent. Cross-query state (the dedup label cache)
  * is cleared before every rep so each measurement is the full
  * operator cost, not a cache hit.
  */
object Bench {
  /** Timed reps per key; the reported number is their median. */
  val reps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt

  /** The timed action (guide §1.4, the r14 re-baseline): the noop sink
    * computes EVERY column of every row and discards it, where count()
    * lets the optimizer prune columns and sometimes whole subtrees. */
  def act(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One timed rep of `fn`: the label cache is cleared and the heap
    * collected outside the clock, then the noop action runs. A
    * crashing query must NOT show up as a normal-looking timing — it
    * returns None, so a bench with a broken query is visibly broken,
    * not quietly fast/slow. */
  def timeOnce(spark: SparkSession, sfDir: String, fn: (SparkSession, String) => DataFrame): Option[Double] = {
    graft.operators.Dedup.clearLabelCache()
    // measurement hygiene, outside the timed region: the streaming
    // twins leave memory-sink rows behind until GC, and that heap
    // pressure was billed to whichever queries ran next (r7:
    // text_boilerplate timed 5.2s in-bench vs 1.0s isolated)
    System.gc()
    val t0 = System.nanoTime()
    try { act(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case t: Throwable =>
        System.err.println(s"bench query failed: ${t.getClass.getName}: ${t.getMessage}")
        None
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    GraftSession.registerObservationLog(spark)
    spark.sparkContext.setLogLevel("WARN")
    // warm up codegen/IO paths once so the first timed query doesn't
    // absorb JVM startup; deterministic name order for stable rounds
    try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    catch { case _: Throwable => () }
    // optional positional args restrict the run to the named queries —
    // the single-operator iteration loop (run `Bench q1_agg dedup_exact`)
    val wanted = args.toSet
    val selected =
      if (wanted.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => wanted(k) }
    // The streaming twins' cost is ~80% fixed Structured-Streaming
    // lifecycle (per-trigger planning + state-store commits — latency,
    // not CPU), so Verify.StreamConcurrency of them run CONCURRENTLY
    // per rep (VERDICT r10 task 4; safe since the r10 thread-scoped
    // checkpoint drains — each twin runs in its own cloned session
    // with per-call scratch dirs and unique sink names). Accounting
    // stays honest: each twin's per-query number is its OWN wall time
    // under concurrency (a latency, possibly above its isolated median
    // — verify movers with `tools.Run time`), and the TOTAL charges
    // the streaming family its measured WAVE wall (what the gate
    // actually pays), not the sum of overlapped latencies.
    val conc = Verify.StreamConcurrency
    val (streamSel, batchSel) = selected.toSeq.sortBy(_._1)
      .partition { case (k, _) => SparkEntry.byName(k).twin }
    // Trustworthy head keys (VERDICT r12 task 3): every round the
    // post-close payload inflated the alphabetical-head keys
    // (corpus_pipeline 7.65 s driver vs 2.27 s isolated in r12) —
    // whichever keys run first absorb residual JIT/codegen warmup and
    // the bench-start contention burst, and a judge had to adjudicate
    // them by isolated rerun. Two fixes, both deterministic:
    // (1) one UNTIMED warmup pass over the first 10 alphabetical
    //     batch keys before any timed rep;
    // (2) each timed rep walks the batch keys at a different rotation
    //     (rep r starts len·r/reps in), so no key's THREE reps all sit
    //     at the run head — the median discards a position-correlated
    //     outlier instead of averaging it in.
    batchSel.take(10).foreach { case (_, fn) =>
      graft.operators.Dedup.clearLabelCache()
      try act(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    val batchTimes = new java.util.HashMap[String, List[Double]]()
    for (rep <- 0 until reps) {
      val off = if (batchSel.isEmpty) 0 else batchSel.length * rep / reps
      val rotated = batchSel.drop(off) ++ batchSel.take(off)
      rotated.foreach { case (name, fn) =>
        timeOnce(spark, sfDir, fn).foreach { dt =>
          batchTimes.merge(name, List(dt), (a, b) => b ::: a)
        }
      }
    }
    val batchResults = batchSel.map { case (name, _) =>
      val runs = Option(batchTimes.get(name)).getOrElse(Nil)
      // a query only counts as measured if EVERY rep succeeded
      name -> (if (runs.length == reps) Some(median(runs)) else None)
    }
    val (streamResults, streamWall): (Seq[(String, Option[Double])], Option[Double]) =
      if (streamSel.isEmpty) (Seq.empty, None)
      else {
        val perKey = new java.util.concurrent.ConcurrentHashMap[String, List[Double]]()
        val walls = (0 until reps).map { _ =>
          graft.operators.Dedup.clearLabelCache()
          System.gc()
          val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
          val t0 = System.nanoTime()
          try {
            import scala.jdk.CollectionConverters._
            val tasks = streamSel.map { case (name, fn) =>
              new java.util.concurrent.Callable[Unit] {
                def call(): Unit = {
                  val s0 = System.nanoTime()
                  try {
                    act(fn(spark, sfDir))
                    val dt = (System.nanoTime() - s0) / 1e9
                    perKey.merge(name, List(dt), (a, b) => b ::: a)
                  } catch {
                    case t: Throwable =>
                      System.err.println(s"bench query failed: ${t.getClass.getName}: ${t.getMessage}")
                  } finally graft.operators.Dedup.releaseTransientBlocks()
                }
              }
            }
            pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
          } finally pool.shutdown()
          (System.nanoTime() - t0) / 1e9
        }
        val res = streamSel.map { case (name, _) =>
          val runs = Option(perKey.get(name)).getOrElse(Nil)
          name -> (if (runs.length == reps) Some(median(runs)) else None)
        }
        (res, Some(median(walls)))
      }
    val results = (batchResults ++ streamResults).sortBy(_._1)
    // timings print at 4 decimals (0.1 ms): full-precision doubles made
    // the one-line payload ~6 KB and the driver's captured stdout tail
    // truncated it mid-JSON (BENCH_r06 "parsed": null) — sub-ms digits
    // carry no information at these run times anyway
    def fmt(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v.map(fmt).getOrElse("-1.0") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // total = serial batch medians + the streaming wave's measured
    // wall — the wall time one serial-equivalent pass of the suite
    // actually costs; overlapped per-query latencies must not
    // double-count
    val total = batchResults.flatMap(_._2).sum + streamWall.getOrElse(0.0)
    val streamMeta = streamWall
      .map(w => s""","stream_wall":${fmt(w)},"stream_concurrency":$conc""")
      .getOrElse("")
    // self-describing payload (VERDICT r11 task 6): the driver
    // re-runs Bench post-close and overwrites bench_last.json, so
    // "which run is this" must live IN the JSON — git SHA + wall-clock
    // stamp; SURVEY §8 cites them per round
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
    } catch { case _: Throwable => "unknown" }
    val stamp = java.time.Instant.now().toString
    val runMeta = s""","sha":"$sha","ts":"$stamp""""
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failed$streamMeta,"sf":"$sfDir","reps":$reps$runMeta}"""
    // the full 213-query payload (~6 KB) goes to a FILE; the driver's
    // stdout tail capture starts mid-line on payloads that long
    // (BENCH_r06 and r07 both landed "parsed": null), so the LAST
    // stdout line must be a compact summary that always fits: total,
    // query count, failures, and only the 10 slowest per-query timings
    // only a FULL run may replace the artifact of record — a filtered
    // single-operator iteration must not clobber the last full bench
    // (partial runs record to bench_partial.json so the iteration
    // numbers are still on disk without touching the headline file)
    val artifact = if (wanted.isEmpty) "bench_last.json" else "bench_partial.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(artifact), fullLine + "\n")
    catch { case _: Throwable => () }
    val slow10 = results.collect { case (k, Some(v)) => (k, v) }
      .sortBy(-_._2).take(10)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${results.length},"queries":$slow10,"failed":$failed$streamMeta,"sf":"$sfDir","reps":$reps$runMeta,"full":"$artifact"}"""
    println(summary)
    spark.stop()
  }
}
