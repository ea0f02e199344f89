package graft.tools

import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Scale-stress census: run a list of SparkEntry keys against an
  * amplified corpus dir, one JVM, each under a wall-clock watchdog —
  * a key that blows past the budget is CANCELLED via its job group
  * and recorded as TIMEOUT instead of wedging the census (that is
  * how the 10x census surfaced queue_ttl's O(n²) frame without
  * waiting 30 minutes per offender).
  *
  * runMain graft.tools.ScaleCensus <dir> <timeoutSec> key1 key2 ...
  * (no keys → the full SparkEntry inventory minus the deliberate
  * O(N·Q)/O(N²) exact baselines).
  */
object ScaleCensus {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val timeoutSec = args(1).toLong
    val exactBaselines = Set("ann_brute", "dedup_embed_recall",
      "lsh_recall", "lsh_multi_recall", "ann_recall", "embed_knn_eval")
    val keys =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted.filterNot(exactBaselines)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(master = s"local[$cpus]",
      shufflePartitions = cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the measurement tools must hear the stop-band audit too —
    // a cap engaging during a census is the loudest place to say so
    graft.GraftSession.registerObservationLog(spark)
    spark.read.parquet(s"$dir/lineitem.parquet").count()
    // one thread per census, REPLACED after a timeout (ADVICE r11):
    // cancelJobGroup/fut.cancel return immediately but the worker may
    // still be draining the cancelled job, and a queued next key would
    // have its fut.get clock started while waiting for the thread —
    // one slow-to-cancel key bleeding into the next key's budget as a
    // spurious TIMEOUT. A fresh executor gives the next key a fresh
    // thread and its full budget; the abandoned thread dies with its
    // cancelled job.
    var pool = Executors.newSingleThreadExecutor()
    var bad = 0
    keys.foreach { name =>
      graft.operators.Dedup.clearLabelCache()
      System.gc()
      val t0 = System.nanoTime()
      val fut = pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          // noop sink like the bench (guide §1.4): count() prunes
          // columns/subtrees, so a census could under-exercise exactly
          // the expensive column a key would compute in production.
          // The row count rides the noop write as an observed metric:
          // a df.count() after it would run the key a second time.
          try {
            val obs = org.apache.spark.sql.Observation()
            graft.Bench.act(graft.SparkEntry.queries(name)(spark, dir).observe(obs,
              org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("rows")))
            obs.get("rows").asInstanceOf[Long]
          } finally spark.sparkContext.clearJobGroup()
        }
      })
      try {
        val rows = fut.get(timeoutSec, TimeUnit.SECONDS)
        println(f"[census] $name ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$rows")
      } catch {
        case _: TimeoutException =>
          bad += 1
          spark.sparkContext.cancelJobGroup(name)
          fut.cancel(true)
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor()
          println(f"[census] $name TIMEOUT (> $timeoutSec s)")
        case e: java.util.concurrent.ExecutionException =>
          bad += 1
          val root = Option(e.getCause).getOrElse(e)
          println(s"[census] $name CRASH ${root.getClass.getSimpleName}: " +
            s"${Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}")
      }
    }
    pool.shutdownNow()
    println(s"[census] done: ${keys.size} keys, $bad bad")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
