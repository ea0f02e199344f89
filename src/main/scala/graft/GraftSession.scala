package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode settings mirror what a cluster deployment would tune:
  * shuffle partitions sized to parallelism (not the 200 default), AQE
  * with skew-join handling on, UTC session time, a broadcast
  * threshold that lets the small dimension tables broadcast, a
  * codegen cache that every session's tasks share, and a local
  * filesystem that forks no process ([[graft.sources.LocalFs]]).
  */
object GraftSession {
  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // TypedImperativeAggregate plans (TopKPairs elections, the KMV/
      // CMS sketches) run under ObjectHashAggregateExec, whose
      // sort-based fallback triggers at just 128 DISTINCT KEYS per
      // task (spark.sql.objectHashAggregate.sortBased.fallbackThreshold
      // default) — at which point the aggregate SORTS ITS WHOLE INPUT
      // by group key. For the bounded-heap top-k election that means
      // sorting the full candidate-pair stream (112M wide rows for
      // ann_lsh_multi at the 100x census — measured: a disk-filling
      // spill crash) to produce k rows per query. Our aggregate
      // buffers are small by construction (k-heaps, fixed-width
      // sketches), so 256k in-memory groups per task is ~100 MB worst
      // case — far cheaper than materializing the input sort.
      //
      // The raised threshold is SESSION-GLOBAL, so it also governs the
      // collect_list/collect_set plans (r12 ADVICE), and the fallback
      // check is KEY-COUNT ONLY — no memory check — so every such
      // consumer must carry its own per-group bound. Audit: Dedup's
      // ngram/LSH/minhash/simhash per-gram pid buffers are df-capped
      // at maxBucket=200 ids BEFORE the collect (the stop-band prune
      // runs first), worst case 256k groups × 200 longs ≈ 410 MB per
      // task if every group sat at the cap — unreachable in practice
      // because the df census drops exactly the heavy grams and the
      // surviving buckets average single digits; Similarity's pivot
      // collects are bounded by the centroid/query fan (≤ k·M cells
      // of one double each); Frames/Telemetry/Relational collects
      // group per (entity, window) with window-bounded cells. None is
      // unbounded per group, so the 256k-key hash path stays well
      // inside an executor heap; re-audit this list whenever a new
      // collect_list consumer lands (grep collect_list/collect_set).
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (256 * 1024).toString)
      // Codegen reuse. CodeGenerator.compile caches each compiled class
      // keyed on (thread context class loader, source) in an LRU of
      // spark.sql.codegen.cache.maxEntries (default 100). The driver
      // compiles under the app class loader and tasks under the
      // executor's, so each source takes two entries: a telemetry_olap
      // lap of the benchmark compiles 81 distinct sources, ~160
      // entries, and the default LRU evicted them before the next lap
      // could reuse them (541 compiles of 81 sources in one run, 322 of
      // them task-side repeats).
      //
      // With artifact isolation on (the Spark default) every session
      // tags its jobs with its own JobArtifactState(sessionUUID), and
      // the executor builds a new IsolatedSessionState, class loader
      // included, per new UUID. Every staged stream makes two sessions
      // per call (Staged.stream's newSession and StreamExecution's
      // cloneSession), and its batches' plans run in a third, the
      // caller's, so each task-side compile inside a twin missed
      // however large the cache (stream_twins: 535 compiles of 79
      // sources, 360 task-side repeats). graft adds no jar or artifact
      // to any session, so isolation guarded nothing; off, every
      // session's tasks share the executor's default loader.
      //
      // 1000 entries hold both benchmark workloads (~80 sources × 2
      // loaders each) with room for the other plan shapes of a mixed
      // session. Measured on the benchmark at seed 711, per traced lap
      // after warm-up: 58 compiles (794 ms) on telemetry_olap and 78.5
      // (1091 ms) on stream_twins drop to 0. The larger cache alone
      // left 41 compiles per stream_twins lap, isolation off alone left
      // 79; both are needed.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // Local files without child processes. Without libhadoop.so,
      // Hadoop's RawLocalFileSystem sets permissions by forking `chmod`
      // for every file it creates and directory it makes, and reads
      // link status by forking `readlink` (on both sides of every
      // FileContext rename), each through hadoop.util.Shell with one
      // extra stderr-reader thread. Structured Streaming writes its
      // offset, commit and sink-metadata logs and its state-store
      // deltas through FileContext (create, rename), and parquet
      // writes go through FileSystem. A JFR recording of one 40 s
      // stream_twins benchmark run (4 cores, 1 GiB heap) counted 4866
      // process starts (3240 readlink, 1570 chmod), 2943 of them on the
      // stream execution thread, i.e. on the serial micro-batch path,
      // and 5650 thread starts. sources.LocalFs sets and reads both
      // facts through java.nio, under both APIs; checksums stay on.
      // The same run then started 76 processes, none through Hadoop
      // (Spark's own `rm -rf` on its Cleaner thread, 2 at start-up),
      // and 863 threads; traced streaming.commit_ms per lap fell
      // 589.5 -> 14.5 ms and state_commit_ms 290.5 -> 10.5 ms.
      //
      // Hadoop caches the FileSystem per scheme per JVM whatever the
      // conf, so the first session of the JVM decides the FileSystem
      // face; FileContext reads its class from each conf.
      .config(graft.sources.LocalFs.settings)
      // spark.driver.maxResultSize stays at the 1g default: it is the
      // driver-side tripwire that turns a corpus-sized collect into a
      // loud error instead of an OOM. The one path that used to need
      // 8g (the streaming gate's memory sink, r11) now writes a
      // parquet sink (streaming.Staged.stream: every append-mode
      // trigger, or the last complete-mode table) — no
      // operator or gate path ships corpus-sized results driver-side.
      .config("spark.ui.enabled", "false")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerObservationLog(s)
    s
  }

  /** Logs every non-zero `graft_*` observed metric (CollectMetrics
    * nodes planted by operators that trade recall for bounded work,
    * e.g. [[graft.operators.Dedup]]'s stop-band prune) when the
    * consuming action completes — the repo's no-silent-caps rule made
    * observable at zero extra jobs. Idempotent per session. */
  def registerObservationLog(s: SparkSession): Unit = observed.synchronized {
    if (observed.add(s)) s.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val metrics = deepObservedMetrics(qe.executedPlan)
          metrics.foreach { case (name, row) =>
            if (name.startsWith("graft_") && row.toSeq.exists {
                  case null => false
                  case n: Number => n.longValue() != 0L
                  case _ => true
                })
              println(s"[graft-observe] $name: ${row.schema.fieldNames.zip(row.toSeq)
                .map { case (f, v) => s"$f=$v" }.mkString(", ")}")
          }
          // accumulator backstop: stop-band drops whose CollectMetrics
          // node was discarded by AQE empty-relation collapse (a fully
          // pruned query) still surface — the census tasks ran even
          // though the plan no longer shows them. Names seen above are
          // synced, never double-logged.
          graft.operators.StopBand.backstopDrops(metrics.map(_._1).toSet)
            .foreach { case (name, buckets, members) =>
              println(s"[graft-observe] $name: dropped_buckets=$buckets, " +
                s"dropped_docs=$members (accumulator backstop)")
            }
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      })
  }

  /** Collect every CollectMetrics result in the EXECUTED plan,
    * descending through AQE's materialized stage boundaries.
    * `QueryExecution.observedMetrics` walks `plan.collect`, and
    * AdaptiveSparkPlanExec / QueryStageExec are LEAF nodes whose real
    * subtree hides behind `executedPlan()` / `plan()` — an observe()
    * planted below any exchange (the stop-band censuses are) is
    * invisible to it once AQE materializes the stage.
    *
    * If AQE's empty-relation propagation collapses the whole result
    * (e.g. every candidate bucket was pruned), the physical
    * CollectMetrics node is discarded with the subtree —
    * EmptyRelationExec retains only a logical remnant — and the
    * observed metric for that query is lost; the
    * [[graft.operators.StopBand]] accumulator backstop covers exactly
    * that case (the census tasks ran before AQE could see the empty
    * side). Partially-pruned plans (any surviving row) keep the node;
    * Round26Spec pins the surviving case and this traversal,
    * Round27Spec the collapsed case. */
  private[graft] def deepObservedMetrics(
      plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[(String, org.apache.spark.sql.Row)] = {
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val here = plan match {
      case c: CollectMetricsExec => Seq(c.name -> c.collectedMetrics)
      case _ => Nil
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case p => p.children
    }
    here ++ kids.flatMap(deepObservedMetrics)
  }
  private val observed =
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()).asInstanceOf[java.util.Set[SparkSession]]
}
