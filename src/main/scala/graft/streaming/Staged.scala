package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.ScalaReflection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.sources.{Parquet, Scratch}

/** The staging protocol of the batch-gated streaming twins, written
  * once. A twin replays a bounded corpus as a stream: the corpus is
  * cut into micro-batches ([[timeCut]]) and streamed one batch per
  * trigger through the twin's core, which the twin's batch assembly
  * reads back. An order-free core is Spark's own streaming
  * aggregation, run by [[aggregate]] in complete mode: often the batch
  * twin's own `groupBy.agg` list, so the twin is the batch plan run
  * incrementally, and otherwise per-key cells or a typed
  * `Aggregator` that a batch assembly reads. Every ordered core is a
  * keyed fold over `GroupState`, run by [[run]] in append mode:
  * [[onArrival]] (a step may emit at every arrival) and [[perBatch]]
  * (the whole micro-batch of a key at once). Barrier rows
  * ([[withBarrier]]) serve only these ordered folds: a key's barrier
  * row in the last batch closes the state it holds open.
  *
  * Staging protocol: nothing is written before the stream starts. A
  * [[PlanSource]] serves batch i at offset i, one offset per trigger,
  * and each trigger runs its batch's own plan; batch order is offset
  * order. The stream's schema is the batches' union schema with every
  * field nullable, as a file stream's is. Because a trigger re-runs its
  * batch's plan on a retry or a restart instead of reading a copy, a
  * batch plan must be deterministic; a `rand()` or `uuid()` batch fails
  * loudly, naming its index.
  *
  * Emission contract of [[run]]: it runs no trailing no-data
  * micro-batch unless `noDataBatches = true`, so a core's final
  * emission must be driven by data — a barrier row in the last staged
  * batch, or an append per arrival. A watermark-closed window emits
  * only in the batch AFTER the one that advanced the watermark, so
  * watermark twins either stage a last far-future row in a batch of
  * its own ([[closingWindows]]), or (the relay) keep no-data batches
  * on. An empty batch still runs its trigger, with no rows.
  * [[aggregate]] needs neither: its sink holds the last trigger's
  * whole result table. The oracle gate enforces both: a twin that
  * loses its final emission fails its batch oracle on row count.
  *
  * Nothing here is mutable static state: concurrent twins (the gate
  * runs several at once) share no checkpoint, sink, session or conf.
  */
object Staged {

  /** 2100-01-01 in µs: event time past any corpus, for barrier rows
    * that must sort after every arrival or close every window. */
  val FarFutureUs = 4102444800000000L

  /** Two micro-batches split at the midpoint of `key`'s [min, max]
    * (or at `at`), NULL keys in batch 1. An empty or all-NULL `ev` is
    * staged as one batch, so every twin returns a correctly shaped
    * frame on a degenerate corpus. The bounds come from parquet footer
    * statistics when they can tell them ([[graft.sources.Parquet.keyBounds]]),
    * else from one min/max job; a cut is only a staging choice, and
    * both give the same cut. */
  def timeCut(ev: DataFrame, key: Column, at: Option[Long] = None): Seq[DataFrame] =
    at.orElse(Parquet.keyBounds(ev, key).getOrElse {
      val b = ev.agg(min(key), max(key)).head()
      Option.when(!b.isNullAt(0))((b.getLong(0), b.getLong(1)))
    }.map { case (lo, hi) => (lo + hi) / 2 })
      .fold(Seq(ev))(cut => Seq(ev.filter(key.isNull || key <= cut), ev.filter(key > cut)))

  /** One barrier row per row of `keys`, shaped as `E`: fields present
    * in `keys` come from it, `sentinel` is true, any other field is
    * NULL if nullable and zero if primitive. */
  private def barrier[E: TypeTag](keys: DataFrame): DataFrame =
    keys.select(ScalaReflection.encoderFor[E].schema.fields.toSeq.map { f =>
      val c = if (keys.columns.contains(f.name)) col(f.name)
        else if (f.name == "sentinel") lit(true)
        else if (f.nullable) lit(null) else lit(0)
      c.cast(f.dataType).as(f.name)
    }: _*)

  /** `batches` projected onto `E`'s fields (`sentinel` false on data
    * rows), with the [[barrier]] rows of `keys` riding the last batch.
    * The cores drain a key's whole micro-batch before they flush, so a
    * barrier in the last data batch sees every arrival. */
  def withBarrier[E: TypeTag](batches: Seq[DataFrame], keys: DataFrame): Seq[DataFrame] = {
    val data = batches.map(b => b.select(ScalaReflection.encoderFor[E].schema.fields.toSeq.map { f =>
      (if (f.name == "sentinel" && !b.columns.contains(f.name)) lit(false) else col(f.name))
        .cast(f.dataType).as(f.name)
    }: _*))
    data.init :+ data.last.unionByName(barrier[E](keys))
  }

  /** `batches` closed for a zero-delay event-time watermark: `row(t)`
    * builds a marker row at event time t. One at [[FarFutureUs]] rides
    * the last data batch and lifts the watermark past every real
    * window; one a day later follows in a batch of its own, which runs
    * at that watermark and so emits every real window. The twin drops
    * the markers' own windows from its result. */
  def closingWindows(batches: Seq[DataFrame], row: Long => DataFrame): Seq[DataFrame] =
    batches.init :+ batches.last.unionByName(row(FarFutureUs)) :+ row(FarFutureUs + 86400000000L)

  private def enc[T: TypeTag]: Encoder[T] = ScalaReflection.encoderFor[T]

  /** The keyed fold every core runs on: `f` gets a key's state
    * (`zero` before its first arrival) and its rows of one
    * micro-batch, and returns the new state and the rows to emit. */
  def perBatch[E, K: TypeTag, S: TypeTag, O: TypeTag](ev: Dataset[E])(key: E => K)(zero: S)
      (f: (K, S, Iterator[E]) => (S, Iterator[O])): Dataset[O] = {
    // the state rides in a Tuple1, so an Option state keeps None apart
    // from a stored value
    implicit val (ke, se, oe) = (enc[K], enc[Tuple1[S]], enc[O])
    ev.groupByKey(key).flatMapGroupsWithState[Tuple1[S], O](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) { (k, rows, state) =>
      val (s, out) = f(k, state.getOption.fold(zero)(_._1), rows)
      state.update(Tuple1(s))
      out
    }
  }

  /** Per-arrival fold per key: a micro-batch's rows fold in `order`,
    * and each step returns the new state and the rows it emits. */
  def onArrival[E, K: TypeTag, S: TypeTag, O: TypeTag, T: Ordering](ev: Dataset[E])
      (key: E => K, order: E => T)(zero: S)(step: (S, E) => (S, IterableOnce[O])): Dataset[O] =
    perBatch(ev)(key)(zero) { (_, s0, rows) =>
      var s = s0
      val out = Vector.newBuilder[O]
      rows.toSeq.sortBy(order).foreach { e =>
        val (s2, o) = step(s, e)
        s = s2
        out ++= o
      }
      (s, out.result().iterator)
    }

  /** Stream `batches` through `transform`, one batch per micro-batch
    * and in order, into a parquet sink in append mode; returns a lazy
    * scan of the sink. No-data micro-batches run only if
    * `noDataBatches` (see the emission contract above; a trailing
    * no-data batch was ~13% of the heavy twins' wall time). A parquet
    * sink rather than a memory sink keeps the driver out of the data
    * plane (a memory sink collects the whole emitted log driver-side). */
  def run(spark: SparkSession, batches: Seq[DataFrame], noDataBatches: Boolean = false)
      (transform: DataFrame => DataFrame): DataFrame =
    staged(spark, batches, noDataBatches, complete = false)(transform)

  /** Stream `batches` like [[run]] through `core`, a streaming
    * aggregation (`groupBy(keys).agg(...)` or a global `agg`), in
    * complete output mode; returns a lazy scan of its result table.
    *
    * Emission contract: complete mode needs no barrier row and no
    * trailing micro-batch. The sink writes one parquet table, the
    * aggregation's whole result table after the last batch: the batch
    * `core` over the union of `batches`. Earlier triggers run their
    * batch into a `noop` write, so the state they fold still commits.
    * On all-empty input every trigger reads no rows, and the table is
    * what a streaming aggregation returns on no rows: one row for a
    * global aggregate, none for a grouped one. */
  def aggregate(spark: SparkSession, batches: Seq[DataFrame])
      (core: DataFrame => DataFrame): DataFrame =
    staged(spark, batches, noDataBatches = false, complete = true)(core)

  /** The body of [[run]] and [[aggregate]]: the checkpoint lives only
    * for this call (RAM scratch, deleted on return). The returned scan
    * reads the sink lazily, so the sink lives until the calling
    * thread's next transient drain ([[graft.operators.Dedup.releaseTransientBlocks]]),
    * or until JVM exit for a caller that never drains. */
  private def staged(spark: SparkSession, batches: Seq[DataFrame], noDataBatches: Boolean,
      complete: Boolean)(transform: DataFrame => DataFrame): DataFrame = {
    val ckpt = Scratch.tempDir("graft_ckpt_")
    val out = Scratch.tempDir("graft_sdsink_")
    graft.operators.Dedup.trackTransientDir(out)
    try stream(spark, batches, ckpt.toString, out.toString, noDataBatches, complete)(transform)
    finally Scratch.deleteTree(ckpt)
  }

  /** [[staged]] on a given checkpoint and sink, so a stream can be
    * stopped and restarted on the same ones.
    *
    * The query runs in a cloned session (shared context, its own
    * conf): the stateful width is [[stateWidth]] of the largest batch,
    * fixed with a fresh checkpoint. Its rows come from a job-free upper
    * bound when that bound is at most [[RowsPerStatePartition]] (width
    * 1); otherwise one job counts the rows of every batch
    * ([[PlanSource.largestBatch]]). */
  private[streaming] def stream(spark: SparkSession, batches: Seq[DataFrame], ckpt: String,
      out: String, noDataBatches: Boolean, complete: Boolean)
      (transform: DataFrame => DataFrame): DataFrame = {
    val source = PlanSource(batches)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", stateWidth(source.largestBatch(RowsPerStatePartition),
      spark.sparkContext.defaultParallelism).toString)
    ss.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noDataBatches.toString)
    val transformed = transform(ColumnBridge.stream(ss, source))
    // append: the sink's _spark_metadata log lists exactly the
    // committed files, so the read-back is exactly-once even if stop()
    // races an in-flight write. complete: trigger i reads batch i (one
    // offset per trigger), so only the last batch's trigger writes
    val sink = transformed.writeStream.option("checkpointLocation", ckpt)
    val last = batches.length - 1L
    val q = (if (complete) sink.outputMode("complete").foreachBatch { (batch: DataFrame, id: Long) =>
      if (id == last) batch.write.mode("overwrite").parquet(out)
      else batch.write.format("noop").mode("overwrite").save()
    } else sink.outputMode("append").format("parquet").option("path", out)).start()
    try q.processAllAvailable() finally q.stop()
    // explicit schema: a run that commits no data file still reads
    // back as a correctly shaped empty frame
    ss.read.schema(transformed.schema).parquet(out)
  }

  /** Staged rows per state partition: the gate's stateful shuffle
    * width is `ceil(rows of the largest staged batch / R)`, clamped to
    * [1, defaultParallelism]. Each stateful operator loads and commits
    * one state store per shuffle partition per micro-batch, so width
    * beyond what the input volume fills buys only commit overhead.
    * Calibration (sf0.1, 4 cores, `tools.Run time` medians in seconds; rows =
    * the largest staged batch):
    * {{{
    *   twin                 rows   w=8        w=4   w=2   w=1
    *   stream_orphans       425k   4.79-4.95  4.53  4.82  5.47-6.27
    *   stream_join           99k   4.17-4.72  3.98  3.27  4.30-4.72
    *   stream_anomaly        50k   3.53       -     -     2.86
    *   dedup_stream          2.5k  3.17       -     -     2.47
    *   dedup_exact_stream    2.5k  2.63       -     -     2.13
    *   stream_novelty       441k   3.93       -     -     3.97
    * }}}
    * 64k rows per partition picks the fastest measured width at every
    * point (novelty is flat between 8 and 1): 425k → 4 at 4 cores,
    * 99k → 2, ≤ 64k → 1. At sf0.01 every twin's largest staged batch
    * is at most 45k rows, so the whole wave runs at width 1 (perfbench
    * stream_twins on 4 cores: cpu_s_per_lap 10.1 → 6.0 s against the
    * old fixed 8). */
  private[streaming] val RowsPerStatePartition = 65536L

  /** The width rule of [[RowsPerStatePartition]]: pure, so its edges
    * are unit-tested. */
  private[streaming] def stateWidth(rows: Long, cap: Int): Int =
    math.min(math.max((rows + RowsPerStatePartition - 1) / RowsPerStatePartition, 1L),
      cap.toLong).toInt
}
