package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Sink layer: how graft tables leave the engine.
  *
  * At 100 TB the write layout IS the read plan: hive-style partition
  * columns give coarse pruning (the `.where(part = x)` scan never
  * lists other directories), and sorting within partitions keeps
  * parquet row-group min/max stats selective for range predicates.
  * Frame blobs (the reference's `bytes_to_file`, main.py:52-57)
  * persist as parquet binary columns — splittable and scannable,
  * unlike raw byte files.
  */
object Sinks {

  /** An event_type-partitioned copy of the events table under `dir`,
    * written per call for the two pruning contracts: in production the
    * partitioned fact table exists, and here each call builds it from
    * the corpus as it is now. The copy lives until the calling thread's
    * next transient drain ([[graft.operators.Dedup.releaseTransientBlocks]]),
    * because the returned scan still reads it. */
  private[graft] def partitionedEvents(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val tmp = Scratch.tempDir("graft_ppart_")
    graft.operators.Dedup.trackTransientDir(tmp)
    writePartitioned(
      Tables.events(spark, dir)
        .select($"event_id", $"user_id", $"value", $"event_type"),
      tmp.toString, partitionCols = Seq("event_type"), sortCols = Seq("user_id"))
    tmp.toString
  }

  /** Partitioned parquet write with in-partition sort (row-group
    * stats stay selective on `sortCols`). */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortCols.nonEmpty)
        df.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
      else df
    sorted.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*).parquet(path)
  }

  /** Persist packed frames (binary column + routing metadata). */
  def writeFrames(frames: DataFrame, path: String): Unit =
    frames.write.mode(SaveMode.Overwrite).parquet(path)

  /** Read persisted frames back. */
  def readFrames(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)

  /** The partition-pruning contract END-TO-END, oracle-gated
    * (`q_partition_prune`): events write hive-partitioned by
    * event_type through [[writePartitioned]], the read-back filters
    * on the partition column, and the per-user rollup must equal the
    * direct query over the source table. The operator FAILS LOUDLY if
    * the executed scan did not actually prune — a layout that silently
    * degrades to a full scan is the bug this surface exists to catch
    * (at 100 TB the pruned scan lists one directory; the degraded one
    * lists them all). */
  def partitionPrunedRollup(spark: SparkSession, dir: String,
      keep: String = "purchase"): DataFrame = {
    import spark.implicits._
    val pruned = Parquet.read(spark, partitionedEvents(spark, dir))
      .filter($"event_type" === keep)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
    val filters = partitionFilters(pruned)
    if (!filters.exists(_.contains("event_type")))
      throw new IllegalStateException(
        s"partition-pruned read degraded to a full scan: ${filters.getOrElse("no scan")}")
    pruned
  }

  /** DYNAMIC partition pruning end-to-end (`q_dpp_join`): the fact
    * side is hive-partitioned by event_type, but unlike
    * [[partitionPrunedRollup]] the query never names the partitions —
    * the pruning values arrive AT RUNTIME from the broadcast of a
    * filtered dimension (the star-schema shape: `fact JOIN dim ON
    * part_col WHERE dim.pred`). Catalyst injects a dynamicpruning
    * subquery into the scan's PartitionFilters, so the fact scan
    * lists only the directories the dim's surviving rows name. At
    * 100 TB this is the difference between scanning every partition
    * of a date/type-partitioned fact table and scanning the handful a
    * dimension predicate selects — without the query author knowing
    * the values. Fails loudly if DPP did not reach the scan. */
  def dppJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the dim derives from the source table (distinct types + a
    // conversion flag), so the pruning values are a QUERY RESULT the
    // optimizer cannot constant-fold into a static filter
    val dim = Tables.events(spark, dir)
      .select($"event_type").distinct()
      .withColumn("is_conversion", $"event_type".isin("purchase", "signup"))
    val fact = Parquet.read(spark, partitionedEvents(spark, dir))
    val out = fact
      .join(broadcast(dim.filter($"is_conversion")), Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("sum_value"))
    if (!out.queryExecution.executedPlan.toString.contains("dynamicpruning"))
      throw new IllegalStateException(
        "dynamic partition pruning did not reach the fact scan — " +
          "the join would list every partition directory")
    out
  }

  /** The content of the executed scan's `PartitionFilters: [...]`
    * bracket — None if no FileScan line carries one. The FULL scan
    * line is useless for this check: it also lists the read columns,
    * so a partition column's NAME appears even when the filter list
    * is empty. */
  private[graft] def partitionFilters(df: DataFrame): Option[String] =
    "PartitionFilters: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      .map(_.group(1))
}
