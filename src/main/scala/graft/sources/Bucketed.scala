package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed-table layout — the write-side half of shuffle-free joins.
  *
  * At 100 TB the expensive part of a fact-fact equi-join is the
  * shuffle of both sides. Bucketing moves that shuffle to WRITE time,
  * once: each table is hash-partitioned into N buckets on the join
  * key and each bucket is written sorted, so any later join between
  * two tables bucketed on the same key with the same N is a
  * sort-merge join with NO Exchange and NO Sort on either side —
  * the nightly-join workload reads co-located, pre-sorted buckets
  * forever after. (The reference persists raw byte files keyed by
  * device — main.py:52-57 `bytes_to_file`; this is that idea grown
  * into a layout that an engine can join against at scale.)
  *
  * Bucketed data must live in a catalog table (the bucketing spec is
  * table metadata, not something parquet files self-describe), so
  * this is the one graft component that registers catalog state. Each
  * call writes its two tables under names of its own, in a scratch
  * directory of its own; the calling thread's next transient drain
  * ([[graft.operators.Dedup.releaseTransientBlocks]]) drops the tables
  * and deletes the directory.
  */
object Bucketed {
  /** One bucket file per bucket: pre-partition the write by the
    * bucket expression (same Murmur3 hash the bucketed write uses),
    * so each task owns exactly one bucket and writes exactly one
    * sorted file — the single-file-per-bucket layout is what lets
    * the read side report sorted output and the join skip its Sort. */
  private def writeBucketed(df: DataFrame, table: String, path: String,
      bucketCol: String, nBuckets: Int): Unit =
    df.repartition(nBuckets, col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Write customer and orders of `dir` as co-bucketed tables (both on
    * custkey, same bucket count) and return their names. */
  def custOrders(spark: SparkSession, dir: String, nBuckets: Int = 8): (String, String) = {
    val root = Scratch.tempDir("graft_bkt_")
    // the directory's unique name makes the table names unique too
    val (ct, ot) = (s"${root.getFileName}_customer", s"${root.getFileName}_orders")
    graft.operators.Dedup.trackRelease(() => Seq(ct, ot).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t")))
    graft.operators.Dedup.trackTransientDir(root)
    writeBucketed(Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
      ct, s"$root/customer", "c_custkey", nBuckets)
    writeBucketed(Tables.orders(spark, dir).select("o_custkey", "o_totalprice"),
      ot, s"$root/orders", "o_custkey", nBuckets)
    (ct, ot)
  }
}
