package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.orphans]] — the
  * referential-integrity audit run at the ingest edge, the way FK
  * monitors actually deploy: child rows arrive as a stream, the
  * parent key sets are STATIC dimensions, and the orphan verdict is
  * a stream-static left join — evaluated per micro-batch by Spark
  * itself, scan-local relative to the stateful shuffle. Verdicts
  * then accumulate per (fk, shard) — the StreamQuarantine sharded-
  * counter posture, two longs per shard — and flush once at the
  * audit barrier; the rollup is fk-dimension-sized. All three FK
  * edges (lineitem→orders, orders→customer, events→customer) ride
  * ONE staged stream: child rows tag their edge, the parent union
  * joins on (fk, key). Shares dq_orphans' oracle.
  *
  * Gated property: child rows split across the micro-batch cut
  * accumulate into the same shard counters.
  */
object StreamOrphans {

  private val NShards = 8

  /** The staged child row: `shard` assigns at staging time
    * (deterministic content hash), so barrier rows can address every
    * (fk, shard) state cell exactly. */
  case class Child(fk: String, k: Option[Long], shard: Long, sentinel: Boolean)
  case class V(fk: String, shard: Long, orphan: Long, sentinel: Boolean)
  case class St(n: Long, orph: Long)
  case class Out(fk: String, shard: Long, n_child: Long, n_orphans: Long)

  /** The stateful core: per-(fk, shard) row/orphan counters; sentinel
    * flushes. */
  def census(ev: Dataset[V]): Dataset[Out] =
    Staged.atBarrier(ev)(e => (e.fk, e.shard), _.sentinel)(St(0L, 0L)) { (s, e) =>
      St(s.n + 1L, s.orph + e.orphan)
    } { case ((fk, shard), s) => Some(Out(fk, shard, s.n, s.orph)) }

  def streamedOrphans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = graft.sources.Tables
    // child rows: (fk, k, ord) — ord only places the staged cut
    val children =
      t.lineitem(spark, dir).select(lit("lineitem->orders").as("fk"),
          $"l_orderkey".as("k"), xxhash64($"l_orderkey", $"l_linenumber").as("ord"))
        .unionByName(t.orders(spark, dir).select(lit("orders->customer").as("fk"),
          $"o_custkey".as("k"), xxhash64($"o_orderkey").as("ord")))
        .unionByName(t.events(spark, dir).select(lit("events->customer").as("fk"),
          $"user_id".as("k"), xxhash64($"event_id").as("ord")))
        .withColumn("shard", pmod(xxhash64($"k"), lit(NShards.toLong)))
    // static parent key sets, unioned and tagged with their edge
    val parents =
      t.orders(spark, dir).select(lit("lineitem->orders").as("fk"), $"o_orderkey".as("pk"))
        .unionByName(t.customer(spark, dir).select(lit("orders->customer").as("fk"),
          $"c_custkey".as("pk")))
        .unionByName(t.customer(spark, dir).select(lit("events->customer").as("fk"),
          $"c_custkey".as("pk")))
        .distinct()
    // every edge's cells flush, child rows or not: the batch audit
    // reports each edge
    val cells = spark.range(NShards.toLong)
      .crossJoin(Seq("lineitem->orders", "orders->customer", "events->customer").toDF("fk"))
      .select($"fk", $"id".as("shard"))
    val flushed = Staged.run(spark,
        Staged.withBarrier[Child](Staged.timeCut(children, $"ord"), cells)) { stream =>
      // stream-static FK probe per micro-batch, BEFORE the stateful
      // shuffle; sentinels skip the verdict via their flag. The
      // parent key sets scale with the DIMENSION tables (orders keys
      // at 100 TB are nobody's broadcast), so the hint is size-gated:
      // broadcast under the session threshold, shuffled join above
      val flagged = stream
        .join(graft.operators.JoinGate.gatedBroadcast(parents,
            "stream_orphans.parents"),
          stream("fk") === parents("fk") &&
          stream("k") === parents("pk"), "left")
        .select(stream("fk"), stream("shard"),
          when($"pk".isNull, 1L).otherwise(0L).as("orphan"),
          stream("sentinel"))
      census(flagged.as[V]).toDF()
    }
    // n_child is NULL for an edge without child rows: the batch SUM
    // over no rows
    flushed.groupBy($"fk")
      .agg(sum(when($"n_child" > 0L, $"n_child")).as("n_child"),
        sum($"n_orphans").as("n_orphans"))
      .select($"fk", $"n_child", $"n_orphans")
  }
}
