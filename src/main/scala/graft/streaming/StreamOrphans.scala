package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.orphans]] — the
  * referential-integrity audit run at the ingest edge, the way FK
  * monitors actually deploy: child rows arrive as a stream, the
  * parent key sets are STATIC dimensions, and the orphan verdict is
  * a stream-static left join — evaluated per micro-batch by Spark
  * itself, before the stateful shuffle. Verdicts then accumulate per
  * FK edge in a streaming aggregation (two longs per edge). All
  * three FK edges (lineitem→orders, orders→customer,
  * events→customer) ride ONE staged stream: child rows tag their
  * edge, the parent union joins on (fk, key). Every edge reports,
  * child rows or not: the edge list left-joins the final table, and
  * an edge without child rows reports a NULL n_child (the batch SUM
  * over none) and 0 orphans. Shares dq_orphans' oracle.
  *
  * Gated property: child rows split across the micro-batch cut
  * accumulate into the same edge counters.
  */
object StreamOrphans {

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
    // static parent key sets, unioned and tagged with their edge
    val parents =
      t.orders(spark, dir).select(lit("lineitem->orders").as("fk"), $"o_orderkey".as("pk"))
        .unionByName(t.customer(spark, dir).select(lit("orders->customer").as("fk"),
          $"c_custkey".as("pk")))
        .unionByName(t.customer(spark, dir).select(lit("events->customer").as("fk"),
          $"c_custkey".as("pk")))
        .distinct()
    val edges = Staged.aggregate(spark, Staged.timeCut(children, $"ord")) { stream =>
      // stream-static FK probe per micro-batch, BEFORE the stateful
      // shuffle. The parent key sets scale with the DIMENSION tables
      // (orders keys at 100 TB are nobody's broadcast), so the hint
      // is size-gated: broadcast under the session threshold,
      // shuffled join above
      stream
        .join(graft.operators.JoinGate.gatedBroadcast(parents, "stream_orphans.parents"),
          stream("fk") === parents("fk") && stream("k") === parents("pk"), "left")
        .groupBy(stream("fk"))
        .agg(count(lit(1)).as("n_child"),
          sum(when($"pk".isNull, 1L).otherwise(0L)).as("n_orphans"))
    }
    Seq("lineitem->orders", "orders->customer", "events->customer").toDF("fk")
      .join(edges, Seq("fk"), "left")
      .select($"fk", $"n_child", coalesce($"n_orphans", lit(0L)).as("n_orphans"))
  }
}
