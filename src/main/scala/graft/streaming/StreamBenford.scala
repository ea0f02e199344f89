package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of [[graft.operators.Quality.benford]] — the
  * fraud/corruption digit audit maintained LIVE over the order feed
  * (the one twin NOT on the events table — the discipline ports to
  * any stream): state is at most NINE counters, one per leading
  * digit, folded order-free; digits flush at the audit barrier
  * (shares are population fractions, final only at the snapshot)
  * and the Benford expectation/deviation assembly is nine rows of
  * work over the sink ([[graft.operators.Quality.benfordAssembly]],
  * the SAME assembly the batch operator uses, so the twin shares
  * dq_benford's oracle). A digit that never occurred emits nothing,
  * exactly the batch groupBy.
  *
  * Gated property: counts split across the micro-batch cut must
  * accumulate into one census row per digit.
  */
object StreamBenford {

  case class Dg(digit: Int, sentinel: Boolean)
  case class Cell(digit: Int, n_rows: Long)

  /** The stateful core: count per digit; sentinel flushes digits
    * that actually occurred. */
  def census(ds: Dataset[Dg]): Dataset[Cell] =
    Staged.atBarrier(ds)(_.digit, _.sentinel)(0L)((n, _) => n + 1L) { (digit, n) =>
      if (n > 0L) Some(Cell(digit, n)) else None
    }

  def streamedBenford(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val digits = graft.sources.Tables.lineitem(spark, dir)
      .select($"l_orderkey",
        substring(graft.operators.dec($"l_extendedprice").cast("string"), 1, 1)
          .cast("int").as("digit"))
    // the order feed staged at the median order key — a digit's
    // count must accumulate across the cut
    val cells = Staged.run(spark, Staged.withBarrier[Dg](Staged.timeCut(digits, $"l_orderkey"),
        Seq.range(1, 10).toDF("digit"))) { stream =>
      census(stream.as[Dg]).toDF()
    }
    graft.operators.Quality.benfordAssembly(cells
      .select($"digit", $"n_rows"))
  }
}
