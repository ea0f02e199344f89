package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}

/** The one ad-hoc tool entry point:
  * `runMain graft.tools.Run <mode> <key,key…> [sfDir]`, with `sfDir`
  * defaulting to SPARK_GRAFT_SF_DIR. Every key of one call shares one
  * session, built by [[GraftSession.builder]] on SPARK_GRAFT_CPUS
  * cores (default 4), so the tool runs, times and explains the plans
  * graft runs. Key names are trimmed, so a stray space or a trailing
  * comma is not a lookup miss. Modes:
  *  - `run`: each key's row count.
  *  - `time`: each key timed by [[Bench.timeOnce]] (the noop action,
  *    the label-cache clear and a GC per rep), SPARK_GRAFT_BENCH_REPS
  *    reps, and their median.
  *  - `recall`: an eval-harness key's micro recall (sum found / sum
  *    true) and per-query mean.
  *  - `explain`: each key's formatted physical plan; an unknown or
  *    failing key is reported and the sweep goes on.
  *  - `sql`: the second argument is one SQL statement over the corpus
  *    tables, mounted as temp views; prints up to 20 rows.
  */
object Run {
  private val usage = "usage: Run run|time|recall|explain|sql <key,key…|statement> [sfDir]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(sys.error(usage))
    val names = args(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the measurement tools must hear the stop-band audit too — a cap
    // engaging during a census is the loudest place to say so
    GraftSession.registerObservationLog(spark)
    try args(0) match {
      case "run" => names.foreach { n =>
        println(s"[run] $n rows=${SparkEntry.queries(n)(spark, sfDir).count()}")
      }
      case "time" =>
        spark.read.parquet(s"$sfDir/lineitem.parquet").count()
        names.foreach { n =>
          val times = (1 to Bench.reps).flatMap { rep =>
            val t = Bench.timeOnce(spark, sfDir, SparkEntry.queries(n))
            t.foreach(s => println(f"[time] $n rep$rep $s%.3f s"))
            t
          }
          if (times.length == Bench.reps) println(f"[time] $n median ${Bench.median(times)}%.3f s")
          else println(s"[time] $n failed")
        }
      case "recall" => names.foreach(recall(spark, sfDir, _))
      case "explain" => names.foreach { n =>
        println(s"===== $n =====")
        try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        catch {
          case t: Throwable => println(s"[explain] $n failed: ${t.getClass.getName}: ${t.getMessage}")
        }
      }
      case "sql" =>
        Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings").foreach { t =>
          spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
        }
        graft.sources.Tables.events(spark, sfDir).createOrReplaceTempView("events")
        spark.sql(args(1)).show(20, truncate = false)
      case _ => sys.error(usage)
    } finally spark.stop()
  }

  private def recall(spark: SparkSession, sfDir: String, name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    val cols = df.columns.toSet
    val tf =
      if (cols("n_true")) Some(("n_true", "n_found"))
      else if (cols("n_true_pairs")) Some(("n_true_pairs", "n_found_pairs"))
      else None
    tf match {
      case None => println(s"[recall] $name has no n_true column")
      case Some((t, f)) =>
        val row = df.agg(sum(col(t)).as("t"), sum(col(f)).as("f"),
          avg(col("recall")).as("mean"), count(lit(1)).as("q")).head()
        val (tt, ff) = (row.getLong(0), row.getLong(1))
        println(f"[recall] $name micro=${ff.toDouble / tt}%.4f " +
          f"($ff/$tt) mean=${row.getDouble(2)}%.4f queries=${row.getLong(3)}")
    }
  }
}
