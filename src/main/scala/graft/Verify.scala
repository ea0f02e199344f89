package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure contract (VERDICT r6 item 2): a query that throws must NEVER
  * silently vanish from the output set — that made 27 broken operators
  * look like a shorter-but-green round. Instead we:
  *   - write a 1-row marker frame with a `__VERIFY_FAILED__` column at
  *     the query's output path, so any downstream compare sees a loud
  *     schema/row mismatch (red row) rather than a missing key;
  *   - dump verify_failures.json (name → error) and query_keys.json
  *     (the FULL SparkEntry.queries key set) so tools/check.py can
  *     assert nothing was dropped.
  */
object Verify {
  /** Streaming twins dumped (and benched, [[Bench]]) at once. */
  val StreamConcurrency = 4

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated key subset for targeted
    // re-verification while iterating (the driver always runs all)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected[A](m: Map[String, A]): Map[String, A] =
      only.fold(m)(ks => m.filter { case (k, _) => ks(k) })
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the shipped session settings, so the gate checks what runs
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.registerObservationLog(spark)
    new java.io.File(outDir).mkdirs()
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def dumpOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit = {
      // the dump is this query's consuming action — transient
      // checkpoints, broadcasts and scratch copies (kcore rounds,
      // staged copies, sinks) are dead once it finishes; drain them so
      // the 305-query gate session doesn't accumulate them (the drain
      // is THREAD-scoped, so concurrent dumps release only their own)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures.put(name, msg)
        System.err.println(s"[verify] $name FAILED: $msg")
        try {
          import spark.implicits._
          Seq((name, msg.take(500))).toDF("__VERIFY_FAILED__", "error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      } finally graft.operators.Dedup.releaseTransientBlocks()
    }
    // the streaming twins are independent queries on per-call staged
    // sources whose cost is ~80% fixed Structured-Streaming lifecycle
    // (per-trigger planning, state-store commits — latency, not CPU);
    // running K of them concurrently overlaps that fixed cost
    // (VERDICT r10 task 4 — safe since the r10 thread-scoped
    // checkpoint drains: every twin runs in its own cloned session
    // with per-call scratch dirs and globally-unique sink names).
    // Batch queries stay serial: their cost is executor work, which
    // the cores already share within each query.
    val (streamKeys, batchKeys) = selected(SparkEntry.queries).toSeq.sortBy(_._1)
      .partition { case (k, _) => SparkEntry.byName(k).twin }
    batchKeys.foreach { case (name, fn) => dumpOne(name, fn) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(StreamConcurrency)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = streamKeys.map { case (name, fn) =>
        new java.util.concurrent.Callable[Unit] { def call(): Unit = dumpOne(name, fn) }
      }
      pool.invokeAll(tasks.asJava).asScala.foreach(_.get())
    } finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val failed = {
      import scala.jdk.CollectionConverters._
      failures.asScala.toSeq.sortBy(_._1)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(selected(SparkEntry.oracleSql)))
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), obj(failed))
    Files.writeString(Paths.get(s"$outDir/query_keys.json"),
      selected(SparkEntry.queries).keys.map(q).mkString("[", ",", "]"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/${selected(SparkEntry.queries).size} queries FAILED: ${failed.map(_._1).mkString(", ")}")
    else
      System.err.println(s"[verify] all ${selected(SparkEntry.queries).size} queries dumped OK")
    spark.stop()
  }
}
