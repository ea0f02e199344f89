package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** Closed-loop driver for one benchmark run.
  *
  * One driver thread calls `SparkEntry.queries(key)(spark, dir)` and
  * then a noop write, for every key of the workload in a fixed order;
  * one such pass is a lap, and every lap reads its own input
  * directory, so no per-directory memo can turn a repeat into a hit.
  *
  * Usage: Harness <run.properties>, with the keys
  *   keys        comma-separated operator keys, in call order
  *   warm_dirs   input directories of the untimed warm-up laps; the
  *               first warm-up lap writes every key's output to
  *               out/check/<key> as parquet, for the oracle diff
  *   timed_dirs  input directories of the timed laps (one per lap)
  *   seconds     length of the timed window
  *   trace       1: alternate untraced and traced laps (see [[Tracer]])
  *   cpus        local[cpus] task threads
  *   out         directory for results.json, oracle.json, trace_raw.json
  *               and check/
  *
  * All timing arithmetic beyond raw per-call walls (medians, tails,
  * self-time tables) is done by perfbench/run.py from results.json.
  */
object Harness {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  final case class Call(lap: Int, key: String, seconds: Double, ok: Boolean, traced: Boolean)
  final case class Lap(lap: Int, wall: Double, cpu: Double, jitCpu: Double, traced: Boolean)

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    def list(k: String): Seq[String] = props.getProperty(k, "").split(",").toSeq.filter(_.nonEmpty)
    val keys = list("keys")
    val warmDirs = list("warm_dirs")
    val timedDirs = list("timed_dirs")
    val seconds = props.getProperty("seconds").toDouble
    val trace = props.getProperty("trace", "0") == "1"
    val cpus = props.getProperty("cpus").toInt
    val out = Paths.get(props.getProperty("out"))
    Files.createDirectories(out)
    val unknown = keys.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(",")}")

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.registerObservationLog(spark)
    val sessionBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    spark.read.parquet(s"${warmDirs.head}/lineitem.parquet").count()
    val firstScan = (System.nanoTime() - t1) / 1e9

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val calls = Seq.newBuilder[Call]
    val laps = Seq.newBuilder[Lap]

    val checks = mutable.LinkedHashMap.empty[String, String]

    def runLap(lap: Int, dir: String, timed: Boolean, traced: Boolean, check: Boolean = false): Unit = {
      tracer.foreach(t => if (traced) t.attach())
      val c0 = os.getProcessCpuTime
      val j0 = jitCpuSeconds()
      val l0 = System.nanoTime()
      keys.foreach { key =>
        val id = s"$lap:$key"
        spark.sparkContext.setLocalProperty(Tracer.CallProperty, id)
        if (traced) tracer.foreach(_.begin())
        val s0 = System.nanoTime()
        var built = s0
        val ok =
          try {
            val df = graft.SparkEntry.queries(key)(spark, dir)
            built = System.nanoTime()
            if (check) df.write.mode("overwrite").parquet(out.resolve("check").resolve(key).toString)
            else df.write.format("noop").mode("overwrite").save()
            if (check) checks(key) = "ok"
            true
          } catch {
            case e: Throwable =>
              val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
              System.err.println(s"[perfbench] $key failed on lap $lap: $msg")
              if (check) checks(key) = s"error: $msg"
              false
          } finally graft.operators.Dedup.releaseTransientBlocks()
        val s1 = System.nanoTime()
        spark.sparkContext.setLocalProperty(Tracer.CallProperty, null)
        if (timed) calls += Call(lap, key, (s1 - s0) / 1e9, ok, traced)
        if (traced) tracer.foreach(_.call(id, key, lap, s0, if (ok) built else s1, s1))
      }
      val wall = (System.nanoTime() - l0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val jit = jitCpuSeconds() - j0
      graft.operators.Dedup.clearLabelCache()
      if (timed) laps += Lap(lap, wall, cpu, jit, traced)
      tracer.foreach(t => if (traced) t.detach())
    }

    warmDirs.zipWithIndex.foreach { case (d, i) => runLap(-1 - i, d, timed = false, traced = false, check = i == 0) }
    val setup = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

    // The window closes at the end of the lap that crosses `seconds`,
    // after at least two laps (four in a traced run, which alternates
    // untraced and traced laps so both see the same drift).
    val w0 = System.nanoTime()
    var lap = 0
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (lap < timedDirs.length && (elapsed < seconds || lap < (if (trace) 4 else 2))) {
      runLap(lap, timedDirs(lap), timed = true, traced = trace && lap % 2 == 1)
      lap += 1
    }
    val peakRssMb = vmHwmMb()

    val oracle = keys.map(k => k -> graft.SparkEntry.oracleSql.getOrElse(k, ""))
    Json.write(out.resolve("oracle.json"), Json.obj(oracle.map { case (k, v) => k -> Json.str(v) }))
    tracer.foreach(_.write(out.resolve("trace_raw.json")))
    Json.write(out.resolve("results.json"), Json.obj(Seq(
      "setup_s" -> Json.num(setup),
      "session_build_s" -> Json.num(sessionBuild),
      "first_scan_s" -> Json.num(firstScan),
      "cpus" -> Json.num(cpus),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "calls" -> Json.arr(calls.result().map(c => Json.obj(Seq(
        "lap" -> Json.num(c.lap), "key" -> Json.str(c.key), "s" -> Json.num(c.seconds),
        "ok" -> Json.bool(c.ok), "traced" -> Json.bool(c.traced))))),
      "laps" -> Json.arr(laps.result().map(l => Json.obj(Seq(
        "lap" -> Json.num(l.lap), "wall" -> Json.num(l.wall), "cpu" -> Json.num(l.cpu),
        "jit_cpu" -> Json.num(l.jitCpu),
        "traced" -> Json.bool(l.traced))))),
      "checks" -> Json.obj(checks.toSeq.map { case (k, v) => k -> Json.str(v) }),
    )))
    spark.stop()
  }

  /** CPU seconds of the JIT compiler threads so far, from /proc (the
    * threads are native, so the JMX thread bean does not list them). */
  private def jitCpuSeconds(): Double = {
    val tasks = new java.io.File("/proc/self/task").listFiles()
    if (tasks == null) return 0.0
    tasks.toSeq.map { t =>
      try {
        val comm = Files.readString(t.toPath.resolve("comm")).trim
        if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
        else {
          // fields after the parenthesised name: state is field 3, utime 14, stime 15
          val stat = Files.readString(t.toPath.resolve("stat"))
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          f(11).toLong + f(12).toLong
        }
      } catch { case _: java.io.IOException => 0L }
    }.sum / 100.0
  }

  private def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer: the harness emits plain numbers, strings and
  * nested objects only, and stays free of any JSON library choice. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def write(p: Path, s: String): Unit = Files.writeString(p, s + "\n")
}
