package graft.sources

import java.nio.file.{Files, Path, Paths}

/** RAM-backed scratch space for engine-internal staging.
  *
  * The streaming twins and the wire-format operators write small
  * intermediate files (stream checkpoints and sinks, rolled frame
  * blobs) whose lifetime is one operator call. On this
  * box `/tmp` sits on the root disk, so every micro-batch pays real
  * fsyncs for offsets/commits/state deltas that are deleted seconds
  * later — measured at ~2× the whole staged-stream cost. `/dev/shm`
  * is tmpfs (RAM): same POSIX surface, no disk round-trip.
  *
  * Scale posture: this is driver-local scratch, never data-plane
  * output. On a real cluster the durable checkpoint/sink locations
  * are caller-provided paths on HDFS/S3 (see
  * [[graft.streaming.StreamRelay.startAppendRelay]] which takes them
  * as parameters); only the bench-gate staging that exists to
  * simulate an unbounded source in a bounded test belongs in RAM.
  * Falls back to `java.io.tmpdir` when tmpfs is absent (e.g. a
  * stripped container), so nothing here is load-bearing for
  * correctness. Override with GRAFT_SCRATCH_DIR.
  */
object Scratch {
  val root: Path = {
    val want = sys.env.get("GRAFT_SCRATCH_DIR").map(Paths.get(_))
      .getOrElse(Paths.get("/dev/shm"))
    if (Files.isDirectory(want) && Files.isWritable(want)) want
    else Paths.get(System.getProperty("java.io.tmpdir"))
  }

  /** Keep at least this much tmpfs headroom: /dev/shm is RAM
    * (typically capped at half of it), shared with the OS — filling
    * it fails writes far from the cause and can pressure the very
    * heap the engine runs on (ADVICE r9). 4 GiB covers the largest
    * per-call staging (a bucketed sf0.1 table copy) with margin. */
  private val MinFreeBytes = 4L * 1024 * 1024 * 1024

  /** Fresh temp directory under the RAM root, falling back to
    * `java.io.tmpdir` (disk) when tmpfs headroom runs low — slower
    * is better than a mid-run ENOSPC. Caller owns deletion. */
  def tempDir(prefix: String): Path = {
    val disk = Paths.get(System.getProperty("java.io.tmpdir"))
    val base =
      if (root == disk) root
      else try {
        if (Files.getFileStore(root).getUsableSpace >= MinFreeBytes) root
        else {
          System.err.println(s"[graft-scratch] $root below ${MinFreeBytes >> 30} GiB free — " +
            s"falling back to $disk for $prefix")
          disk
        }
      } catch { case _: java.io.IOException => disk }
    Files.createTempDirectory(base, prefix)
  }

  /** Delete each root's whole tree (missing roots are skipped), and
    * drop it from the roots awaiting deletion at JVM exit. */
  private[graft] def deleteTree(roots: Path*): Unit = {
    import scala.jdk.CollectionConverters._
    roots.filter(Files.exists(_)).foreach { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
    roots.foreach(exitCleanup.remove)
  }

  /** Roots awaiting deletion at JVM exit; ONE hook drains them all (a
    * hook per call would leave a thread per call in a long-lived
    * application). [[deleteTree]] removes what it deletes, so the set
    * holds only roots that still exist. */
  private[sources] val exitCleanup = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private lazy val exitHookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import scala.jdk.CollectionConverters._
      exitCleanup.asScala.toSeq.foreach(d =>
        try deleteTree(d) catch { case _: Throwable => () })
    }))
    true
  }

  /** Delete `p` at JVM exit: for directories a returned lazy scan
    * still reads after the call that made them returns. */
  private[graft] def deleteOnExit(p: Path): Unit = {
    exitHookInstalled
    exitCleanup.add(p)
  }
}
