package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkEntry

/** The session's local filesystem sets permissions and reads link
  * status in-process, with Hadoop's semantics, and forks no process. */
class LocalFsSpec extends graft.SparkSpec {
  private val local = URI.create("file:///")
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(local, conf)
  private def fc = FileContext.getFileContext(local, conf)

  private def withDir(body: java.nio.file.Path => Unit): Unit = {
    val dir = Scratch.tempDir("graft_localfs_")
    try body(dir) finally Scratch.deleteTree(dir)
  }
  private def hpath(p: java.nio.file.Path) = new Path(p.toUri)
  private def mode(p: java.nio.file.Path) =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def expected(octal: String) =
    new FsPermission(octal).applyUMask(FsPermission.getUMask(conf)).toString

  test("files and dirs get the requested mode after the umask, through FileSystem and FileContext") {
    withDir { dir =>
      val (file, sub) = ("640", "750")
      val out = fs.create(hpath(dir.resolve("fs_file")), new FsPermission(file), true,
        4096, 1.toShort, 1L << 20, null)
      out.write(1); out.close()
      assert(fs.mkdirs(hpath(dir.resolve("fs_dir/nested")), new FsPermission(sub)))
      val out2 = fc.create(hpath(dir.resolve("fc_file")), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.perms(new FsPermission(file)))
      out2.write(1); out2.close()
      fc.mkdir(hpath(dir.resolve("fc_dir/nested")), new FsPermission(sub), true)
      Seq("fs_file", "fc_file").foreach(f => assert(mode(dir.resolve(f)) == expected(file), f))
      // as in Hadoop's own class, the mode is the leaf's; parents made
      // on the way get the default directory mode
      Seq("fs_dir/nested", "fc_dir/nested").foreach(d => assert(mode(dir.resolve(d)) == expected(sub), d))
      Seq("fs_dir", "fc_dir").foreach(d => assert(mode(dir.resolve(d)) == expected("777"), d))
      // checksums stay on
      assert(Files.exists(dir.resolve(".fs_file.crc")) && Files.exists(dir.resolve(".fc_file.crc")))
    }
  }

  test("a FileContext rename with OVERWRITE replaces an existing file") {
    withDir { dir =>
      def write(name: String, s: String): Path = {
        val p = hpath(dir.resolve(name))
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(s.getBytes(UTF_8)); out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      assert(!Files.exists(dir.resolve("src")))
      val in = fc.open(dst)
      try assert(new String(in.readAllBytes(), UTF_8) == "new") finally in.close()
    }
  }

  test("a real symlink keeps its link status and target; a missing path is not found") {
    withDir { dir =>
      val target = Files.writeString(dir.resolve("target"), "x")
      val link = Files.createSymbolicLink(dir.resolve("link"), target)
      val qualified = fs.makeQualified(new Path(target.toString))
      // Hadoop's own lookup saw the link only under the scheme-less path
      Seq(new Path(link.toString), hpath(link)).foreach { p =>
        Seq("fc" -> fc.getFileLinkStatus(p), "fs" -> fs.getFileLinkStatus(p)).foreach { case (via, st) =>
          assert(st.isSymlink && st.getSymlink == qualified && st.getLen == 1L, s"$via $p")
        }
      }
      assert(!fs.getFileLinkStatus(hpath(target)).isSymlink)
      Files.delete(target)
      assert(fs.getFileLinkStatus(hpath(link)).getSymlink == qualified, "dangling link")
      val missing = hpath(dir.resolve("missing"))
      intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    }
  }

  test("the session's file: FileSystem and FileContext are graft's") {
    // Hadoop caches the FileSystem per scheme per JVM whatever the conf
    assert(fs.getClass == classOf[ChecksumLocalFs])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFs])
    assert(fc.getDefaultFileSystem.getClass == classOf[ChecksumLocalFsContext])
  }

  test("a streaming twin and a frame call fork no process through Hadoop's Shell") {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try Seq("stream_downsample", "frame_roundtrip").foreach { k =>
      SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save()
    } finally rec.stop()
    val file = Files.createTempFile(Paths.get(System.getProperty("java.io.tmpdir")), "graft_localfs_", ".jfr")
    try {
      rec.dump(file)
      val shell = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala
          .exists(_.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }
      assert(shell.isEmpty, shell.take(3).map(_.getString("command")).mkString("; "))
    } finally { rec.close(); Files.deleteIfExists(file) }
  }
}
