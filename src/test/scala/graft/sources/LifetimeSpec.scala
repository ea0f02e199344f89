package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.Dedup

/** Nothing an operator call derives outlives the call: a directory
  * rewritten in place is read afresh by the next call, and the scratch
  * directories a call leaves behind go at the calling thread's drain,
  * out of the JVM-exit registry too. */
class LifetimeSpec extends graft.SparkSpec {

  private def rows(k: String, dir: String): Seq[String] =
    try SparkEntry.queries(k)(spark, dir).collect().map(_.mkString("|")).toSeq.sorted
    finally Dedup.releaseTransientBlocks()

  test("a key run again on a corpus rewritten in place returns the fresh answer") {
    val keys = Seq("q_partition_prune", "q_bucket_join", "dedup_clusters")
    val rewrite = Map[String, Column](
      "events" -> (col("event_id") % 2 === 0),
      "customer" -> (col("c_custkey") % 2 === 0),
      "orders" -> (col("o_orderkey") % 2 === 0),
      "documents" -> (col("doc_id") % 3 =!= 0))
    // events hold TIMESTAMP(NANOS): read them as raw longs, as Tables.events does
    Tables.events(spark, sf)
    def write(dir: String, keep: String => Column): Unit = rewrite.keys.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").filter(keep(t))
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val dir = scratchDir("graft_rewritten_")
    write(dir, _ => lit(true))
    val before = keys.map(k => k -> rows(k, dir)).toMap
    write(dir, rewrite)
    val fresh = scratchDir("graft_fresh_")
    write(fresh, rewrite)
    val stale = keys.filter { k =>
      val want = rows(k, fresh)
      assert(want != before(k), s"the rewrite does not change $k")
      rows(k, dir) != want
    }
    assert(stale.isEmpty, s"served rows of the corpus as it was before the rewrite: $stale")
  }

  test("deleteTree drops the roots it deletes from the exit registry") {
    val (a, b) = (Scratch.tempDir("graft_exit_a_"), Scratch.tempDir("graft_exit_b_"))
    Files.createDirectories(a.resolve("x"))
    Files.writeString(a.resolve("x/f"), "f")
    Seq(a, b).foreach(Scratch.deleteOnExit)
    assert(Scratch.exitCleanup.contains(a) && Scratch.exitCleanup.contains(b))
    Scratch.deleteTree(a)
    assert(!Files.exists(a) && !Scratch.exitCleanup.contains(a))
    assert(Files.isDirectory(b) && Scratch.exitCleanup.contains(b))
    Scratch.deleteTree(b)
    assert(!Scratch.exitCleanup.contains(b))
    // a twin call registers its sink; the drain deletes it and leaves
    // the registry as it was
    val n = Scratch.exitCleanup.size
    assert(SparkEntry.queries("stream_downsample")(spark, sf).count() > 0)
    assert(Scratch.exitCleanup.size > n)
    Dedup.releaseTransientBlocks()
    assert(Scratch.exitCleanup.size == n)
  }
}
