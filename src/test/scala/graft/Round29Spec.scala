package graft

import org.apache.spark.sql.functions._

/** Round 11 continuation (r29 spec file): the 100x-census fixes —
  * duplication-invariant df caps, profile-collapsed BM25/ngram, and
  * the adaptive OR-construction (tables + probe depth growing with
  * the signature width). */
class Round29Spec extends SparkSpec {

  test("adaptive LSH rule: table count and probe masks grow with planes") {
    import graft.operators.Similarity
    assert(Similarity.adaptiveTables(4) == 4, "test-SF width keeps L=4")
    assert(Similarity.adaptiveTables(7) == 7 && Similarity.adaptiveTables(10) == 10)
    // below 6 planes: self + p single flips (the r10 semantics)
    val m4 = Similarity.probeMasks(4)
    assert(m4 == Seq(0L, 1L, 2L, 4L, 8L), s"p=4 must stay Hamming<=1: $m4")
    // from 6 planes: + p(p-1)/2 pair flips, all distinct, all within width
    val m7 = Similarity.probeMasks(7)
    assert(m7.length == 1 + 7 + 21, s"p=7 must probe Hamming<=2: ${m7.length}")
    assert(m7.distinct.length == m7.length, "masks must be distinct")
    assert(m7.forall(m => m >= 0L && m < (1L << 7)), "masks inside the signature")
    assert(m7.count(java.lang.Long.bitCount(_) == 2) == 21)
  }

  test("dedup_ngram on a duplicated corpus: clone pairs + cross-family near-dups") {
    import spark.implicits._
    // 4 distinct texts x 3 verbatim clones; texts 0/1 are a designed
    // near-dup pair, texts 2/3 unrelated. A doc-counted df cap of 2
    // would drop EVERY gram (each sits in 3 clones); the
    // distinct-text cap keeps them all (df <= 2 distinct texts).
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy cat tonight",
      "completely unrelated text about spark query engines",
      "another different subject entirely with new words")
    val docs = for {
      (t, fam) <- texts.zipWithIndex
      r <- 0 until 3
    } yield ((fam * 3 + r).toLong, t)
    val dir = scratchDir("graft_t29_ngram")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = graft.operators.Dedup.ngram(spark, dir, maxBucket = 2).collect()
    assert(rows.nonEmpty, "duplicated corpus must still produce pairs")
    val ones = rows.filter(_.getAs[Double]("jaccard") == 1.0d)
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // intra-family clone pairs surface at jaccard 1.0 (all grams kept)
    assert(ones.contains((0L, 1L)) && ones.contains((6L, 7L)),
      s"clone pairs missing from $ones")
    // the designed cross-family near-dup pair (fam 0 x fam 1) ranks
    // inside the top-20 with 0 < jaccard < 1
    val cross = rows.filter { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      a / 3 == 0 && b / 3 == 1
    }
    assert(cross.nonEmpty, s"near-dup family pair missing: ${rows.toSeq}")
    cross.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.5 && j < 1.0, s"near-dup jaccard out of range: $j")
    }
  }

  test("decontaminate_winnow flags eval clones past any doc-count (the 100x cliff)") {
    import spark.implicits._
    // one eval doc whose text recurs in 120 train docs: a doc-counted
    // df cap of 100 drops every fingerprint (df = 121) and reports
    // ZERO contamination; the distinct-text cap (1 text) keeps them
    val evalText = "this benchmark passage is long enough to winnow into fingerprints"
    val docs = (0L, evalText) +: (1 to 120).map(i => (49L + i, evalText))
    val dir = scratchDir("graft_t29_winnow")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.decontaminateWinnow(spark, dir)
      .filter($"contaminated").count()
    assert(got == 120L, s"all 120 train clones must be flagged, got $got")
  }

  test("bm25 profile collapse: clone docs score and rank identically") {
    import spark.implicits._
    // doc 0 is a query (id % 50 == 0); docs 1 and 2 are verbatim
    // clones of one text, docs 3/4 distinct — the clones must appear
    // with EQUAL scores and id-ascending ranks
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "alpha beta gamma epsilon"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "zeta eta theta iota"),
      (4L, "alpha kappa lambda mu"))
    val dir = scratchDir("graft_t29_bm25")
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextAnalysis.bm25(spark, dir)
      .filter($"query_doc_id" === 0L).collect()
      .sortBy(_.getAs[Long]("rnk"))
    val byDoc = got.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("score_micro")).toMap
    assert(byDoc.contains(1L) && byDoc.contains(2L), s"clones missing: $byDoc")
    assert(byDoc(1L) == byDoc(2L), "verbatim clones must score identically")
    val r1 = got.indexWhere(_.getAs[Long]("doc_id") == 1L)
    val r2 = got.indexWhere(_.getAs[Long]("doc_id") == 2L)
    assert(r2 == r1 + 1, "equal scores must rank id-ascending adjacently")
    assert(!byDoc.contains(0L), "self must stay excluded")
  }
}
