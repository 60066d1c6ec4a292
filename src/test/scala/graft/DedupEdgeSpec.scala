package graft

import graft.ext.{Dedup, Similarity}

/** Degenerate-input hardening for the near-dup family: empty text,
  * whitespace-only, sub-shingle-length docs, unicode — none may crash, and
  * identical degenerate docs must still dedup exactly. */
class DedupEdgeSpec extends SparkSpec {
  import spark.implicits._

  val degenerate = Seq(
    (1L, ""),
    (2L, ""),
    (3L, "   \t\n  "),
    (4L, "one"),
    (5L, "two tokens"),
    (6L, "héllo wörld ünïcode tokens here repeated héllo wörld ünïcode tokens here"),
    (7L, "héllo wörld ünïcode tokens here repeated héllo wörld ünïcode tokens here"),
    (8L, "0123 4567 89 numerics only 0123 4567 89 numerics only extra")
  ).toDF("doc_id", "text")

  test("exact dedup groups empty and unicode duplicates") {
    val out = Dedup.dedupExact(degenerate).collect()
    val byKeep = out.map(r => r.getAs[Long]("keep_doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(byKeep(1L) == 2L) // the two empty docs collapse, lowest id kept
    assert(byKeep(6L) == 2L) // unicode pair collapses
  }

  test("jaccard/minhash skip sub-shingle docs and still pair the long dups") {
    val j = Dedup.dedupNgramJaccard(degenerate, threshold = 0.3).collect()
    assert(j.exists(r => r.getAs[Long]("doc_a") == 6L && r.getAs[Long]("doc_b") == 7L))
    assert(!j.exists(r => Seq(1L, 2L, 3L, 4L, 5L).contains(r.getAs[Long]("doc_a"))))
    val m = Dedup.dedupNearMinhash(degenerate, threshold = 0.3).collect()
    assert(m.exists(r => r.getAs[Long]("doc_a") == 6L && r.getAs[Long]("doc_b") == 7L))
  }

  test("simhash gives empty/whitespace docs the zero signature (hamming 0)") {
    val out = Dedup.dedupSimhash(degenerate, maxHamming = 0).collect()
    // 1,2 (empty) and 3 (whitespace -> zero tokens) share signature 0
    val zeroPairs = out.filter(r => Seq(1L, 2L, 3L).contains(r.getAs[Long]("doc_a")))
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(zeroPairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // identical unicode docs collide too
    assert(out.exists(r => r.getAs[Long]("doc_a") == 6L && r.getAs[Long]("doc_b") == 7L))
  }

  test("incremental dedup: exact beats near, near picks the lowest store id, fresh admits") {
    // even doc_ids = store, odd = new batch
    val long1 = "alpha beta gamma delta epsilon zeta eta theta " * 4
    val corpus = Seq(
      (2L, long1),                     // store: near-dup anchor
      (4L, "totally different content about storage engines and query plans here"),
      (6L, long1),                     // second store copy of the anchor text
      (1L, long1),                     // new: EXACT copy of store text -> exact_dup of 2
      (3L, long1 + "extra trailing tokens appended"), // new: near-dup -> near_dup of 2 (lowest)
      (5L, "completely novel text with words appearing nowhere else at all yes")
    ).toDF("doc_id", "text")
    Memo.releaseAll(spark)
    val out = Dedup.dedupIncremental(corpus, threshold = 0.3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("dup_of")).map(_.toLong))))
      .toMap
    assert(out(1L) == (("exact_dup", Some(2L))), out.toString) // min store id, not 6
    assert(out(3L)._1 == "near_dup" && out(3L)._2 == Some(2L), out.toString)
    assert(out(5L) == (("new", None)), out.toString)
    // degenerate corpora: an all-even corpus has an empty new batch
    Memo.releaseAll(spark)
    assert(Dedup.dedupIncremental(
      Seq((2L, "a b c"), (4L, "d e f")).toDF("doc_id", "text")).count() == 0)
    // an all-odd corpus has an empty store: everything admits as new
    Memo.releaseAll(spark)
    val allNew = Dedup.dedupIncremental(
      Seq((1L, long1), (3L, long1)).toDF("doc_id", "text")).collect()
    assert(allNew.length == 2 && allNew.forall(_.getAs[String]("status") == "new"))
  }

  test("multiprobe LSH survives a corpus smaller than k") {
    val e = Seq(
      (0L, Array(0.5f, -0.2f, 0.1f, 0.4f, -0.3f, 0.2f, 0.1f, 0.2f)),
      (1L, Array(0.4f, -0.1f, 0.2f, 0.5f, -0.2f, 0.1f, 0.3f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.simSearchLshMultiprobe(e, nQueries = 2, k = 5).collect()
    assert(out.nonEmpty && out.forall(_.getAs[Long]("rn") <= 5))
  }
}
