package graft

import graft.ext.Similarity

/** r13 (VERDICT r12 #3): the LSH escapes' recall queries, re-derived from
  * first principles — the composition must equal a hand-rolled overlap of
  * the two declared rankings it composes, the pair form must certify the
  * false-negative-only miss direction (n_overlap = n_lsh), and the new
  * dims >= bits assert (r12 ADVICE) must fail loudly where planes would
  * silently split nothing. */
class R13RecallSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("sim_knn_lsh_recall equals the hand-rolled overlap of the two declared rankings") {
    val exact = Similarity.simKnnJoin(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.simKnnJoinLsh(emb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id"))).toSet
    val byVec = exact.groupBy(_._1)
    val out = Similarity.simKnnLshRecall(emb).collect()
    // one row per vector that has an exact ranking; k_exact = k everywhere
    // (the fixture has n >> k)
    assert(out.length == byVec.size)
    out.foreach { r =>
      val v = r.getAs[Long]("vec_id")
      val kExact = byVec(v).size
      val nOv = byVec(v).count(lsh.contains)
      assert(r.getAs[Long]("k_exact") == kExact.toLong, s"vec $v k_exact")
      assert(r.getAs[Long]("n_overlap") == nOv.toLong, s"vec $v n_overlap")
      val rec = r.getAs[Double]("recall")
      assert(rec == nOv.toDouble / kExact && rec >= 0.0 && rec <= 1.0)
    }
    // the fixture's recall must be non-trivial in BOTH directions: the
    // buckets recover SOME exact neighbors and hyperplane splits lose
    // others — otherwise the query measures nothing
    val totOv = out.map(_.getAs[Long]("n_overlap")).sum
    val totEx = out.map(_.getAs[Long]("k_exact")).sum
    assert(totOv > 0L, "LSH recovered no exact neighbors at all")
    assert(totOv < totEx, "LSH recovered everything — fixture can't measure loss")
  }

  test("dedup_embedding_lsh_recall: false-negative-only miss direction, exact arithmetic") {
    val nExact = Similarity.dedupEmbeddingCosine(emb).count()
    val nLsh = Similarity.dedupEmbeddingCosineLsh(emb).count()
    val r = Similarity.dedupEmbeddingLshRecall(emb).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("bits") == 6L) // fixture scale stays at the floor
    assert(row.getAs[Long]("n_exact") == nExact)
    assert(row.getAs[Long]("n_lsh") == nLsh)
    // the escape misses pairs, never invents them: every LSH pair is an
    // exact pair (shared threshold, exact cosine inside the bucket)
    assert(row.getAs[Long]("n_overlap") == nLsh)
    assert(nLsh <= nExact)
    assert(row.getAs[Double]("pair_recall") == nLsh.toDouble / nExact)
  }

  test("derived bits exceeding dims fail loudly; pinned bits <= dims run") {
    // 4-dim vectors: the derived floor (6) exceeds dims, so planes 5..6
    // would read null -> '0' and split nothing — the silent degradation
    // the assert exists to catch (both engines agree, so no oracle can)
    val tiny = (0 until 32).map { id =>
      (id.toLong, Array.tabulate(4)(d => if (((id >> d) & 1) == 1) 0.5 else -0.5))
    }.toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.dedupEmbeddingCosineLsh(tiny).collect()
    }
    assert(e1.getMessage.contains("dimensionality"), e1.getMessage)
    assert(e1.getMessage.contains("dedup_embedding_cosine_lsh"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.simKnnJoinLsh(tiny).collect()
    }
    assert(e2.getMessage.contains("sim_knn_join_lsh"), e2.getMessage)
    // explicitly pinned width within dims: runs, and the 4 sign planes
    // split the 16 sign patterns into singleton... no: 32 vectors over 16
    // patterns -> 2 per bucket -> exactly one ordered pair each
    val ok = Similarity.dedupEmbeddingCosineLsh(tiny, threshold = -1.0, bits = 4)
    assert(ok.count() == 16L)
  }

  test("clearSharedCache releases the tracked session-day persist (r12 ADVICE)") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    // route through the auto form, which persists the session-day frame
    graft.ext.Escapes.intervalOverlap(ev).write.format("noop")
      .mode("overwrite").save()
    // the materialization is live (canonical-plan lookup finds it) ...
    val sd = ext.Sessions.sessionDayFrame(ev, 360)
    assert(sd.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "expected the session-day frame to be cached after intervalOverlap")
    Memo.releaseAll(spark)
    // ... and the documented stale-corpus remedy releases it — a corpus
    // rewrite cannot be served a stale materialization afterwards
    assert(ext.Sessions.sessionDayFrame(ev, 360).storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "session-day persist survived Memo.releaseAll")
  }
}
