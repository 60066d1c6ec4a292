package graft

import graft.ext.{Dedup, EscapeAudit, Sessions}
import graft.ops.RankStats

/** r13 (VERDICT r12 #6): the escape-cascade audit queries re-derived from
  * first principles — each composition must equal a hand-rolled overlap /
  * difference of the two declared forms it composes, and each family's
  * certified miss direction (capped/banded pairs never invented, sustained
  * pairs a subset, second-bucket census never denser) must hold on live
  * data, not just in the scaladoc. */
class R13EscapeAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val ev = Tables.events(spark, sf)
  private lazy val docs = Tables.documents(spark, sf)

  test("stat_hodges_lehmann_err equals the hand-computed exact/coarse difference") {
    val exact = RankStats.statHodgesLehmann(ev).collect()(0).getAs[Long]("hl_cents")
    val coarse = RankStats.statHodgesLehmann(ev, unitCents = 10L)
      .collect()(0).getAs[Long]("hl_cents")
    val out = EscapeAudit.statHodgesLehmannErr(ev).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("hl_exact_cents") == exact)
    assert(r.getAs[Long]("hl_coarse_cents") == coarse)
    assert(r.getAs[Long]("err_cents") == coarse - exact)
    assert(r.getAs[Long]("abs_err_cents") == math.abs(coarse - exact))
    assert(r.getAs[Long]("unit_cents") == 10L)
    // the escape's stated resolution: quantizing every value by < u moves
    // each pairwise difference by < u on either side, so the selected
    // median-difference (rescaled to a multiple of u) stays within 2u
    assert(math.abs(coarse - exact) < 20L,
      s"decicent HL drifted ${coarse - exact} cents — beyond the unit's resolution claim")
  }

  test("graph_link_jaccard_recall equals the hand-rolled top-k overlap (cap forced to bite)") {
    // maxWitnessDeg = 2 on the live fixture guarantees the cap changes
    // witness counts (the 64 default does not bite at this SF — covered
    // by the consistency assertions below)
    val exact = Sessions.graphLinkJaccard(ev).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("common")).toMap
    val capped = Sessions.graphLinkJaccard(ev, maxWitnessDeg = 2L).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Long]("common")).toMap
    val both = exact.keySet.intersect(capped.keySet)
    val out = EscapeAudit.graphLinkJaccardRecall(ev, maxWitnessDeg = 2L).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("k_exact") == exact.size.toLong)
    assert(r.getAs[Long]("k_capped") == capped.size.toLong)
    assert(r.getAs[Long]("n_overlap") == both.size.toLong)
    val deficit = both.toSeq.map(p => exact(p) - capped(p)).sum
    assert(r.getAs[Long]("witness_deficit") == deficit)
    // capped witnesses are a SUBSET per pair, so the deficit is >= 0
    assert(both.forall(p => capped(p) <= exact(p)))
    assert(r.getAs[Double]("topk_recall") == both.size.toDouble / exact.size)
    // a cap of 2 on a real graph must visibly change the report: either
    // the top-k lists differ (pairs whose witnesses were all high-degree
    // dropped out / re-ranked) or some shared pair lost witnesses. On this
    // fixture the cap re-ranks rather than deficits (the pairs surviving
    // in BOTH lists are exactly those whose witnesses are low-degree).
    assert(both.size < exact.size || deficit > 0L,
      "cap=2 changed nothing — fixture too sparse to measure")
  }

  test("graph_census_bucket_shift equals the two censuses side by side") {
    val m = Sessions.graphTriangles(ev, "minute").collect()(0)
    val s = Sessions.graphTriangles(ev, "second").collect()(0)
    val out = EscapeAudit.graphCensusBucketShift(ev).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("edges_minute") == m.getAs[Long]("n_edges"))
    assert(r.getAs[Long]("edges_second") == s.getAs[Long]("n_edges"))
    assert(r.getAs[Long]("tri_minute") == m.getAs[Long]("n_triangles"))
    assert(r.getAs[Long]("tri_second") == s.getAs[Long]("n_triangles"))
    assert(r.getAs[Long]("wedges_minute") == m.getAs[Long]("n_wedges"))
    assert(r.getAs[Long]("wedges_second") == s.getAs[Long]("n_wedges"))
    assert(r.getAs[Long]("wedge_shed") ==
      m.getAs[Long]("n_wedges") - s.getAs[Long]("n_wedges"))
    assert(r.getAs[Double]("coeff_minute") == m.getAs[Double]("clustering_coeff"))
    assert(r.getAs[Double]("coeff_second") == s.getAs[Double]("clustering_coeff"))
    // second-bucket co-presence is strictly stricter: the fine census can
    // never be DENSER than the minute one
    assert(r.getAs[Long]("edges_second") <= r.getAs[Long]("edges_minute"))
    assert(r.getAs[Long]("wedge_shed") >= 0L)
    assert(r.getAs[Long]("wedge_shed") > 0L,
      "second buckets shed no wedges — fixture cannot measure the knob")
  }

  test("join_interval_overlap_shed equals the hand-counted exact/sustained rollups") {
    val exact = Sessions.joinIntervalOverlap(ev).collect()
    val sust = Sessions.joinIntervalOverlapMin(ev).collect()
    val out = EscapeAudit.joinIntervalOverlapShed(ev).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_pairs_exact") == exact.length.toLong)
    assert(r.getAs[Long]("n_pairs_sustained") == sust.length.toLong)
    assert(r.getAs[Long]("n_pairs_shed") == (exact.length - sust.length).toLong)
    assert(r.getAs[Long]("episodes_exact") ==
      exact.map(_.getAs[Long]("n_concurrent")).sum)
    assert(r.getAs[Long]("episodes_sustained") ==
      sust.map(_.getAs[Long]("n_concurrent")).sum)
    assert(r.getAs[Double]("retained_frac") ==
      sust.length.toDouble / exact.length)
    // sustained pairs are a SUBSET of overlapping pairs (same sweep, one
    // extra episode filter)
    val exSet = exact.map(x => (x.getAs[Long]("user_a"), x.getAs[Long]("user_b"))).toSet
    assert(sust.forall(x => exSet((x.getAs[Long]("user_a"), x.getAs[Long]("user_b")))))
    // the >= 4h floor must shed SOMETHING on the live fixture (the sf0.1
    // duration census measured x5.3) or the audit measures nothing
    assert(sust.length < exact.length)
  }

  test("dedup_ngram_capped_recall: hand-rolled pair sets, certified subset direction") {
    // cappedDf = 2 forces the cap to bite on the live fixture (64 does
    // not at this SF); the subset direction must hold at ANY cap because
    // capping only shrinks c while na/nb stay full set sizes
    val exact = Dedup.dedupNgramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val capped = Dedup.dedupNgramJaccard(docs, maxDf = 2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val out = EscapeAudit.dedupNgramCappedRecall(docs, cappedDf = 2).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_exact") == exact.size.toLong)
    assert(r.getAs[Long]("n_capped") == capped.size.toLong)
    assert(r.getAs[Long]("n_overlap") == exact.intersect(capped).size.toLong)
    assert(r.getAs[Long]("n_capped_only") == 0L, "the cap INVENTED pairs")
    assert(capped.subsetOf(exact))
    assert(r.getAs[Double]("pair_recall") ==
      exact.intersect(capped).size.toDouble / exact.size)
    assert(capped.size < exact.size,
      "cap=2 lost no pairs — fixture cannot measure the trade")
  }

  test("dedup_minhash_recall: hand-rolled pair sets vs the banded pipeline") {
    val exact = Dedup.dedupNgramJaccard(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val mh = Dedup.dedupNearMinhash(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val out = EscapeAudit.dedupMinhashRecall(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("n_exact") == exact.size.toLong)
    assert(r.getAs[Long]("n_minhash") == mh.size.toLong)
    assert(r.getAs[Long]("n_overlap") == exact.intersect(mh).size.toLong)
    assert(r.getAs[Long]("n_minhash_only") == mh.diff(exact).size.toLong)
    // at this SF no df exceeds the 1000 cap, so the exact side sees every
    // shared shingle and banding can only MISS — the seam column is 0
    assert(r.getAs[Long]("n_minhash_only") == 0L)
    assert(r.getAs[Double]("pair_recall") ==
      exact.intersect(mh).size.toDouble / exact.size)
    assert(r.getAs[Long]("n_overlap") > 0L, "banding recovered nothing")
  }

  test("dedup_minhash_recall measures band-boundary loss on borderline-jaccard pairs") {
    // the live fixture's near-dups are near-identical (j >> 0.3), where
    // every band collides and recall is trivially 1.0 — the minhash trade
    // only shows at the threshold boundary. 40 designed pairs with
    // trigram jaccard 20/56 ~ 0.357 (22 shared tokens of 40): per-band
    // collision probability j^4 ~ 1.6%, so the 8-band OR keeps only a
    // small deterministic subset (the banding is md5-seeded, so the
    // outcome is a fixed property of the text, not flaky)
    val docs2 = (0 until 40).flatMap { p =>
      val shared = (0 until 22).map(k => s"w${p}x$k")
      val aTail = (0 until 18).map(k => s"a${p}x$k")
      val bTail = (0 until 18).map(k => s"b${p}x$k")
      Seq((2L * p, (shared ++ aTail).mkString(" ")),
        (2L * p + 1, (shared ++ bTail).mkString(" ")))
    }.toDF("doc_id", "text")
    val exact = Dedup.dedupNgramJaccard(docs2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // disjoint per-pair vocabularies: exactly the 40 planted pairs
    assert(exact.size == 40, s"fixture planted 40 pairs, exact found ${exact.size}")
    val mh = Dedup.dedupNearMinhash(docs2).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val out = EscapeAudit.dedupMinhashRecall(docs2).collect()(0)
    assert(out.getAs[Long]("n_exact") == 40L)
    assert(out.getAs[Long]("n_minhash") == mh.size.toLong)
    assert(out.getAs[Long]("n_overlap") == exact.intersect(mh).size.toLong)
    assert(out.getAs[Long]("n_minhash_only") == 0L)
    // the trade, measured: banding loses SOME borderline pairs and keeps
    // SOME — recall strictly inside (0, 1)
    assert(mh.nonEmpty, "banding lost every borderline pair — widen the fixture")
    assert(mh.size < 40, "banding kept every borderline pair — fixture cannot measure the trade")
    Memo.releaseAll(spark)
  }
}
