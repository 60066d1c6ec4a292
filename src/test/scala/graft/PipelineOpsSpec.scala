package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.ext.{Dedup, Multimodal, Sampling, Sessions, Text}
import graft.ops.{Aggs, Joins, Windows}

/** Unit semantics for the r5 pipeline-operator batch: time-bounded funnel,
  * RFM scoring, MinHash estimator audit, stratified rate sampling,
  * vocabulary coverage, VAD segmentation. Values checked on literal frames
  * small enough to verify by hand; scale-relevant plan shapes gated where
  * the operator's contract promises one. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private val ts = (s: String) => Timestamp.valueOf(s)

  private def ev(rows: (Long, String, String, Double)*) =
    rows.toSeq.map { case (u, t, time, v) => (u, t, ts(time), v) }
      .toDF("user_id", "event_type", "ts", "value")
      .withColumn("event_id", monotonically_increasing_id())

  test("window funnel: stages must land inside 24h of the first click") {
    val events = ev(
      // user 1: full funnel inside the window -> depth 3
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "view", "2024-01-01 11:00:00", 0.0),
      (1L, "purchase", "2024-01-01 12:00:00", 5.0),
      // user 2: view arrives 25h after the first click -> depth 1
      (2L, "click", "2024-01-01 10:00:00", 0.0),
      (2L, "view", "2024-01-02 11:00:00", 0.0),
      // user 3: never clicks -> depth 0
      (3L, "view", "2024-01-01 10:00:00", 0.0),
      // user 4: purchase BEFORE the view -> stops at depth 2
      (4L, "click", "2024-01-01 10:00:00", 0.0),
      (4L, "purchase", "2024-01-01 10:30:00", 5.0),
      (4L, "view", "2024-01-01 11:00:00", 0.0))
    val out = Sessions.eventsWindowFunnel(events).collect()
      .map(r => r.getAs[Long]("funnel_depth") -> r.getAs[Long]("n_users")).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("window funnel vs unbounded funnel: the deadline is the only difference") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "view", "2024-01-05 11:00:00", 0.0)) // days later
    // unbounded funnel credits the view; the 24h window does not
    val unbounded = Sessions.eventsFunnelStages(events).collect()
    assert(unbounded(0).getAs[Long]("stage") == 2L)
    val windowed = Sessions.eventsWindowFunnel(events).collect()
      .map(r => r.getAs[Long]("funnel_depth") -> r.getAs[Long]("n_users")).toMap
    assert(windowed == Map(1L -> 1L))
  }

  test("RFM: quartile scores rank recency/frequency/monetary independently") {
    // 4 users, strictly ordered on each metric so every tile has one user.
    // user 4 is most recent, most frequent, biggest spender -> "444".
    val events = ev(
      (1L, "purchase", "2024-01-07 00:00:00", 10.0),
      (2L, "purchase", "2024-01-14 00:00:00", 20.0),
      (2L, "click", "2024-01-13 00:00:00", 0.0),
      (3L, "purchase", "2024-01-21 00:00:00", 30.0),
      (3L, "click", "2024-01-19 00:00:00", 0.0),
      (3L, "click", "2024-01-20 00:00:00", 0.0),
      (4L, "purchase", "2024-01-28 00:00:00", 40.0),
      (4L, "click", "2024-01-25 00:00:00", 0.0),
      (4L, "click", "2024-01-26 00:00:00", 0.0),
      (4L, "click", "2024-01-27 00:00:00", 0.0))
    val out = Sessions.eventsRfmScores(events).collect()
    val seg = out.map(r => r.getAs[Long]("user_id") -> r.getAs[String]("segment")).toMap
    assert(seg == Map(1L -> "111", 2L -> "222", 3L -> "333", 4L -> "444"))
    val u4 = out.find(_.getAs[Long]("user_id") == 4L).get
    assert(u4.getAs[Long]("recency_days") == 4L)  // Jan 28 -> Feb 1
    assert(u4.getAs[Long]("frequency") == 4L)
    assert(u4.getAs[Double]("monetary") == 40.0)
  }

  test("minhash estimator: identical docs agree on all 32 slots, err = 0") {
    val base = "the quick brown fox jumps over the lazy dog again and again " * 3
    val df = Seq(
      (1L, base), (2L, base),
      (3L, "completely different content about spark catalyst plans and shuffles"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupMinhashEst(df).collect()
    val pair = out.find(r => r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(pair.isDefined, s"identical docs must be LSH candidates: ${out.mkString(";")}")
    assert(pair.get.getAs[Long]("n_agree") == 32L)
    assert(pair.get.getAs[Double]("est_jaccard") == 1.0)
    assert(pair.get.getAs[Double]("jaccard") == 1.0)
    assert(pair.get.getAs[Double]("err") == 0.0)
    // no candidate pair against the unrelated doc
    assert(out.forall(r => r.getAs[Long]("doc_b") != 3L))
    Memo.releaseAll(spark)
  }

  test("stratified rate sampling: head class thinned, tail untouched, map-side") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val out = Sampling.sampleRatePerStratum(docs).collect()
    val in = docs.groupBy("lang").count().collect()
      .map(r => r.getAs[String]("lang") -> r.getAs[Long]("count")).toMap
    val kept = out.groupBy(_.getAs[String]("lang")).view.mapValues(_.length.toLong).toMap
    // non-en strata pass through whole
    in.keys.filter(_ != "en").foreach(l => assert(kept(l) == in(l), l))
    // en thinned to ~25% (hash-proportioned; generous band)
    val enFrac = kept("en").toDouble / in("en")
    assert(enFrac > 0.1 && enFrac < 0.4, s"en kept $enFrac")
    // reproducible
    assert(Sampling.sampleRatePerStratum(docs).collect().toSeq == out.toSeq)
    // pure map-side before the output sort: no hash exchange anywhere
    val plan = Sampling.sampleRatePerStratum(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("vocab coverage: ranks, cumulative counts and integer ppb shares") {
    val df = Seq(
      (1L, "a a a b"), (2L, "b c"))
      .toDF("doc_id", "text")
    val out = Text.textVocabCoverage(df, topK = 2).collect()
    assert(out.length == 2)
    val r1 = out(0)
    assert(r1.getAs[Long]("rank") == 1L && r1.getAs[String]("token") == "a")
    assert(r1.getAs[Long]("n") == 3L && r1.getAs[Long]("cum_n") == 3L)
    assert(r1.getAs[Long]("cum_share_ppb") == 500000000L) // 3/6
    val r2 = out(1)
    assert(r2.getAs[String]("token") == "b" && r2.getAs[Long]("cum_n") == 5L)
    assert(r2.getAs[Long]("cum_share_ppb") == 833333333L) // floor(5e9/6)
  }

  test("VAD segments: consecutive hot frames merge, gaps split") {
    // 4 complete 64-byte frames: hot, cold, hot, hot -> segments (0,0) and (2,3)
    val hot = "z" * 64   // 64*122/255 = 30.6 > 23.7
    val cold = " " * 64  // 64*32/255 = 8.0
    val df = Seq((1L, hot + cold + hot + hot)).toDF("doc_id", "text")
    val out = Multimodal.multimodalVadSegments(df).collect()
    assert(out.map(r => (r.getAs[Long]("seg_start"), r.getAs[Long]("seg_end"),
      r.getAs[Long]("n_frames"))).toSeq == Seq((0L, 0L, 1L), (2L, 3L, 2L)))
  }

  test("KMV intersection: exhaustive sketches recover the exact overlap") {
    // 30 clickers (1..30), 20 purchasers (21..40) -> overlap 21..30 = 10.
    // Both classes fit inside k=64, so theta = 1.0 and est = exact.
    val events = ev(
      (1 to 30).map(u => (u.toLong, "click", "2024-01-01 10:00:00", 0.0)) ++
      (21 to 40).map(u => (u.toLong, "purchase", "2024-01-01 11:00:00", 5.0)): _*)
    val out = graft.ops.Aggs.aggDistinctIntersectKmv(events).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Double]("theta") == 1.0)
    assert(r.getAs[Long]("n_common_sample") == 10L)
    assert(r.getAs[Double]("est_intersect") == 10.0)
    assert(r.getAs[Long]("n_exact") == 10L)
    assert(r.getAs[Double]("err") == 0.0)
  }

  test("KMV intersection: clipped sketches scale the sample by 1/theta") {
    // 200 clickers vs 200 purchasers, 100 common; k=64 forces theta < 1
    val events = ev(
      (1 to 200).map(u => (u.toLong, "click", "2024-01-01 10:00:00", 0.0)) ++
      (101 to 300).map(u => (u.toLong, "purchase", "2024-01-01 11:00:00", 1.0)): _*)
    val out = graft.ops.Aggs.aggDistinctIntersectKmv(events).collect()(0)
    val theta = out.getAs[Double]("theta")
    assert(theta > 0.0 && theta < 1.0)
    val est = out.getAs[Double]("est_intersect")
    assert(est == out.getAs[Long]("n_common_sample").toDouble / theta)
    // unbiased-ish: within a factor-2 band of the true 100 for this k
    assert(est > 50.0 && est < 200.0, s"est $est")
  }

  test("VAD segments: incomplete tail frame never fakes a silence break") {
    // 64 hot bytes + a 10-byte hot tail: the tail fragment is dropped, one segment
    val df = Seq((1L, "z" * 74)).toDF("doc_id", "text")
    val out = Multimodal.multimodalVadSegments(df).collect()
    assert(out.map(r => (r.getAs[Long]("seg_start"), r.getAs[Long]("seg_end"))).toSeq
      == Seq((0L, 0L)))
  }

  test("chi-square: independent contingency table scores exactly zero") {
    // counts proportional across dayparts -> e == o in every cell
    val rows =
      Seq.fill(10)((1L, "click", "2024-01-01 01:00:00", 0.0)) ++
      Seq.fill(10)((1L, "click", "2024-01-01 13:00:00", 0.0)) ++
      Seq.fill(5)((2L, "view", "2024-01-01 02:00:00", 0.0)) ++
      Seq.fill(5)((2L, "view", "2024-01-01 14:00:00", 0.0))
    val out = Aggs.statChiSquare(ev(rows: _*)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_cells") == 4L)
    assert(out(0).getAs[Long]("n_events") == 30L)
    assert(out(0).getAs[Double]("chi2") == 0.0)
    // perfect association: each class confined to its own daypart
    val skew =
      Seq.fill(10)((1L, "click", "2024-01-01 01:00:00", 0.0)) ++
      Seq.fill(10)((2L, "view", "2024-01-01 13:00:00", 0.0))
    val chi2 = Aggs.statChiSquare(ev(skew: _*)).collect()(0).getAs[Double]("chi2")
    // 2x2 with perfect separation: chi2 = n = 20 (quantized to 2^-20)
    assert(math.abs(chi2 - 20.0) < 1e-5)
  }

  test("gini: equal revenues score 0, total concentration scores (n-1)/n") {
    val eq = Seq((10L, 1L, 100.0), (11L, 2L, 100.0), (12L, 3L, 100.0), (13L, 4L, 100.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val g0 = Aggs.statGiniRevenue(eq).collect()(0)
    assert(g0.getAs[Long]("n_customers") == 4L)
    assert(g0.getAs[Double]("total_revenue") == 400.0)
    assert(g0.getAs[Double]("gini") == 0.0)
    val conc = Seq((10L, 1L, 0.01), (11L, 2L, 0.01), (12L, 3L, 0.01), (13L, 4L, 400.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val g1 = Aggs.statGiniRevenue(conc).collect()(0).getAs[Double]("gini")
    assert(g1 > 0.74 && g1 < 0.76) // near-total concentration, n=4 -> ~3/4
  }

  test("kmv union: below-k sets are exhaustive — estimator is exact") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (2L, "click", "2024-01-01 10:01:00", 0.0),
      (2L, "purchase", "2024-01-01 10:02:00", 0.0),
      (3L, "purchase", "2024-01-01 10:03:00", 0.0),
      (4L, "view", "2024-01-01 10:04:00", 0.0)) // other classes ignored
    val out = Aggs.aggDistinctUnionKmv(events).collect()(0)
    assert(out.getAs[Double]("theta") == 1.0)
    assert(out.getAs[Long]("n_union_sample") == 3L)
    assert(out.getAs[Long]("n_exact") == 3L)
    assert(out.getAs[Double]("est_union") == 3.0)
    assert(out.getAs[Double]("err") == 0.0)
  }

  test("interval union: overlap chains fuse, gaps split, duration is exact") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "click", "2024-01-01 10:20:00", 0.0),  // overlaps the first pad
      (1L, "click", "2024-01-01 11:30:00", 0.0),  // new episode
      (2L, "click", "2024-01-01 10:00:00", 0.0))
    val out = Joins.tsIntervalUnion(events).collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("island"),
      r.getAs[Long]("duration_s"), r.getAs[Long]("n_events"))).toSeq
      == Seq((1L, 1L, 3000L, 2L), (1L, 2L, 1800L, 1L), (2L, 1L, 1800L, 1L)))
  }

  test("triangles: node-ordering count finds each triangle once") {
    // users 1,2,3 co-active in minute A (one triangle); 4 touches only 1 in minute B
    val events = ev(
      (1L, "click", "2024-01-01 10:00:05", 0.0),
      (2L, "click", "2024-01-01 10:00:15", 0.0),
      (3L, "click", "2024-01-01 10:00:30", 0.0),
      (1L, "click", "2024-01-01 12:30:00", 0.0),
      (4L, "click", "2024-01-01 12:30:45", 0.0))
    val out = Sessions.graphTriangles(events).collect()(0)
    assert(out.getAs[Long]("n_edges") == 4L)
    assert(out.getAs[Long]("n_triangles") == 1L)
    // degrees 3,2,2,1 -> wedges 3+1+1+0 = 5; coeff = 3*1/5
    assert(out.getAs[Long]("n_wedges") == 5L)
    assert(out.getAs[Double]("clustering_coeff") == 0.6)
  }

  test("triangles: degree orientation bounds every out-degree by sqrt(2|E|)") {
    // star-plus-rim with a SMALL-id hub: user 1 co-active with 2..9 across
    // 8 distinct minutes. Under id-only orientation the hub would keep its
    // full out-degree (8); degree-then-id orientation must point every
    // star edge INTO the hub, leaving out-degrees <= sqrt(2*8) = 4.
    val rows = (2L to 9L).flatMap { u =>
      val m = f"2024-01-01 10:${u}%02d"
      Seq((1L, "click", s"$m:05", 0.0), (u, "click", s"$m:30", 0.0))
    }
    val events = ev(rows: _*)
    val edges = events
      .select(col("user_id"), date_trunc("minute", col("ts")).as("hr")).distinct()
    val und = edges.as("x").join(edges.as("y"),
        col("x.hr") === col("y.hr") && col("x.user_id") < col("y.user_id"))
      .select(col("x.user_id").as("a"), col("y.user_id").as("b")).distinct()
    val deg = Sessions.edgeDegrees(und)
    val oriented = Sessions.orientedEdges(und, deg)
    val nEdges = und.count()
    val maxOut = oriented.groupBy(col("src")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxOut <= math.sqrt(2.0 * nEdges),
      s"max out-degree $maxOut exceeds sqrt(2*$nEdges)")
    // the hub (id 1, degree 8) must be the DESTINATION of all its edges
    assert(oriented.filter(col("src") === 1L).count() == 0L)
    // and the census is orientation-invariant: still 8 edges, 0 triangles
    val out = Sessions.graphTriangles(events).collect()(0)
    assert(out.getAs[Long]("n_edges") == 8L)
    assert(out.getAs[Long]("n_triangles") == 0L)
  }

  test("burst users: peak rate gate and first peaking minute") {
    val rows =
      Seq.tabulate(5)(i => (1L, "click", f"2024-01-01 10:05:${i}%02d", 0.0)) ++
      Seq.tabulate(5)(i => (1L, "click", f"2024-01-01 10:09:${i}%02d", 0.0)) ++ // 2nd peak
      Seq.tabulate(3)(i => (2L, "click", f"2024-01-01 10:05:${i}%02d", 0.0))    // under gate
    val out = Sessions.eventsBurstUsers(ev(rows: _*)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("user_id") == 1L)
    assert(out(0).getAs[Long]("peak_per_minute") == 5L)
    assert(out(0).getAs[String]("first_peak_minute") == "2024-01-01 10:05:00")
  }

  test("normalized dedup: case/punct/whitespace variants collapse, others don't") {
    val docs = Seq(
      (1L, "Hello,  World!"),
      (2L, "hello world"),
      (3L, "HELLO\tWORLD"),
      (4L, "goodbye world")).toDF("doc_id", "text")
    val out = Dedup.dedupNormalized(docs).collect()
    assert(out.map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_equivalent"))).toSeq
      == Seq((1L, 3L), (4L, 1L)))
  }

  test("benford: digits from integer cents, shares and literal expectations") {
    val li = Seq((1L, 100.0), (2L, 250.5), (3L, 999.99), (4L, 12.34))
      .toDF("l_orderkey", "l_extendedprice")
    val out = graft.ops.Aggs.statBenford(li).collect()
    val byDigit = out.map(r => r.getAs[String]("digit") ->
      (r.getAs[Long]("n"), r.getAs[Double]("share"))).toMap
    assert(byDigit == Map("1" -> ((2L, 0.5)), "2" -> ((1L, 0.25)), "9" -> ((1L, 0.25))))
    val d1 = out.find(_.getAs[String]("digit") == "1").get
    assert(d1.getAs[Double]("benford_p") == 0.3010299956639812)
    assert(d1.getAs[Double]("deviation") == 0.5 - 0.3010299956639812)
  }

  test("snapshot upsert: inserted / updated / kept actions with prev values") {
    val events = ev(
      (1L, "click", "2024-01-10 00:00:00", 10.0),  // base only -> kept
      (2L, "click", "2024-01-10 00:00:00", 20.0),  // base...
      (2L, "click", "2024-01-20 00:00:00", 25.0),  // ...updated by delta
      (3L, "click", "2024-01-20 00:00:00", 30.0))  // delta only -> inserted
    val out = graft.ops.Joins.snapshotUpsert(events).collect()
    assert(out.map(r => (r.getAs[Long]("user_id"), r.getAs[String]("action"),
      r.getAs[Double]("value"))).toSeq
      == Seq((1L, "kept", 10.0), (2L, "updated", 25.0), (3L, "inserted", 30.0)))
    assert(out(1).getAs[Double]("prev_value") == 20.0)
    assert(out(2).getAs[Double]("prev_value") == null.asInstanceOf[Double]) // 0.0 for null Double
  }

  test("LTOB downsample: spike wins interior buckets, endpoints keep edges") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "click", "2024-01-01 11:00:00", 0.0),
      (1L, "click", "2024-01-01 11:15:00", 1000.0), // the spike a mean would erase
      (1L, "click", "2024-01-01 11:30:00", 0.0),
      (1L, "click", "2024-01-01 12:00:00", 0.0))
    val out = graft.ops.Joins.tsDownsampleLtob(events).collect()
    assert(out.map(r => (r.getAs[String]("ts_s"), r.getAs[Double]("value"))).toSeq
      == Seq(("2024-01-01 10:00:00.000000", 0.0),
             ("2024-01-01 11:15:00.000000", 1000.0),
             ("2024-01-01 12:00:00.000000", 0.0)))
  }

  private def emb64(pos: Int*) =
    Array.tabulate(64)(i => if (pos.contains(i + 1)) 1.0f else -1.0f)

  test("sign binarization: 32-bit halves, popcount audit") {
    val e = Seq((0L, emb64(1), 1), (1L, emb64(1, 2), 1), (2L, emb64(33), 2))
      .toDF("vec_id", "embedding", "label")
    val out = graft.ext.Similarity.embBinarizeSign(e).collect()
    assert(out.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("sig_lo"),
      r.getAs[Long]("sig_hi"), r.getAs[Long]("n_pos"))).toSeq
      == Seq((0L, 1L, 0L, 1L), (1L, 3L, 0L, 2L), (2L, 0L, 1L, 1L)))
  }

  test("hamming top-k: popcount(xor) distances rank nearest first") {
    val e = Seq((0L, emb64(1), 1), (1L, emb64(1, 2), 1), (2L, emb64(33), 2))
      .toDF("vec_id", "embedding", "label")
    val out = graft.ext.Similarity.simSearchHammingTopk(e).collect()
    val q0 = out.filter(_.getAs[Long]("query_id") == 0L)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("hamming"))).toSeq
    assert(q0 == Seq((1L, 1L), (2L, 2L)))
    val q2 = out.filter(_.getAs[Long]("query_id") == 2L)
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("hamming"))).toSeq
    assert(q2 == Seq((0L, 2L), (1L, 3L)))
  }

  test("link jaccard: non-adjacent pairs ranked by neighborhood overlap") {
    // minutes: {1,2}, {1,3}, {2,4} -> edges (1,2),(1,3),(2,4)
    val events = ev(
      (1L, "click", "2024-01-01 10:00:10", 0.0),
      (2L, "click", "2024-01-01 10:00:20", 0.0),
      (1L, "click", "2024-01-01 10:01:05", 0.0),
      (3L, "click", "2024-01-01 10:01:30", 0.0),
      (2L, "click", "2024-01-01 10:02:00", 0.0),
      (4L, "click", "2024-01-01 10:02:40", 0.0))
    val out = Sessions.graphLinkJaccard(events).collect()
    // candidates share a neighbor but are NOT edges: (1,4) via 2, (2,3) via 1
    assert(out.map(r => (r.getAs[Long]("rn"), r.getAs[Long]("a"),
      r.getAs[Long]("b"), r.getAs[Long]("common"), r.getAs[Long]("union_n"),
      r.getAs[Double]("jaccard"))).toSeq
      == Seq((1L, 1L, 4L, 1L, 2L, 0.5), (2L, 2L, 3L, 1L, 2L, 0.5)))
  }

  test("KS drift: max CDF gap via integer cross-multiply; one-sided class null") {
    val events = ev(
      (1L, "a", "2024-01-10 00:00:00", 1.0),
      (2L, "a", "2024-01-10 01:00:00", 1.0),
      (3L, "a", "2024-01-10 02:00:00", 2.0),
      (4L, "a", "2024-01-20 00:00:00", 3.0),
      (5L, "a", "2024-01-20 01:00:00", 3.0),
      (6L, "b", "2024-01-10 00:00:00", 9.0),
      (7L, "b", "2024-01-10 01:00:00", 9.0))
    val out = Aggs.statKsDrift(events).collect()
    val a = out.find(_.getAs[String]("event_type") == "a").get
    // CDFs: at 1 -> (2/3, 0/2) gap 4; at 2 -> (3/3, 0/2) gap 6; at 3 -> 0
    assert((a.getAs[Long]("n1"), a.getAs[Long]("n2"), a.getAs[Long]("ks_num"),
      a.getAs[Double]("ks_d"), a.getAs[Double]("at_value"))
      == ((3L, 2L, 6L, 1.0, 2.0)))
    val b = out.find(_.getAs[String]("event_type") == "b").get
    assert(b.getAs[Long]("n2") == 0L && b.isNullAt(b.fieldIndex("ks_d")))
  }

  test("Mann-Kendall: monotone series trends, all-tied series degenerates") {
    val events = ev(
      (1L, "m", "2024-01-01 12:00:00", 1.0),
      (1L, "m", "2024-01-02 12:00:00", 2.0),
      (1L, "m", "2024-01-03 12:00:00", 3.0),
      (1L, "m", "2024-01-04 12:00:00", 4.0),
      (1L, "m", "2024-01-05 12:00:00", 5.0),
      (2L, "m", "2024-01-01 12:00:00", 7.0),
      (2L, "m", "2024-01-02 12:00:00", 7.0),
      (2L, "m", "2024-01-03 12:00:00", 7.0))
    val out = Aggs.statMannKendall(events).collect()
    val u1 = out.find(_.getAs[Long]("user_id") == 1L).get
    assert((u1.getAs[Long]("n_days"), u1.getAs[Long]("s"),
      u1.getAs[Long]("var18"), u1.getAs[String]("trend"))
      == ((5L, 10L, 300L, "increasing")))
    assert(u1.getAs[Double]("z") == 9.0 / math.sqrt(300.0 / 18.0))
    val u2 = out.find(_.getAs[Long]("user_id") == 2L).get
    assert((u2.getAs[Long]("s"), u2.getAs[Long]("var18"),
      u2.getAs[String]("trend")) == ((0L, 0L, "no_trend")))
    assert(u2.isNullAt(u2.fieldIndex("z")))
  }

  test("rolling distinct: fan-out credits each activity to 7 trailing days") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (2L, "click", "2024-01-01 11:00:00", 0.0),
      (2L, "click", "2024-01-02 10:00:00", 0.0),
      (3L, "click", "2024-01-09 10:00:00", 0.0)) // outside day-1/2 windows
    val out = Aggs.aggRollingDistinct(events).collect()
    assert(out.map(r => (r.getAs[String]("day"), r.getAs[Long]("n_active_1d"),
      r.getAs[Long]("n_active_7d"))).toSeq
      == Seq(("2024-01-01", 2L, 2L), ("2024-01-02", 1L, 2L),
             ("2024-01-09", 1L, 1L)))
  }

  test("schema-evolution union aligns by name and fills nulls") {
    val events = ev(
      (1L, "click", "2024-01-10 00:00:00", 1.0),
      (2L, "click", "2024-01-10 01:00:00", 2.0),
      (1L, "click", "2024-01-20 00:00:00", 3.0),
      (3L, "click", "2024-01-20 01:00:00", 4.0),
      (3L, "click", "2024-01-20 02:00:00", 5.0))
    val out = graft.ops.SetSort.unionSchemaEvolve(events).collect()
    assert(out.map(r => (r.getAs[Long]("schema_ver"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("n_value_present"), r.getAs[Long]("n_users"))).toSeq
      == Seq((1L, 2L, 2L, 2L), (2L, 3L, 0L, 2L)))
  }

  test("position profile: cume_dist, nth_value frame entry, lead sentinel") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 10.0),
      (1L, "click", "2024-01-01 11:00:00", 20.0),
      (1L, "click", "2024-01-01 12:00:00", 30.0))
    val out = graft.ops.Windows.windowPositionProfile(events).collect()
    assert(out.map(_.getAs[Double]("cume")).toSeq == Seq(1.0 / 3, 2.0 / 3, 1.0))
    assert(out(0).isNullAt(out(0).fieldIndex("second_value")))
    assert(out(1).getAs[Double]("second_value") == 20.0 &&
      out(2).getAs[Double]("second_value") == 20.0)
    assert(out.map(_.getAs[Double]("lead2_or_sentinel")).toSeq
      == Seq(30.0, -1.0, -1.0))
  }

  test("rules filter: first failing rule names the reject reason") {
    val docs = Seq(
      (1L, "a b"),                                    // 2 words -> too_short
      (2L, "alpha beta gamma delta epsilon zeta"),    // clean -> pass
      (3L, "spam spam spam spam words here now ok"),  // 4/8 -> repetitive
      (4L, "a b c d e f g h i j"),                    // mean len 1 -> word_len_low
      (5L, "extraordinarily incomprehensibilities " +
        "uncharacteristically institutionalization " +
        "countercountermeasure")                      // mean len > 12 -> high
    ).toDF("doc_id", "text")
    val out = Text.textRulesFilter(docs).collect()
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("verdict"))).toSeq
      == Seq((1L, "too_short"), (2L, "pass"), (3L, "repetitive"),
             (4L, "word_len_low"), (5L, "word_len_high")))
    val d3 = out(2)
    assert(d3.getAs[Long]("n_words") == 8L && d3.getAs[Long]("top_n") == 4L)
  }

  test("tukey fences: exact quartiles, spike counted, ppb rate") {
    val rows = (1 to 20).map(i => (1L, "a", f"2024-01-01 10:${i}%02d:00", i.toDouble)) :+
      ((1L, "a", "2024-01-01 11:00:00", 100.0))
    val out = graft.ops.Aggs.statTukeyOutliers(ev(rows: _*)).collect()(0)
    // n=21: q1 = 6th value = 6, q3 = 16th = 16, fences -9 / 31
    assert((out.getAs[Long]("n"), out.getAs[Double]("q1"), out.getAs[Double]("q3"),
      out.getAs[Double]("lo_fence"), out.getAs[Double]("hi_fence"),
      out.getAs[Long]("n_low"), out.getAs[Long]("n_high"))
      == ((21L, 6.0, 16.0, -9.0, 31.0, 0L, 1L)))
    assert(out.getAs[Long]("outlier_ppb") == 1000000000L / 21L)
  }

  test("audio fingerprint: delta signs pack LSB-first; short docs fp 0") {
    val docs = Seq(
      (1L, "a" * 32 + "b" * 32 + "a" * 32), // up, down -> bits 1,0 -> fp 1
      (2L, "a" * 32 + "b" * 32 + "a" * 32), // identical -> same bucket
      (3L, "short")).toDF("doc_id", "text")
    val out = Multimodal.multimodalAudioFingerprint(docs).collect()
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_frames"), r.getAs[Long]("fingerprint"),
        r.getAs[Long]("n_matching"))).toMap
    assert(byDoc(1L) == ((3L, 1L, 2L)))
    assert(byDoc(2L) == ((3L, 1L, 2L)))
    assert(byDoc(3L) == ((0L, 0L, 1L)))
  }

  test("hashing trick: md5 bucket, counts, tf ppb; no vocabulary anywhere") {
    val out = Text.textHashedFeatures(
      Seq((1L, "the the cat")).toDF("doc_id", "text")).collect()
    def bucketOf(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8"))
      (d(0) & 0xFF).toLong
    }
    val byBucket = out.map(r => r.getAs[Long]("bucket") ->
      (r.getAs[Long]("n"), r.getAs[Long]("doc_tokens"), r.getAs[Long]("tf_ppb"))).toMap
    assert(out.length == 2)
    assert(byBucket(bucketOf("the")) == ((2L, 3L, 666666666L)))
    assert(byBucket(bucketOf("cat")) == ((1L, 3L, 333333333L)))
    assert(out.forall(r => r.getAs[Long]("bucket") >= 0L &&
      r.getAs[Long]("bucket") < 256L))
  }

  test("readability: word/sentence/vowel-group counts and the flesch chain") {
    val out = Text.textReadability(
      Seq((1L, "Hello world. It is good."),
          (2L, "")).toDF("doc_id", "text")).collect()
    val r1 = out(0)
    assert((r1.getAs[Long]("n_words"), r1.getAs[Long]("n_sentences"),
      r1.getAs[Long]("n_syllables")) == ((5L, 2L, 6L)))
    assert(r1.getAs[Double]("flesch") ==
      206.835 - 1.015 * (5.0 / 2.0) - 84.6 * (6.0 / 5.0))
    // empty doc: all counts floored to 1, chain still total
    val r2 = out(1)
    assert((r2.getAs[Long]("n_words"), r2.getAs[Long]("n_sentences"),
      r2.getAs[Long]("n_syllables")) == ((1L, 1L, 1L)))
  }

  test("temperature mix: sqrt weights, largest-remainder allocs sum to budget") {
    val docs = ((1 to 1).map(i => (i.toLong, "s_a")) ++
      (1 to 4).map(i => (100 + i.toLong, "s_b")) ++
      (1 to 16).map(i => (200 + i.toLong, "s_c")))
      .map { case (id, s) => (id, "text", s) }
      .toDF("doc_id", "text", "source")
    val out = ext.CorpusPrep.corpusTemperatureMix(docs).collect()
    val bySrc = out.map(r => r.getAs[String]("source") ->
      (r.getAs[Double]("weight"), r.getAs[Long]("share_ppb"),
        r.getAs[Long]("alloc_docs"))).toMap
    // weights 1,2,4; total 7 (exact in decimal); floors 1428+2857+5714=9999,
    // the one leftover seat goes to s_a (largest remainder .5714)
    assert(bySrc("s_a") == ((1.0, 142857142L, 1429L)))
    assert(bySrc("s_b") == ((2.0, 285714285L, 2857L)))
    assert(bySrc("s_c") == ((4.0, 571428571L, 5714L)))
    assert(out.map(_.getAs[Long]("alloc_docs")).sum == 10000L)
  }

  test("linear attribution: equal split over in-window touches, reconciles") {
    val events = ev(
      // user 1: two clicks + one view inside 7d, one view AFTER the
      // purchase, one click 8 days stale -> 3 credited touches of 30.0
      (1L, "click", "2023-12-24 09:00:00", 0.0),
      (1L, "click", "2024-01-01 09:00:00", 0.0),
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "view", "2024-01-01 11:00:00", 0.0),
      (1L, "purchase", "2024-01-01 12:00:00", 30.0),
      (1L, "view", "2024-01-01 13:00:00", 0.0),
      // user 2: purchase with no touches at all
      (2L, "purchase", "2024-01-01 12:00:00", 5.0))
    val out = Sessions.eventsAttributionLinear(events).collect()
    val byType = out.map(r => r.getAs[String]("touch_type") ->
      (r.getAs[Long]("n_credits"), r.getAs[Double]("revenue"))).toMap
    assert(byType("click") == ((2L, 20.0)))
    assert(byType("view") == ((1L, 10.0)))
    assert(byType("(unattributed)") == ((1L, 5.0)))
  }

  test("keyframe select: argmax energy per shot, ties to the earliest frame") {
    // 64-byte frames; energy = bytesum/255, threshold 23.7 (sum > 6043.5):
    // 'a'*64=6208 active, 'z'*64=7808 active, ' '*64=2048 inactive
    val docs = Seq(
      (1L, "a" * 64 + "z" * 64 + "a" * 64 + " " * 64 + "b" * 64),
      (2L, "c" * 64 + "c" * 64)) // tie -> earliest frame wins
      .toDF("doc_id", "text")
    val out = Multimodal.multimodalKeyframeSelect(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("seg_start")) ->
        (r.getAs[Long]("seg_end"), r.getAs[Long]("keyframe_no"),
          r.getAs[Double]("key_energy"))).toMap
    assert(out((1L, 0L)) == ((2L, 1L, 7808.0 / 255.0)))
    assert(out((1L, 4L)) == ((4L, 4L, (98L * 64L) / 255.0)))
    assert(out((2L, 0L)) == ((1L, 0L, (99L * 64L) / 255.0)))
  }

  test("theta A-not-B: exhaustive sketches give the exact difference") {
    // clickers {1,2,3}, purchasers {2,3,4}: A \ B = {1}
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (2L, "click", "2024-01-01 10:01:00", 0.0),
      (3L, "click", "2024-01-01 10:02:00", 0.0),
      (2L, "purchase", "2024-01-01 11:00:00", 1.0),
      (3L, "purchase", "2024-01-01 11:01:00", 1.0),
      (4L, "purchase", "2024-01-01 11:02:00", 1.0))
    val r = Aggs.aggDistinctDiffKmv(events).collect()(0)
    assert((r.getAs[Double]("theta"), r.getAs[Long]("n_diff_sample"),
      r.getAs[Double]("est_diff"), r.getAs[Long]("n_exact"),
      r.getAs[Double]("err")) == ((1.0, 1L, 1.0, 1L, 0.0)))
  }

  test("theil-sen: median pairwise slope, odd and even pair counts") {
    val events = ev(
      // user 1: days 1..3 values 1,2,4 -> slopes 1, 1.5, 2 -> median 1.5
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-02 10:00:00", 2.0),
      (1L, "click", "2024-01-03 10:00:00", 4.0),
      // user 2: days 1..4 values 0,1,2,4 -> sorted slopes
      // 1,1,1,4/3,1.5,2 -> median (1 + 4/3)/2 = 7/6
      (2L, "click", "2024-01-01 10:00:00", 0.0),
      (2L, "click", "2024-01-02 10:00:00", 1.0),
      (2L, "click", "2024-01-03 10:00:00", 2.0),
      (2L, "click", "2024-01-04 10:00:00", 4.0))
    val out = Aggs.statTheilSen(events).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_pairs"), r.getAs[Double]("slope_per_day"))).toMap
    assert(out(1L) == ((3L, 1.5)))
    assert(out(2L) == ((6L, (1.0 + 4.0 / 3.0) / 2.0)))
  }

  test("holt: level and trend fold, forecast = level + trend") {
    // hourly counts 2, 4, 8: l0=2 b0=0; x=4 -> l=3 b=.5; x=8 -> l=5.75 b=1.625
    val rows = (1 to 2).map(i => (i.toLong, "a", s"2024-01-01 10:0$i:00", 0.0)) ++
      (1 to 4).map(i => (i.toLong, "a", s"2024-01-01 11:0$i:00", 0.0)) ++
      (1 to 8).map(i => (i.toLong, "a", s"2024-01-01 12:0$i:00", 0.0))
    val r = Aggs.statHoltForecast(ev(rows: _*)).collect()(0)
    assert((r.getAs[Long]("n_hours"), r.getAs[Double]("level"),
      r.getAs[Double]("trend"), r.getAs[Double]("forecast_next"))
      == ((3L, 5.75, 1.625, 7.375)))
  }

  test("interval overlap: concurrent sessions found across day buckets once") {
    val events = ev(
      // u1 s1 10:00-11:00; u2 s1 10:30-12:00 -> 30 min overlap
      (1L, "click", "2024-01-01 10:00:00", 0.0),
      (1L, "click", "2024-01-01 11:00:00", 0.0),
      (2L, "click", "2024-01-01 10:30:00", 0.0),
      (2L, "click", "2024-01-01 12:00:00", 0.0),
      // u1 s2 23:00-01:00, u2 s2 23:30-00:30 (midnight-spanning):
      // 1 h overlap, day buckets Jan1+Jan2 must not double-count
      (1L, "click", "2024-01-01 23:00:00", 0.0),
      (1L, "click", "2024-01-02 01:00:00", 0.0),
      (2L, "click", "2024-01-01 23:30:00", 0.0),
      (2L, "click", "2024-01-02 00:30:00", 0.0),
      // u3: disjoint from everyone
      (3L, "click", "2024-01-05 10:00:00", 0.0))
    val out = Sessions.joinIntervalOverlap(events).collect()
    assert(out.length == 1)
    assert((out(0).getAs[Long]("user_a"), out(0).getAs[Long]("user_b"),
      out(0).getAs[Long]("n_concurrent"), out(0).getAs[Long]("overlap_us_total"))
      == ((1L, 2L, 2L, 1800000000L + 3600000000L)))
  }

  test("lag features: lags, delta, rolling mean/std in one frame") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-02 10:00:00", 2.0),
      (1L, "click", "2024-01-03 10:00:00", 4.0))
    val out = graft.ops.Windows.mlLagFeatures(events).collect()
    val d1 = out(0); val d2 = out(1); val d3 = out(2)
    assert(d1.isNullAt(d1.fieldIndex("lag1")) && d1.isNullAt(d1.fieldIndex("roll7_std")))
    assert((d2.getAs[Double]("lag1"), d2.getAs[Double]("delta1"),
      d2.getAs[Long]("n_window"), d2.getAs[Double]("roll7_avg")) == ((1.0, 1.0, 2L, 1.5)))
    assert(d2.getAs[Double]("roll7_std") == math.sqrt((5.0 - 9.0 / 2.0) / 1.0))
    assert((d3.getAs[Double]("lag1"), d3.getAs[Double]("delta1"),
      d3.getAs[Long]("n_window")) == ((2.0, 2.0, 3L)))
    assert(d3.getAs[Double]("roll7_avg") == 7.0 / 3.0)
    assert(d3.getAs[Double]("roll7_std") ==
      math.sqrt((21.0 - 7.0 * 7.0 / 3.0) / 2.0))
    assert(out.forall(_.isNullAt(d1.fieldIndex("lag7")))) // <8 days of history
  }

  test("cusum changepoint: peak |cusum| day located, decimal prefix sums") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-02 10:00:00", 1.0),
      (1L, "click", "2024-01-03 10:00:00", 5.0),
      (1L, "click", "2024-01-04 10:00:00", 5.0))
    // mean 3; centered -2,-2,2,2; cusum -2,-4,-2,0 -> peak |.|=4 on day 2
    val r = graft.ops.Aggs.statChangepointCusum(events).collect()(0)
    assert((r.getAs[Long]("n_days"), r.getAs[String]("cp_day_s"),
      r.getAs[Double]("cusum_at_cp")) == ((4L, "2024-01-02 00:00:00", -4.0)))
  }

  test("trimmed mean: 10% off each end by rank, exact middle mean") {
    val events = ev((1 to 10).map(i =>
      (i.toLong, "a", f"2024-01-01 10:${i}%02d:00", i.toDouble)): _*)
    val r = graft.ops.Aggs.statTrimmedMean(events).collect()(0)
    assert((r.getAs[Long]("n"), r.getAs[Long]("n_trimmed_each"),
      r.getAs[Long]("n_kept"), r.getAs[Double]("trimmed_mean"))
      == ((10L, 1L, 8L, 5.5)))
  }

  test("ngram novelty: first-seen ownership by doc order, ppb share") {
    val docs = Seq(
      (1L, "a b c d"),      // shingles {a b c, b c d} -> both novel
      (2L, "a b c x y"))    // {a b c, b c x, c x y} -> 2 of 3 novel
      .toDF("doc_id", "text")
    val out = Text.textNgramNovelty(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_novel"),
          r.getAs[Long]("novelty_ppb"))).toMap
    assert(out(1L) == ((2L, 2L, 1000000000L)))
    assert(out(2L) == ((3L, 2L, 666666666L)))
  }

  test("hampel: a lone spike is replaced by the window median, neighbors kept") {
    // 9 steady readings at 10.00 with one 500.00 spike in the middle
    val rows = (1 to 9).map { i =>
      (1L, "a", f"2024-01-01 10:0$i:00", if (i == 5) 500.0 else 10.0)
    }
    val out = graft.ops.Windows.windowHampel(ev(rows: _*)).collect()
    val byVal = out.map(r => (r.getAs[Double]("value"),
      r.getAs[Double]("filtered_value"), r.getAs[Boolean]("is_outlier")))
    // the spike: window median 10.00, MAD 0 -> flagged, replaced by 10.0
    assert(byVal.count(_._3) == 1)
    assert(byVal.find(_._1 == 500.0).get._2 == 10.0)
    // steady rows untouched
    assert(byVal.filter(_._1 == 10.0).forall(v => !v._3 && v._2 == 10.0))
  }

  test("drawdown: running peak and ppb share of peak") {
    val events = ev(
      (1L, "a", "2024-01-01 10:00:00", 100.0),
      (1L, "a", "2024-01-01 10:01:00", 80.0),   // dd 20.00 of 100 = 200M ppb
      (1L, "a", "2024-01-01 10:02:00", 120.0),  // new peak
      (1L, "a", "2024-01-01 10:03:00", 30.0))   // dd 90.00 of 120 = 750M ppb
    val out = graft.ops.Windows.windowDrawdown(events).collect()
      .map(r => (r.getAs[Double]("value"), r.getAs[Double]("peak_value"),
        r.getAs[Long]("drawdown_cents"), r.getAs[Long]("drawdown_ppb")))
    assert(out.toSeq == Seq(
      (100.0, 100.0, 0L, 0L), (80.0, 100.0, 2000L, 200000000L),
      (120.0, 120.0, 0L, 0L), (30.0, 120.0, 9000L, 750000000L)))
  }

  test("moments: exact skew/kurtosis signs on crafted distributions") {
    // symmetric two-point mass: skew 0, kurtosis_excess -2 (Bernoulli 1/2)
    val sym = (1 to 8).map(i =>
      (i.toLong, "sym", f"2024-01-01 10:0$i:00", if (i % 2 == 0) 1.0 else -1.0))
    // right-skewed: one large value among small ones
    val skw = (1 to 8).map(i =>
      (i.toLong, "skw", f"2024-01-01 11:0$i:00", if (i == 8) 100.0 else 1.0))
    val out = graft.ops.Aggs.statMomentsPerType(ev((sym ++ skw): _*)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val symR = out("sym")
    assert(symR.getAs[Double]("mean") == 0.0)
    assert(symR.getAs[Double]("variance") == 1.0)
    assert(symR.getAs[Double]("skewness") == 0.0)
    assert(symR.getAs[Double]("kurtosis_excess") == -2.0)
    assert(out("skw").getAs[Double]("skewness") > 1.0)
  }

  test("regularity: metronomic duplicate-minute bot flagged, human not") {
    // bot: 30 events all inside one minute; human: 5 events spread out
    val bot = (0 until 30).map(i =>
      (1L, "a", f"2024-01-01 10:00:${i % 60}%02d", 0.0))
    val human = Seq(
      (2L, "a", "2024-01-01 10:00:00", 0.0), (2L, "a", "2024-01-01 10:07:00", 0.0),
      (2L, "a", "2024-01-01 11:03:00", 0.0), (2L, "a", "2024-01-02 09:00:00", 0.0),
      (2L, "a", "2024-01-02 18:30:00", 0.0))
    val out = graft.ext.Sessions.eventsRegularityScore(ev((bot ++ human): _*))
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("suspected_bot"))
    assert(out(1L).getAs[Long]("burst_max_per_minute") == 30L)
    assert(out(1L).getAs[Long]("n_minutes") == 1L)
    assert(!out(2L).getAs[Boolean]("suspected_bot"))
    assert(out(2L).getAs[Long]("n_events") == 5L)
    assert(out(2L).getAs[Long]("n_minutes") == 5L)
    assert(out(2L).getAs[Long]("dup_minute_ppb") == 0L)
  }

  test("kcore: peeling removes the tail, keeps the clique") {
    // K4 clique (users 1-4 co-active in minutes m1..m6, pairwise) plus a
    // pendant user 5 touching only user 1 -> 3-core = the K4, degrees 3
    val cliquePairs = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
    val rows = cliquePairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val m = f"2024-01-01 10:${10 + i}%02d"
      Seq((a, "a", s"$m:05", 0.0), (b, "a", s"$m:40", 0.0))
    } ++ Seq(
      (1L, "a", "2024-01-01 11:30:05", 0.0),
      (5L, "a", "2024-01-01 11:30:40", 0.0))
    val out = graft.ext.Sessions.graphKcore(ev(rows: _*)).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("core_degree")).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kalman: constant series is a fixpoint; gain decays toward steady state") {
    val events = ev((1 to 6).map(i =>
      (1L, "a", f"2024-01-01 10:0$i:00", 10.0)): _*)
    val out = graft.ops.Joins.tsKalmanFilter(events).collect()
    // constant measurements: the filter never moves off the value
    assert(out.forall(_.getAs[Double]("x_filt") == 10.0))
    // first row has no gain; afterwards P shrinks so the gain decreases
    assert(out.head.isNullAt(out.head.fieldIndex("gain")))
    val gains = out.tail.map(_.getAs[Double]("gain"))
    assert(gains.head == 4.05 / 8.05)
    assert(gains.sliding(2).forall { case Array(a, b) => b < a })
    // and a step responds: second series jumps, estimate moves toward it
    val step = ev(
      (2L, "a", "2024-01-01 10:01:00", 0.0),
      (2L, "a", "2024-01-01 10:02:00", 100.0))
    val s2 = graft.ops.Joins.tsKalmanFilter(step).collect()
      .filter(_.getAs[Long]("user_id") == 2L)
    val x2 = s2.last.getAs[Double]("x_filt")
    assert(x2 > 40.0 && x2 < 60.0, s"step response $x2")
  }

  test("runs test: alternation and clumping give opposite z signs") {
    // alternating around the median -> max runs -> z > 0
    val alt = (1 to 12).map(i =>
      (1L, "alt", f"2024-01-01 10:$i%02d:00", if (i % 2 == 0) 10.0 else 1.0))
    // clumped: all lows then all highs -> 2 runs -> z < 0
    val clump = (1 to 12).map(i =>
      (1L, "clump", f"2024-01-01 11:$i%02d:00", if (i <= 6) 1.0 else 10.0))
    val out = graft.ops.Aggs.statRunsTest(ev((alt ++ clump): _*)).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    assert(out("alt").getAs[Long]("n_runs") == 12L)
    assert(out("alt").getAs[Double]("z") > 2.0)
    assert(out("clump").getAs[Long]("n_runs") == 2L)
    assert(out("clump").getAs[Double]("z") < -2.0)
    // both splits: 6 above the median (10s), 6 at/below (1s)
    assert(out("alt").getAs[Long]("n_above") == 6L)
    assert(out("alt").getAs[Long]("n_below") == 6L)
  }

  test("quality report: exact quartiles per source and the gate count") {
    val mk = (id: Long, src: String, good: Boolean) => {
      val text = if (good)
        "the quick brown fox of the valley and a river in the morning to the sea " * 2
      else "1234567890 999 888"
      (id, src, text, text.length.toLong)
    }
    val docs = Seq(mk(1, "a", true), mk(2, "a", true), mk(3, "a", false),
        mk(4, "b", false))
      .toDF("doc_id", "source", "text", "n_chars")
    val out = graft.ext.CorpusPrep.corpusQualityReport(docs).collect()
      .map(r => r.getAs[String]("source") -> r).toMap
    assert(out("a").getAs[Long]("n_docs") == 3L)
    assert(out("a").getAs[Long]("n_below_gate") == 1L)  // the junk doc
    assert(out("b").getAs[Long]("n_below_gate") == 1L)
    // source a: q75 lands on a good doc (score 3.0), q25 on the junk one
    assert(out("a").getAs[Double]("q75") == 3.0)
    assert(out("a").getAs[Double]("q25") < 1.5)
  }

  test("interarrival histogram: exact power-of-2 buckets, per-device gaps") {
    // gaps of 60s (bucket 25: 2^25us=33.5s..67.1s) and 3600s (bucket 31)
    val events = ev(
      (1L, "a", "2024-01-01 10:00:00", 0.0),
      (1L, "a", "2024-01-01 10:01:00", 0.0),   // 60s gap
      (1L, "a", "2024-01-01 10:02:00", 0.0),   // 60s gap
      (1L, "a", "2024-01-01 11:02:00", 0.0),   // 3600s gap
      (2L, "a", "2024-01-01 10:00:30", 0.0))   // other device: no gap yet
    val out = graft.ext.Sessions.eventsInterarrivalHistogram(events).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n"), r.getAs[Long]("share_ppb"))).toMap
    assert(out == Map(
      25L -> ((2L, 666666666L)),   // floor(2e9/3)
      31L -> ((1L, 333333333L))))
  }

  test("pareto deciles: heavy users concentrate in decile 1, shares sum right") {
    // 10 users: user 1 has 100 events, users 2-10 have 1 each
    val rows = (1 to 100).map(i => (1L, "a", f"2024-01-01 ${10 + i / 60}%02d:${i % 60}%02d:00", 0.0)) ++
      (2 to 10).map(u => (u.toLong, "a", "2024-01-01 09:00:00", 0.0))
    val out = graft.ext.Sessions.eventsParetoDeciles(ev(rows: _*)).collect()
    assert(out.length == 10)
    val d1 = out.head
    assert(d1.getAs[Long]("decile") == 1L && d1.getAs[Long]("n_users") == 1L)
    assert(d1.getAs[Long]("n_events") == 100L)
    assert(d1.getAs[Long]("share_ppb") == 917431192L) // floor(100e9/109)
    assert(out.last.getAs[Long]("cum_share_ppb") == 1000000000L)
  }

  test("brown-forsythe: equal spreads give W near 0, unequal spreads large W") {
    // two classes with IDENTICAL spread pattern -> z-deviations identical
    val eq = Seq("a", "b").flatMap(t => (1 to 10).map(i =>
      (i.toLong, t, f"2024-01-01 10:$i%02d:00", (i % 5).toDouble)))
    val outEq = graft.ops.Aggs.statBrownForsythe(ev(eq: _*)).collect()(0)
    assert(outEq.getAs[Long]("k") == 2L && outEq.getAs[Long]("n_total") == 20L)
    assert(math.abs(outEq.getAs[Double]("bf_w")) < 1e-9)
    // tight class vs wide class -> large W
    val uneq = (1 to 10).map(i =>
      (i.toLong, "tight", f"2024-01-01 10:$i%02d:00", 100.0 + (i % 2))) ++
      (1 to 10).map(i =>
        (i.toLong, "wide", f"2024-01-01 11:$i%02d:00", (i * 50).toDouble))
    val outU = graft.ops.Aggs.statBrownForsythe(ev(uneq: _*)).collect()(0)
    assert(outU.getAs[Double]("bf_w") > 10.0)
  }

  test("anova f: identical classes give F ~ 0, shifted means give exact F") {
    // identical value patterns -> SSB ~ 0
    val eq = Seq("a", "b").flatMap(t => (1 to 10).map(i =>
      (i.toLong, t, f"2024-01-01 10:$i%02d:00", (i % 5).toDouble)))
    val outEq = Aggs.statAnovaF(ev(eq: _*)).collect()(0)
    assert(outEq.getAs[Long]("k") == 2L && outEq.getAs[Long]("n_total") == 20L)
    assert(math.abs(outEq.getAs[Double]("f_stat")) < 1e-9)
    // a: 1,2,3  b: 11,12,13 -> means 2,12; SSB = 150, SSW = 4,
    // F = (150/1)/(4/4) = 150 exactly
    val sh = (1 to 3).map(i => (i.toLong, "a", s"2024-01-01 10:0$i:00", i.toDouble)) ++
      (1 to 3).map(i => (i.toLong, "b", s"2024-01-01 11:0$i:00", (10 + i).toDouble))
    val outSh = Aggs.statAnovaF(ev(sh: _*)).collect()(0)
    assert(outSh.getAs[Double]("ss_between") == 150.0)
    assert(outSh.getAs[Double]("ss_within") == 4.0)
    assert(outSh.getAs[Double]("f_stat") == 150.0)
  }

  test("holt-winters: zero seasons reduce to holt; gaps densify to 0") {
    // hourly counts 2, 4, 8 with all-zero seasonal state == Holt's fold:
    // l=5.75 b=1.625, season_next still 0 -> forecast 7.375
    val rows = (1 to 2).map(i => (i.toLong, "a", s"2024-01-01 10:0$i:00", 0.0)) ++
      (1 to 4).map(i => (i.toLong, "a", s"2024-01-01 11:0$i:00", 0.0)) ++
      (1 to 8).map(i => (i.toLong, "a", s"2024-01-01 12:0$i:00", 0.0))
    val r = Aggs.statHoltWinters(ev(rows: _*)).collect()(0)
    assert((r.getAs[Long]("n_hours"), r.getAs[Double]("level"),
      r.getAs[Double]("trend"), r.getAs[Double]("season_next"),
      r.getAs[Double]("forecast_next")) == ((3L, 5.75, 1.625, 0.0, 7.375)))
    // missing middle hour joins the grid as x = 0 (n_hours counts it)
    val gap = Seq(
      (1L, "a", "2024-01-01 10:00:00", 0.0),
      (2L, "a", "2024-01-01 12:00:00", 0.0))
    val g = Aggs.statHoltWinters(ev(gap: _*)).collect()(0)
    assert(g.getAs[Long]("n_hours") == 3L)
    // constant series is a fixed point: level = c, trend = 0, seasons 0
    val const = (0 until 30).flatMap(h => (1 to 3).map(i =>
      (i.toLong, "c", f"2024-01-0${1 + h / 24}%d ${h % 24}%02d:0$i:00", 0.0)))
    val c = Aggs.statHoltWinters(ev(const: _*)).collect()(0)
    assert(c.getAs[Double]("level") == 3.0 && c.getAs[Double]("trend") == 0.0 &&
      c.getAs[Double]("forecast_next") == 3.0)
  }

  test("quantile sketch: estimates interpolate inside the landing band") {
    // scaled values 500, 1000, 2000, 2000 -> bands 8 (cnt 1), 9 (1), 10 (2)
    // p50: t=2 -> band 9, est = (512 + 512·1)/1000; p90/p99: t=4 -> band 10,
    // est = (1024 + 1024·1)/1000
    val events = ev(
      (1L, "a", "2024-01-01 10:00:00", 0.5),
      (2L, "a", "2024-01-01 10:01:00", 1.0),
      (3L, "a", "2024-01-01 10:02:00", 2.0),
      (4L, "a", "2024-01-01 10:03:00", 2.0))
    val r = Aggs.aggQuantilesSketch(events).collect()(0)
    assert(r.getAs[Long]("n") == 4L && r.getAs[Long]("n_bands") == 3L)
    assert(r.getAs[Double]("p50_est") == 1.024)
    assert(r.getAs[Double]("p90_est") == 2.048)
    assert(r.getAs[Double]("p99_est") == 2.048)
  }

  test("welch t: exact chain on hand-computable class stats") {
    // a: 1,2,3 (mean 2, var 1); b: 5,7,9 (mean 7, var 4) — decimal sums exact
    val events = ev(
      (1L, "a", "2024-01-01 10:01:00", 1.0), (2L, "a", "2024-01-01 10:02:00", 2.0),
      (3L, "a", "2024-01-01 10:03:00", 3.0), (4L, "b", "2024-01-01 11:01:00", 5.0),
      (5L, "b", "2024-01-01 11:02:00", 7.0), (6L, "b", "2024-01-01 11:03:00", 9.0))
    val r = Aggs.statWelchT(events, "a", "b").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("mean_a") == 2.0 && r.getAs[Double]("var_b") == 4.0)
    val sem = 1.0 / 3 + 4.0 / 3
    assert(r.getAs[Double]("t_stat") == (2.0 - 7.0) / math.sqrt(sem))
    assert(r.getAs[Double]("df_welch") ==
      (sem * sem) / (((1.0 / 3) * (1.0 / 3)) / 2.0 + ((4.0 / 3) * (4.0 / 3)) / 2.0))
  }

  test("degree assortativity: a star graph is perfectly disassortative") {
    // co-activity minutes: (1,2), (1,3), (1,4) -> star centered on 1 -> r = -1
    val events = ev(
      (1L, "click", "2024-01-01 10:00:01", 0.0), (2L, "click", "2024-01-01 10:00:02", 0.0),
      (1L, "click", "2024-01-01 11:00:01", 0.0), (3L, "click", "2024-01-01 11:00:02", 0.0),
      (1L, "click", "2024-01-01 12:00:01", 0.0), (4L, "click", "2024-01-01 12:00:02", 0.0))
    val r = Sessions.graphDegreeAssortativity(events).collect()(0)
    assert(r.getAs[Long]("n_nodes") == 4L && r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("rolling median: lower order statistic of the trailing frame") {
    val events = ev(
      (1L, "a", "2024-01-01 10:00:00", 5.0),
      (1L, "a", "2024-01-01 10:01:00", 1.0),
      (1L, "a", "2024-01-01 10:02:00", 3.0))
    val out = Windows.windowRollingMedian(events).collect()
      .map(r => r.getAs[String]("ts_s").substring(14, 16) ->
        (r.getAs[Long]("n_window"), r.getAs[Double]("roll_median"))).toMap
    assert(out == Map("00" -> ((1L, 5.0)), "01" -> ((2L, 1.0)), "02" -> ((3L, 3.0))))
  }

  test("peak detect: strict interior maxima only, plateaus excluded") {
    def hour(h: Int, n: Int, t: String) =
      (1 to n).map(i => (i.toLong, t, f"2024-01-01 $h%02d:0$i:00", 0.0))
    // a: 1,3,2 -> peak at hour 11; b: 1,3,3,1 -> plateau, no peak
    val events = ev((hour(10, 1, "a") ++ hour(11, 3, "a") ++ hour(12, 2, "a") ++
      hour(10, 1, "b") ++ hour(11, 3, "b") ++ hour(12, 3, "b") ++ hour(13, 1, "b")): _*)
    val out = Windows.windowPeakDetect(events).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("event_type") == "a" &&
      out(0).getAs[String]("hour_s") == "2024-01-01 11:00:00" &&
      out(0).getAs[Long]("n") == 3L)
  }

  test("cramers v: effect size from the q20 chi-square machinery") {
    // perfectly associated 2x2: type a only in daypart 0, b only in 2
    val events = ev(
      (1L, "a", "2024-01-01 01:00:00", 0.0), (2L, "a", "2024-01-01 02:00:00", 0.0),
      (3L, "b", "2024-01-01 13:00:00", 0.0), (4L, "b", "2024-01-01 14:00:00", 0.0))
    val r = Aggs.statCramersV(events).collect()(0)
    assert(r.getAs[Long]("n_rows") == 2L && r.getAs[Long]("n_cols") == 2L)
    assert(r.getAs[Long]("n_events") == 4L)
    // chi2 = N = 4 exactly (perfect association), V = sqrt(4/(4*1)) = 1
    assert(r.getAs[Double]("chi2") == 4.0)
    assert(r.getAs[Double]("cramers_v") == 1.0)
  }

  test("poisson dispersion: constant series VMR = 0, bursty VMR > 1") {
    // type c: exactly 2 events every hour for 4 hours -> variance 0
    val const = (0 until 4).flatMap(h => (1 to 2).map(i =>
      (i.toLong, "c", f"2024-01-01 $h%02d:0$i:00", 0.0)))
    // type b: 8 events in hour 0, then 3 empty hours (densified) -> VMR > 1
    val burst = (1 to 8).map(i => (i.toLong, "b", s"2024-01-01 00:0$i:00", 0.0)) ++
      Seq((9L, "b", "2024-01-01 03:01:00", 0.0))
    val out = Aggs.statPoissonDispersion(ev((const ++ burst): _*)).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_hours"), r.getAs[Long]("n_active_hours"),
          r.getAs[Double]("mean_per_hour"), r.getAs[Double]("vmr"))).toMap
    assert(out("c") == ((4L, 4L, 2.0, 0.0)))
    val b = out("b")
    // 9 events over 4 grid hours (2 empty), mean 2.25, variance
    // (64+1)/4 - 2.25^2 = 11.1875 -> VMR ~ 4.97
    assert(b._1 == 4L && b._2 == 2L && b._3 == 2.25)
    assert(b._4 == (65.0 / 4 - 2.25 * 2.25) / 2.25)
  }

  test("cross-source dedup report rolls up near-dup pairs by source pair") {
    val docs = Seq(
      (1L, "sA", "the quick brown fox jumps over the lazy dog again today"),
      (2L, "sB", "the quick brown fox jumps over the lazy dog again today"),
      (3L, "sB", "completely different text about distributed query engines here"),
      (4L, "sB", "completely different text about distributed query engines here"))
      .toDF("doc_id", "source", "text")
    val out = Dedup.dedupCrossSource(docs).collect()
      .map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Boolean]("is_cross"))).toMap
    assert(out == Map(("sA", "sB") -> ((1L, true)), ("sB", "sB") -> ((1L, false))))
  }

  test("length histogram: power-of-2 token buckets per language") {
    val docs = Seq(
      (1L, "en", "a b c", 5L),                       // 3 tokens -> bucket 1
      (2L, "en", (1 to 10).map(_ => "w").mkString(" "), 20L),  // 10 -> bucket 3
      (3L, "de", "x", 1L))                           // 1 -> bucket 0
      .toDF("doc_id", "lang", "text", "n_chars")
    val out = graft.ext.CorpusPrep.corpusLengthHistogram(docs).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("bucket")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("doc_share_ppb"))).toMap
    assert(out == Map(
      ("en", 1L) -> ((1L, 500000000L)), ("en", 3L) -> ((1L, 500000000L)),
      ("de", 0L) -> ((1L, 1000000000L))))
  }

  test("topk hash sample: exactly k, stable under reordering") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = graft.ext.Sampling.sampleTopkHash(docs, k = 7).collect()
      .map(_.getAs[Long]("doc_id")).toSeq
    val b = graft.ext.Sampling.sampleTopkHash(docs.repartition(13), k = 7)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(a.length == 7 && a == b)
  }

  test("kruskal-wallis: identical groups H = 0, separated groups exact H") {
    // identical {1,2,3} in both classes: rank sums equal -> H = 0 (ties
    // corrected: every value tied across classes, T = 3·(2³−2) = 18)
    val same = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-01 10:01:00", 2.0),
      (1L, "click", "2024-01-01 10:02:00", 3.0),
      (2L, "view", "2024-01-01 10:03:00", 1.0),
      (2L, "view", "2024-01-01 10:04:00", 2.0),
      (2L, "view", "2024-01-01 10:05:00", 3.0))
    val r0 = graft.ops.RankStats.statKruskalWallis(same).collect()(0)
    assert(r0.getAs[Long]("k") == 2L && r0.getAs[Long]("n_total") == 6L)
    assert(math.abs(r0.getAs[Double]("h_stat")) < 1e-6)
    // disjoint {1,2} vs {10,11}: ranks 1,2 | 3,4 -> ΣR²/n = 4.5 + 24.5,
    // H = 12/20·29 − 15 = 2.4, no ties so corrected = raw
    val apart = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-01 10:01:00", 2.0),
      (2L, "view", "2024-01-01 10:02:00", 10.0),
      (2L, "view", "2024-01-01 10:03:00", 11.0))
    val r1 = graft.ops.RankStats.statKruskalWallis(apart).collect()(0)
    assert(math.abs(r1.getAs[Double]("h_stat") - 2.4) < 1e-6)
    assert(r1.getAs[Double]("tie_correction") == 1.0)
  }

  test("mann-whitney: fully separated samples give U = 0 and |r_rb| = 1") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-01 10:01:00", 2.0),
      (1L, "click", "2024-01-01 10:02:00", 3.0),
      (2L, "view", "2024-01-01 10:03:00", 4.0),
      (2L, "view", "2024-01-01 10:04:00", 5.0),
      (2L, "view", "2024-01-01 10:05:00", 6.0))
    val r = graft.ops.RankStats.statMannWhitney(events).collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 3L)
    assert(r.getAs[Double]("u_stat") == 0.0)
    assert(r.getAs[Double]("mean_u") == 4.5)
    assert(r.getAs[Double]("rank_biserial") == 1.0)
  }

  test("spearman: monotone hourly series give rho = ±1 exactly") {
    def mk(purchCounts: Seq[Int]) = {
      val rows = (0 until 3).flatMap { h =>
        val clicks = (0 to h).map(i =>
          (1L, "click", f"2024-01-01 1$h%d:0$i%d:00", 0.0))
        val purch = (0 until purchCounts(h)).map(i =>
          (2L, "purchase", f"2024-01-01 1$h%d:1$i%d:00", 0.0))
        clicks ++ purch
      }
      ev(rows: _*)
    }
    // click counts 1,2,3; purchase co-monotone 1,2,3 -> rho = 1 (up to
    // the one sqrt(den_x)·sqrt(den_y) rounding in the fixed chain)
    val up = graft.ops.RankStats.statSpearmanHourly(mk(Seq(1, 2, 3))).collect()(0)
    assert(up.getAs[Long]("n_hours") == 3L &&
      math.abs(up.getAs[Double]("spearman_rho") - 1.0) < 1e-12)
    // anti-monotone 3,2,1 -> rho = −1
    val dn = graft.ops.RankStats.statSpearmanHourly(mk(Seq(3, 2, 1))).collect()(0)
    assert(math.abs(dn.getAs[Double]("spearman_rho") + 1.0) < 1e-12)
  }

  test("sma crossover: a burst after a flat day fires one golden cross") {
    val rows = (0 until 24).map(h =>
      (1L, "click", f"2024-01-01 $h%02d:00:00", 0.0)) :+
      ((1L, "click", "2024-01-02 00:00:00", 0.0))
    val burst = (1 until 100).map(i =>
      (1L, "click", f"2024-01-02 00:${i % 60}%02d:${i / 60}%02d", 0.0))
    val events = ev((rows ++ burst): _*)
    val out = graft.ops.Windows.tsSmaCrossover(events).collect()
    assert(out.length == 1)
    val r = out(0)
    // fast = (1+1+100)/3, slow = (23·1+100)/24 — integers until display
    assert(r.getAs[String]("signal") == "golden")
    assert(r.getAs[Double]("fast_avg") == 34.0)
    assert(r.getAs[Double]("slow_avg") == 123.0 / 24)
    assert(r.getAs[String]("hour_ts") == "2024-01-02 00:00:00")
  }

  test("bollinger: zero-variance prior window flags any deviation, exact mean") {
    val flat = (0 until 24).map(i =>
      (1L, "click", f"2024-01-01 10:${i % 60}%02d:${i / 60}%02d", 10.0))
    val events = ev((flat :+ ((1L, "click", "2024-01-01 11:00:00", 11.0))): _*)
    val out = graft.ops.Windows.windowBollinger(events).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("side") == "above")
    assert(out(0).getAs[Double]("mean_prior") == 10.0)
    assert(out(0).getAs[Double]("value") == 11.0)
    // the same 25th reading AT the mean is not a breakout (0 > 0 is false)
    val calm = ev((flat :+ ((1L, "click", "2024-01-01 11:00:00", 10.0))): _*)
    assert(graft.ops.Windows.windowBollinger(calm).count() == 0)
  }

  test("band join: ε-inclusive, adjacent cent-buckets covered, one match each") {
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.04),    // 104¢, bucket 20
      (1L, "click", "2024-01-01 10:01:00", 2.00),    // no partner in band
      (2L, "purchase", "2024-01-01 10:02:00", 0.99), // 99¢, bucket 19 — |Δ| = 5
      (2L, "purchase", "2024-01-01 10:03:00", 5.00))
    val out = graft.ops.Joins.joinBandNumeric(events).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("n_pairs") == 1L)
    assert(out(0).getAs[Long]("sum_absdiff_cents") == 5L)
    assert(out(0).getAs[Double]("avg_absdiff_cents") == 5.0)
  }

  test("edit distance audit: near-dup pair carries the exact char distance") {
    // 60 shared tokens with ONE char substituted: jaccard ≈ 55/61, far
    // above the LSH detection knee, and a char-level distance of exactly 1
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("word30 ", "ward30 ")),
      (3L, "completely unrelated text about distributed query engines and planners"))
      .toDF("doc_id", "text")
    val out = graft.ext.Dedup.dedupEditDistance(docs).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Long]("edit_dist") == 1L)   // word30 -> ward30
    assert(r.getAs[Long]("edit_ppb") ==
      1000000000L / math.min(base.length, 512).toLong)
  }

  test("rsi: monotone ramps pin the index to 100 and 0, flat window is null") {
    val up = (0 until 15).map(i =>
      (1L, "click", f"2024-01-01 10:$i%02d:00", 10.0 + i))
    val dn = (0 until 15).map(i =>
      (2L, "click", f"2024-01-01 10:$i%02d:00", 50.0 - i))
    val flat = (0 until 15).map(i =>
      (3L, "click", f"2024-01-01 10:$i%02d:00", 7.0))
    val out = graft.ops.Windows.windowRsi(ev((up ++ dn ++ flat): _*)).collect()
      .map(r => r.getAs[Long]("user_id") ->
        Option(r.getAs[java.lang.Double]("rsi")).map(_.toDouble)).toMap
    assert(out == Map(1L -> Some(100.0), 2L -> Some(0.0), 3L -> None))
  }

  test("cohort ltv: cumulative revenue over offsets, divided by full cohort") {
    val events = ev(
      // cohort 2024-01-01: users 1 (buyer) and 2 (never buys) -> size 2
      (1L, "purchase", "2024-01-01 10:00:00", 10.0),
      (1L, "purchase", "2024-01-03 10:00:00", 6.0),
      (2L, "view", "2024-01-01 09:00:00", 0.0),
      // cohort 2024-01-02: user 3 alone
      (3L, "purchase", "2024-01-02 12:00:00", 8.0))
    val out = graft.ext.Sessions.eventsCohortLtv(events).collect()
      .map(r => (r.getAs[String]("cohort_day_s"), r.getAs[Long]("day_offset")) ->
        (r.getAs[Double]("cum_revenue"), r.getAs[Long]("cohort_size"),
          r.getAs[Double]("ltv_per_user"))).toMap
    assert(out == Map(
      ("2024-01-01 00:00:00", 0L) -> ((10.0, 2L, 5.0)),
      ("2024-01-01 00:00:00", 2L) -> ((16.0, 2L, 8.0)),
      ("2024-01-02 00:00:00", 0L) -> ((8.0, 1L, 8.0))))
  }

  test("cc sizes: two pairs and an isolated user make a 1,2,2 histogram") {
    val events = ev(
      // pair (1,2) co-active in one minute; pair (3,4) in another
      (1L, "click", "2024-01-01 10:00:10", 0.0),
      (2L, "click", "2024-01-01 10:00:50", 0.0),
      (3L, "click", "2024-01-01 11:00:10", 0.0),
      (4L, "click", "2024-01-01 11:00:50", 0.0),
      // user 5 active alone -> singleton component
      (5L, "click", "2024-01-01 12:00:00", 0.0))
    val out = graft.ext.Sessions.graphCcSizes(events).collect()
      .map(r => r.getAs[Long]("component_size") ->
        r.getAs[Long]("n_components")).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L))
  }

  test("lang confusion: mislabeled docs land off-diagonal with ppb shares") {
    val docs = Seq(
      (1L, "en", "the cat and the dog of a tale to tell"),
      (2L, "en", "el que la de los amigos"), // labeled en, reads es
      (3L, "es", "el la de que los"))
      .toDF("doc_id", "lang", "text")
    val out = graft.ext.Text.textLangConfusion(docs).collect()
      .map(r => (r.getAs[String]("true_lang"), r.getAs[String]("pred_lang")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("row_share_ppb"))).toMap
    assert(out == Map(
      ("en", "en") -> ((1L, 500000000L)), ("en", "es") -> ((1L, 500000000L)),
      ("es", "es") -> ((1L, 1000000000L))))
  }

  test("mood median: disjoint halves give the exact 2x2 chi-square") {
    // values 1,2,3 | 10,11,12: N=6, lower median = 3; above-median counts
    // 0 | 3 against expecteds 1.5 -> chi2 = 4*(1.5^2/1.5) = 6 exactly
    val events = ev(
      (1L, "click", "2024-01-01 10:00:00", 1.0),
      (1L, "click", "2024-01-01 10:01:00", 2.0),
      (1L, "click", "2024-01-01 10:02:00", 3.0),
      (2L, "view", "2024-01-01 10:03:00", 10.0),
      (2L, "view", "2024-01-01 10:04:00", 11.0),
      (2L, "view", "2024-01-01 10:05:00", 12.0))
    val r = graft.ops.RankStats.statMoodMedian(events).collect()(0)
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n_total") == 6L)
    assert(r.getAs[Double]("grand_median") == 3.0)
    assert(r.getAs[Long]("n_above") == 3L)
    assert(math.abs(r.getAs[Double]("chi2") - 6.0) < 1e-6)
  }

  test("seasonality strength: clockwork feed = 1, one-slot noise = 0") {
    // y: counts depend ONLY on hour-of-day (same both weeks) -> strength 1
    val clockwork = Seq("2024-01-01", "2024-01-08").flatMap { d =>
      (1 to 2).map(i => (1L, "y", s"$d 10:0$i:00", 0.0)) ++
        (1 to 5).map(i => (1L, "y", s"$d 11:0$i:00", 0.0))
    }
    // x: both active hours land in the SAME (dow, hod) slot with different
    // counts -> the seasonal profile explains nothing -> strength 0
    val noise = (1 to 1).map(i => (2L, "x", s"2024-01-01 09:0$i:00", 0.0)) ++
      (1 to 3).map(i => (2L, "x", s"2024-01-08 09:0$i:00", 0.0))
    val out = graft.ops.Aggs.tsSeasonalityStrength(ev((clockwork ++ noise): _*))
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("seasonal_strength")).toMap
    assert(out("y") == 1.0 && out("x") == 0.0)
  }

  test("growth accounting: the four-way ledger conserves users") {
    // weeks of 2024-01-01 / 01-08 / 01-15 (Mondays)
    val events = ev(
      (1L, "click", "2024-01-02 10:00:00", 0.0), // u1: all three weeks
      (1L, "click", "2024-01-09 10:00:00", 0.0),
      (1L, "click", "2024-01-16 10:00:00", 0.0),
      (2L, "click", "2024-01-03 10:00:00", 0.0), // u2: wk1 only -> churn wk2
      (3L, "click", "2024-01-04 10:00:00", 0.0), // u3: wk1, wk3 (resurrects)
      (3L, "click", "2024-01-17 10:00:00", 0.0),
      (4L, "click", "2024-01-10 10:00:00", 0.0)) // u4: wk2 only -> churn wk3
    val out = graft.ext.Sessions.eventsGrowthAccounting(events).collect()
      .map(r => r.getAs[String]("week_s") ->
        (r.getAs[Long]("n_new"), r.getAs[Long]("n_retained"),
          r.getAs[Long]("n_resurrected"), r.getAs[Long]("n_churned"))).toMap
    assert(out == Map(
      "2024-01-01 00:00:00" -> ((3L, 0L, 0L, 0L)),
      "2024-01-08 00:00:00" -> ((1L, 1L, 0L, 2L)),
      "2024-01-15 00:00:00" -> ((0L, 1L, 1L, 1L))))
    // u3's trailing churn (wk4) is past the data end and never invented
  }

  test("dedup funnel: each stage charges the right source") {
    // digit-free words (digits count against the quality score) with a
    // stopword head so the gate's three components all score
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val base = "the and of to in a " +
      (0 until 60).map(i => s"w${alpha(i / 26)}${alpha(i % 26)}").mkString(" ")
    val other = "the and of to in a " +
      (0 until 60).map(i => s"t${alpha(i / 26)}${alpha(i % 26)}").mkString(" ")
    val docs = Seq(
      (1L, "srcA", base),                              // kept (canonical)
      (2L, "srcB", base),                              // exact dup of 1
      (3L, "srcA", base.replace(" wbc ", " xbc ")),    // near dup of 1
      (4L, "srcB", "123 456"),                         // fails quality gate
      (5L, "srcB", other))                             // kept
      .map { case (id, src, t) => (id, src, t, t.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
    val out = graft.ext.CorpusPrep.corpusDedupFunnel(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_input"), r.getAs[Long]("n_quality_drop"),
          r.getAs[Long]("n_exact_drop"), r.getAs[Long]("n_near_drop"),
          r.getAs[Long]("n_kept"))).toMap
    assert(out == Map(
      "srcA" -> ((2L, 0L, 0L, 1L, 1L)),
      "srcB" -> ((3L, 1L, 1L, 0L, 1L))))
  }

  test("priority sample: exact k, stable, and the DLT estimator lands") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val a = graft.ext.Sampling.samplePriorityWeighted(docs, k = 20).collect()
    val b = graft.ext.Sampling.samplePriorityWeighted(docs.repartition(13), k = 20)
      .collect()
    assert(a.length == 20 && a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // deterministic estimator sanity: sum(w_hat) over the sample estimates
    // total corpus tokens; with k=20 of 500 docs the fixed-hash draw lands
    // well inside a 2x band (exact expectation, bounded variance)
    val est = a.map(_.getAs[Double]("w_hat")).sum
    val total = graft.ext.Sampling.samplePriorityWeighted(docs, k = 500)
      .collect().map(_.getAs[Long]("w")).sum.toDouble
    assert(est > total * 0.5 && est < total * 2.0, s"est $est total $total")
  }

  test("page-hinkley: flat feed never alarms, a level jump does") {
    // flat: 30 hours at 2 events/hour -> increments are exactly -delta,
    // m tracks its own minimum, ph_stat = 0, no drift
    val flat = (0 until 30).flatMap(h => (0 until 2).map(i =>
      (1L, "click", f"2024-01-01 ${h % 24}%02d:0$i%d:00", 0.0)))
      .zipWithIndex.map { case ((u, t, s0, v), i) =>
        (u, t, f"2024-01-0${1 + i / 48}%d ${(i / 2) % 24}%02d:0${i % 2}%d:00", v) }
    val quiet = graft.ops.Aggs.statPageHinkley(ev(flat: _*)).collect()(0)
    assert(!quiet.getAs[Boolean]("drift_detected"))
    assert(quiet.getAs[Double]("ph_stat") == 0.0)
    // jump: 30 flat hours then 30 hours at 20/hour -> the mean lags the
    // new level, m climbs past lambda above its minimum
    val jump = flat ++ (0 until 30).flatMap(h => (0 until 20).map(i =>
      (1L, "click", f"2024-01-0${3 + h / 24}%d ${h % 24}%02d:${i % 60}%02d:00", 0.0)))
    val alarmed = graft.ops.Aggs.statPageHinkley(ev(jump: _*)).collect()(0)
    assert(alarmed.getAs[Boolean]("drift_detected"))
    // r8: the alarm is wall-clock-anchored (mn + idx - 1); the grid
    // starts at 2024-01-01 00:00 UTC and the jump begins at grid hour 30,
    // so the alarm must land after that wall-clock hour
    val gridStartHu = 1704067200L / 3600 // 2024-01-01T00:00:00Z in hour units
    assert(alarmed.getAs[Long]("first_alarm_hu") > gridStartHu + 30L)
    assert(alarmed.getAs[String]("first_alarm_ts").startsWith("2024-01-0"))
  }

  test("hamilton allocation: largest remainders round the exact budget") {
    // counts 2,3,5,10 with K=7: bases 0,1,1,3 leave 2 extras; remainders
    // 14,1,15,10 rank es > de > fr > en -> de and es get the +1
    val docs = (Seq.fill(2)("de") ++ Seq.fill(3)("en") ++ Seq.fill(5)("es") ++
      Seq.fill(10)("fr")).zipWithIndex
      .map { case (l, i) => (i.toLong, l, s"text number $i") }
      .toDF("doc_id", "lang", "text")
    val out = graft.ext.Sampling.sampleHamiltonAlloc(docs, budget = 7).collect()
    val alloc = out.groupBy(_.getAs[String]("lang")).map { case (l, rs) =>
      l -> (rs.length.toLong, rs.head.getAs[Long]("k_alloc")) }
    assert(alloc == Map("de" -> ((1L, 1L)), "en" -> ((1L, 1L)),
      "es" -> ((2L, 2L)), "fr" -> ((3L, 3L))))
    assert(out.length == 7) // the budget is EXACT, not approximately met
  }

  test("seasonal anomaly: only the hour wild for ITS slot is flagged") {
    // Mondays 10:00 across 4 weeks: 2,2,2,30 (baseline 9); five other
    // Monday slots constant at 3 -> residual 0. Only the 30 clears 3
    // sigma of the class's residual spread; the -7s do not.
    val mondays = Seq("2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22")
    val spike = mondays.zip(Seq(2, 2, 2, 30)).flatMap { case (d, c) =>
      (0 until c).map(i => (1L, "x", f"$d 10:${i % 60}%02d:${i / 60}%d0", 0.0)) }
    val flat = mondays.flatMap(d => (11 to 15).flatMap(hh =>
      (0 until 3).map(i => (1L, "x", f"$d $hh%02d:0$i%d:00", 0.0))))
    val out = graft.ops.Aggs.tsSeasonalAnomaly(ev((spike ++ flat): _*)).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("hour_s") == "2024-01-22 10:00:00")
    assert(out(0).getAs[Long]("n") == 30L &&
      out(0).getAs[String]("side") == "high")
  }

  test("lloyd pq codes: refinement never increases total distortion") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def distortion(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("dist2"))).collect()(0).getLong(0)
    val seeded = distortion(graft.ext.Similarity.embPqCodes(emb))
    val lloyd = distortion(graft.ext.Similarity.embPqCodesLloyd(emb))
    // one k-means step strictly improves a first-N-seeded codebook on
    // real data (monotone up to the ≤0.5/coord integer re-quantization
    // of centroids — far smaller than the seeding slop it removes)
    assert(lloyd < seeded, s"lloyd $lloyd vs seeded $seeded")
  }

  test("truncation recall: signal-free tail dims give perfect recall") {
    // 20 vectors whose last dims are all zero: the 4-dim prefix IS the
    // full vector, so truncated top-k must equal full top-k exactly
    val vecs = (0 until 20).map { i =>
      val v = Array.tabulate(8)(d =>
        if (d < 4) ((i * 7 + d * 3) % 11 - 5).toFloat else 0.0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val out = graft.ext.Similarity
      .embTruncationRecall(vecs, nQueries = 4, k = 5, dims = 4).collect()
    assert(out.length == 4)
    assert(out.forall(_.getAs[Long]("recall_ppb") == 1000000000L))
  }
}
