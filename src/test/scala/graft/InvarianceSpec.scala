package graft

import graft.ext.{CorpusPrep, Dedup, Sampling, Text}
import graft.ops.{Aggs, Joins}

/** Partitioning-invariance proofs: the determinism contract says every
  * declared query returns identical results at any parallelism — the
  * property that makes local oracle checks meaningful for a 1000-executor
  * deployment. Run representative operators under skewed repartitionings
  * and require bit-identical output. */
class InvarianceSpec extends SparkSpec {

  def docs = Tables.documents(spark, "/root/testdata/sf0.01")
  def events = Tables.events(spark, "/root/testdata/sf0.001")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("ngram jaccard pairs are identical at 1 and 13 partitions") {
    assert(rows(Dedup.dedupNgramJaccard(docs.coalesce(1))) ==
      rows(Dedup.dedupNgramJaccard(docs.repartition(13))))
  }

  test("hash split assignment is partitioning-independent") {
    assert(rows(Sampling.sampleHashSplit(docs.coalesce(1))) ==
      rows(Sampling.sampleHashSplit(docs.repartition(13))))
  }

  test("decimal-exact metric summary is partitioning-independent") {
    assert(rows(Aggs.aggMetricsSummary(events.coalesce(1))) ==
      rows(Aggs.aggMetricsSummary(events.repartition(13))))
  }

  test("discrete quantiles (exact + sampled) are partitioning-independent") {
    assert(rows(Aggs.aggQuantiles(events.coalesce(1))) ==
      rows(Aggs.aggQuantiles(events.repartition(13))))
    assert(rows(Aggs.aggQuantilesSampled(events.coalesce(1))) ==
      rows(Aggs.aggQuantilesSampled(events.repartition(13))))
  }

  test("banded interval join and multi-metric align are partitioning-independent") {
    assert(rows(Joins.joinIntervalBucket(events.coalesce(1))) ==
      rows(Joins.joinIntervalBucket(events.repartition(13))))
    assert(rows(Joins.joinTimeseriesAlignMulti(events.coalesce(1))) ==
      rows(Joins.joinTimeseriesAlignMulti(events.repartition(13))))
  }

  test("banded quantiles agree with the single-sort exact path at any partitioning") {
    val exact = rows(Aggs.aggQuantiles(events))
    assert(rows(Aggs.aggQuantilesBanded(events.coalesce(1))) == exact)
    assert(rows(Aggs.aggQuantilesBanded(events.repartition(13))) == exact)
  }

  test("incremental dedup verdicts are partitioning-independent") {
    Memo.releaseAll(spark) // shingle memo keyed by plan — clear between A/B
    val a = rows(Dedup.dedupIncremental(docs.coalesce(1)))
    Memo.releaseAll(spark)
    val b = rows(Dedup.dedupIncremental(docs.repartition(13)))
    assert(a == b)
  }

  test("two-phase pack prefix sum equals the naive global window, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val naive = docs
      .select(col("doc_id"), size(Text.tokens(col("text"))).cast("long").as("n"))
      .withColumn("start_off",
        sum(col("n")).over(Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n"))
      .withColumn("bin", floor(col("start_off") / 512))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("total_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("bin")
    val expected = rows(naive)
    assert(rows(CorpusPrep.corpusPackSequences(docs)) == expected)
    // small rangeSize forces many ranges; skewed partitioning must not matter
    assert(rows(CorpusPrep.corpusPackSequences(
      docs.repartition(13), budget = 512, rangeSize = 64)) == expected)
  }

  test("funnel, mode, correlation and retention are partitioning-independent") {
    import graft.ext.Sessions
    assert(rows(Sessions.eventsFunnelStages(events.coalesce(1))) ==
      rows(Sessions.eventsFunnelStages(events.repartition(13))))
    assert(rows(Aggs.aggModePerKey(events.coalesce(1))) ==
      rows(Aggs.aggModePerKey(events.repartition(13))))
    assert(rows(Aggs.statCorrHourlyCounts(events.coalesce(1))) ==
      rows(Aggs.statCorrHourlyCounts(events.repartition(13))))
    assert(rows(Sessions.eventsRetentionCohort(events.coalesce(1))) ==
      rows(Sessions.eventsRetentionCohort(events.repartition(13))))
  }

  test("blockhash pairs and ngram counts are partitioning-independent") {
    import graft.ext.{Multimodal, Text => T}
    assert(rows(Multimodal.multimodalBlockhash(docs.coalesce(1))) ==
      rows(Multimodal.multimodalBlockhash(docs.repartition(13))))
    assert(rows(T.textNgramCounts(docs.coalesce(1))) ==
      rows(T.textNgramCounts(docs.repartition(13))))
  }

  test("connected-components labels are partitioning-independent") {
    Memo.releaseAll(spark) // memoized labels would defeat the A/B
    val a = rows(Dedup.dedupClusters(docs.coalesce(1)))
    Memo.releaseAll(spark)
    val b = rows(Dedup.dedupClusters(docs.repartition(13)))
    assert(a == b)
  }

  test("snapshot diff, SCD2 intervals and weighted avg are partitioning-independent") {
    import graft.ext.Sessions
    assert(rows(Joins.snapshotDiff(events.coalesce(1))) ==
      rows(Joins.snapshotDiff(events.repartition(13))))
    assert(rows(Sessions.scd2Intervals(events.coalesce(1))) ==
      rows(Sessions.scd2Intervals(events.repartition(13))))
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    assert(rows(Aggs.aggWeightedAvg(li.coalesce(1))) ==
      rows(Aggs.aggWeightedAvg(li.repartition(13))))
  }

  test("repetition ratio and decontamination are partitioning-independent") {
    import graft.ext.{Text => T}
    assert(rows(T.textRepetitionRatio(docs.coalesce(1))) ==
      rows(T.textRepetitionRatio(docs.repartition(13))))
    assert(rows(T.textDecontaminate(docs.coalesce(1))) ==
      rows(T.textDecontaminate(docs.repartition(13))))
  }

  test("transition matrix, count-min and tfidf are partitioning-independent") {
    import graft.ext.{Sessions, Text => T}
    assert(rows(Sessions.eventsTransitionMatrix(events.coalesce(1))) ==
      rows(Sessions.eventsTransitionMatrix(events.repartition(13))))
    assert(rows(Aggs.aggCountMin(events.coalesce(1))) ==
      rows(Aggs.aggCountMin(events.repartition(13))))
    assert(rows(Aggs.statRegressionHourly(events.coalesce(1))) ==
      rows(Aggs.statRegressionHourly(events.repartition(13))))
    assert(rows(T.textTfidfTopk(docs.coalesce(1))) ==
      rows(T.textTfidfTopk(docs.repartition(13))))
  }

  test("lsh knn join, semantic clusters and mix report are partitioning-independent") {
    import graft.ext.{CorpusPrep, Similarity}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(Similarity.simKnnJoinLsh(emb.coalesce(1))) ==
      rows(Similarity.simKnnJoinLsh(emb.repartition(13))))
    assert(rows(Similarity.dedupSemanticClusters(emb.coalesce(1))) ==
      rows(Similarity.dedupSemanticClusters(emb.repartition(13))))
    assert(rows(CorpusPrep.corpusMixReport(docs.coalesce(1))) ==
      rows(CorpusPrep.corpusMixReport(docs.repartition(13))))
  }

  test("knn join, embedding centroids and seasonality are partitioning-independent") {
    import graft.ext.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(Similarity.simKnnJoin(emb.coalesce(1))) ==
      rows(Similarity.simKnnJoin(emb.repartition(13))))
    assert(rows(Similarity.aggEmbeddingCentroid(emb.coalesce(1))) ==
      rows(Similarity.aggEmbeddingCentroid(emb.repartition(13))))
    assert(rows(Aggs.statSeasonality(events.coalesce(1))) ==
      rows(Aggs.statSeasonality(events.repartition(13))))
  }

  test("column profile, MAD anomalies and tolerant as-of are partitioning-independent") {
    import graft.ops.Windows
    assert(rows(Aggs.profileColumns(events.coalesce(1))) ==
      rows(Aggs.profileColumns(events.repartition(13))))
    assert(rows(Windows.windowMadHours(events.coalesce(1))) ==
      rows(Windows.windowMadHours(events.repartition(13))))
    assert(rows(Joins.joinAsofTolerance(events.coalesce(1))) ==
      rows(Joins.joinAsofTolerance(events.repartition(13))))
  }

  test("autocorrelation and CUSUM are partitioning-independent") {
    import graft.ops.Windows
    assert(rows(Aggs.statAutocorrLag(events.coalesce(1))) ==
      rows(Aggs.statAutocorrLag(events.repartition(13))))
    assert(rows(Windows.windowCusum(events.coalesce(1))) ==
      rows(Windows.windowCusum(events.repartition(13))))
  }

  test("time-weighted avg and key-skew profile are partitioning-independent") {
    assert(rows(Aggs.aggTimeWeightedAvg(events.coalesce(1))) ==
      rows(Aggs.aggTimeWeightedAvg(events.repartition(13))))
    assert(rows(Aggs.profileKeySkew(events.coalesce(1))) ==
      rows(Aggs.profileKeySkew(events.repartition(13))))
  }

  test("fuzzy blocked join, shuffle order and centroid drift are partitioning-independent") {
    val part = Tables.part(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(Joins.joinFuzzyBlocked(part.coalesce(1))) ==
      rows(Joins.joinFuzzyBlocked(part.repartition(13))))
    assert(rows(Sampling.corpusShuffleOrder(docs.coalesce(1))) ==
      rows(Sampling.corpusShuffleOrder(docs.repartition(13))))
    assert(rows(graft.ext.Similarity.embCentroidDrift(emb.coalesce(1))) ==
      rows(graft.ext.Similarity.embCentroidDrift(emb.repartition(13))))
  }

  test("min-max scaling and winsorization are partitioning-independent") {
    import graft.ops.Windows
    assert(rows(Windows.windowMinmaxScale(events.coalesce(1))) ==
      rows(Windows.windowMinmaxScale(events.repartition(13))))
    assert(rows(graft.batch.Clean.cleanWinsorize(events.coalesce(1))) ==
      rows(graft.batch.Clean.cleanWinsorize(events.repartition(13))))
  }

  test("r4 scale-layout family is partitioning-independent") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(graft.sources.Layout.zorderSkipping(events.coalesce(1), probeUser = 7L)) ==
      rows(graft.sources.Layout.zorderSkipping(events.repartition(13), probeUser = 7L)))
    assert(rows(graft.ext.Similarity.embQuantizeInt8(emb.coalesce(1))) ==
      rows(graft.ext.Similarity.embQuantizeInt8(emb.repartition(13))))
    assert(rows(Text.textPassageDedup(docs.coalesce(1))) ==
      rows(Text.textPassageDedup(docs.repartition(13))))
    assert(rows(CorpusPrep.corpusBudgetSelect(docs.coalesce(1))) ==
      rows(CorpusPrep.corpusBudgetSelect(docs.repartition(13))))
  }

  test("PQ codes and seasonal residuals are partitioning-independent") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(graft.ext.Similarity.embPqCodes(emb.coalesce(1))) ==
      rows(graft.ext.Similarity.embPqCodes(emb.repartition(13))))
    assert(rows(Aggs.statSeasonalResidual(events.coalesce(1))) ==
      rows(Aggs.statSeasonalResidual(events.repartition(13))))
  }

  test("containment, ewma, ohlc, simpson are partitioning-independent") {
    assert(rows(Dedup.dedupContainment(docs.coalesce(1))) ==
      rows(Dedup.dedupContainment(docs.repartition(13))))
    assert(rows(Aggs.statEwmaHourly(events.coalesce(1))) ==
      rows(Aggs.statEwmaHourly(events.repartition(13))))
    assert(rows(Aggs.aggOhlcHourly(events.coalesce(1))) ==
      rows(Aggs.aggOhlcHourly(events.repartition(13))))
    assert(rows(Aggs.aggSimpsonDiversity(events.coalesce(1))) ==
      rows(Aggs.aggSimpsonDiversity(events.repartition(13))))
  }

  test("join cardinality and expectations profiles are partitioning-independent") {
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    val cust = Tables.customer(spark, "/root/testdata/sf0.001")
    assert(rows(Aggs.profileJoinCardinality(orders.coalesce(1), cust.coalesce(1))) ==
      rows(Aggs.profileJoinCardinality(orders.repartition(13), cust.repartition(7))))
    assert(rows(Aggs.profileExpectations(events.coalesce(1))) ==
      rows(Aggs.profileExpectations(events.repartition(13))))
  }

  test("bitmap distinct, rolling corr, session stats are partitioning-independent") {
    assert(rows(Aggs.aggBitmapDistinct(events.coalesce(1))) ==
      rows(Aggs.aggBitmapDistinct(events.repartition(13))))
    assert(rows(Aggs.statRollingCorr(events.coalesce(1))) ==
      rows(Aggs.statRollingCorr(events.repartition(13))))
    assert(rows(graft.ext.Sessions.eventsSessionStats(events.coalesce(1))) ==
      rows(graft.ext.Sessions.eventsSessionStats(events.repartition(13))))
    assert(rows(graft.ext.Sessions.graphPagerankTypes(events.coalesce(1))) ==
      rows(graft.ext.Sessions.graphPagerankTypes(events.repartition(13))))
  }

  test("KMV sketch estimate is partitioning-independent (mergeability in action)") {
    // the k-min-values partials merge across partitions; any split must
    // yield the same k smallest hashes, hence the same estimate
    assert(rows(Aggs.aggDistinctKmv(events.coalesce(1))) ==
      rows(Aggs.aggDistinctKmv(events.repartition(13))))
    // HLL registers merge by max — same registers at any split
    assert(rows(Aggs.aggDistinctHllPortable(events.coalesce(1))) ==
      rows(Aggs.aggDistinctHllPortable(events.repartition(13))))
    // trailing bitmap ORs merge associatively — same DAU/MAU at any split
    assert(rows(Aggs.eventsDauMau(events.coalesce(1))) ==
      rows(Aggs.eventsDauMau(events.repartition(13))))
    assert(rows(graft.ext.Similarity.simSearchPqAdc(
        Tables.embeddings(spark, "/root/testdata/sf0.001").coalesce(1))) ==
      rows(graft.ext.Similarity.simSearchPqAdc(
        Tables.embeddings(spark, "/root/testdata/sf0.001").repartition(13))))
  }

  test("r5b batch is partitioning-independent") {
    // theta intersection: both sketches + theta clip merge across splits
    assert(rows(Aggs.aggDistinctIntersectKmv(events.coalesce(1))) ==
      rows(Aggs.aggDistinctIntersectKmv(events.repartition(13))))
    // vocab coverage: single-partition rank/cumsum windows on the vocab
    // frame see the same aggregated counts at any upstream split
    assert(rows(Text.textVocabCoverage(docs.coalesce(1))) ==
      rows(Text.textVocabCoverage(docs.repartition(13))))
    // minhash estimator: band keys + slot agreement are per-doc functions
    Memo.releaseAll(spark)
    val a = rows(Dedup.dedupMinhashEst(docs.coalesce(1)))
    Memo.releaseAll(spark)
    val b = rows(Dedup.dedupMinhashEst(docs.repartition(13)))
    assert(a == b)
    // rate sampling is map-side: trivially invariant, but the claim is load-bearing
    assert(rows(Sampling.sampleRatePerStratum(docs.coalesce(1))) ==
      rows(Sampling.sampleRatePerStratum(docs.repartition(13))))
  }

  test("r5c batch is partitioning-independent") {
    // chi-square: quantized integer terms sum exactly under any merge order
    assert(rows(Aggs.statChiSquare(events.coalesce(1))) ==
      rows(Aggs.statChiSquare(events.repartition(13))))
    // gini: integer-cents weighted sum + total-order rank
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    assert(rows(Aggs.statGiniRevenue(orders.coalesce(1))) ==
      rows(Aggs.statGiniRevenue(orders.repartition(13))))
    // interval union: running max/sum windows on per-user total orders
    assert(rows(graft.ops.Joins.tsIntervalUnion(events.coalesce(1))) ==
      rows(graft.ops.Joins.tsIntervalUnion(events.repartition(13))))
    // triangles: census counts are integers; memoized edges cleared between runs
    Memo.releaseAll(spark)
    val t1 = rows(graft.ext.Sessions.graphTriangles(events.coalesce(1)))
    Memo.releaseAll(spark)
    val t13 = rows(graft.ext.Sessions.graphTriangles(events.repartition(13)))
    assert(t1 == t13)
  }

  test("r5c2-c4 batch is partitioning-independent") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // benford digits / KS gaps / MK sign sums: pure integer aggregation
    assert(rows(Aggs.statBenford(li.coalesce(1))) ==
      rows(Aggs.statBenford(li.repartition(13))))
    assert(rows(Aggs.statKsDrift(events.coalesce(1))) ==
      rows(Aggs.statKsDrift(events.repartition(13))))
    assert(rows(Aggs.statMannKendall(events.coalesce(1))) ==
      rows(Aggs.statMannKendall(events.repartition(13))))
    // LTOB: exact integer centroids, total-order area ranks
    assert(rows(graft.ops.Joins.tsDownsampleLtob(events.coalesce(1))) ==
      rows(graft.ops.Joins.tsDownsampleLtob(events.repartition(13))))
    assert(rows(graft.ops.Joins.snapshotUpsert(events.coalesce(1))) ==
      rows(graft.ops.Joins.snapshotUpsert(events.repartition(13))))
    // sign signatures + integer hamming ranks
    assert(rows(graft.ext.Similarity.simSearchHammingTopk(emb.coalesce(1))) ==
      rows(graft.ext.Similarity.simSearchHammingTopk(emb.repartition(13))))
    // link prediction: integer common/union counts; memoized edges cleared
    Memo.releaseAll(spark)
    val j1 = rows(graft.ext.Sessions.graphLinkJaccard(events.coalesce(1)))
    Memo.releaseAll(spark)
    val j13 = rows(graft.ext.Sessions.graphLinkJaccard(events.repartition(13)))
    assert(j1 == j13)
    // rolling distinct, schema union, position profile, rules filter
    assert(rows(Aggs.aggRollingDistinct(events.coalesce(1))) ==
      rows(Aggs.aggRollingDistinct(events.repartition(13))))
    assert(rows(graft.ops.SetSort.unionSchemaEvolve(events.coalesce(1))) ==
      rows(graft.ops.SetSort.unionSchemaEvolve(events.repartition(13))))
    assert(rows(graft.ops.Windows.windowPositionProfile(events.coalesce(1))) ==
      rows(graft.ops.Windows.windowPositionProfile(events.repartition(13))))
    val d = docs
    assert(rows(Text.textRulesFilter(d.coalesce(1))) ==
      rows(Text.textRulesFilter(d.repartition(13))))
    assert(rows(Aggs.statTukeyOutliers(events.coalesce(1))) ==
      rows(Aggs.statTukeyOutliers(events.repartition(13))))
  }

  test("r5c6 batch is partitioning-invariant") {
    val d = docs
    assert(rows(Text.textHashedFeatures(d.coalesce(1))) ==
      rows(Text.textHashedFeatures(d.repartition(13))))
    assert(rows(Text.textReadability(d.coalesce(1))) ==
      rows(Text.textReadability(d.repartition(13))))
    assert(rows(ext.CorpusPrep.corpusTemperatureMix(d.coalesce(1))) ==
      rows(ext.CorpusPrep.corpusTemperatureMix(d.repartition(13))))
    assert(rows(ext.Sessions.eventsAttributionLinear(events.coalesce(1))) ==
      rows(ext.Sessions.eventsAttributionLinear(events.repartition(13))))
    assert(rows(ext.Multimodal.multimodalKeyframeSelect(d.coalesce(1))) ==
      rows(ext.Multimodal.multimodalKeyframeSelect(d.repartition(13))))
  }

  test("r5c7 batch is partitioning-invariant") {
    assert(rows(Aggs.aggDistinctDiffKmv(events.coalesce(1))) ==
      rows(Aggs.aggDistinctDiffKmv(events.repartition(13))))
    assert(rows(Aggs.statTheilSen(events.coalesce(1))) ==
      rows(Aggs.statTheilSen(events.repartition(13))))
    assert(rows(Aggs.statHoltForecast(events.coalesce(1))) ==
      rows(Aggs.statHoltForecast(events.repartition(13))))
    assert(rows(ext.Sessions.joinIntervalOverlap(events.coalesce(1))) ==
      rows(ext.Sessions.joinIntervalOverlap(events.repartition(13))))
  }

  test("r5c8 batch is partitioning-invariant") {
    val d = docs
    assert(rows(ops.Windows.mlLagFeatures(events.coalesce(1))) ==
      rows(ops.Windows.mlLagFeatures(events.repartition(13))))
    assert(rows(Aggs.statChangepointCusum(events.coalesce(1))) ==
      rows(Aggs.statChangepointCusum(events.repartition(13))))
    assert(rows(Aggs.statTrimmedMean(events.coalesce(1))) ==
      rows(Aggs.statTrimmedMean(events.repartition(13))))
    assert(rows(Text.textNgramNovelty(d.coalesce(1))) ==
      rows(Text.textNgramNovelty(d.repartition(13))))
  }

  test("two-phase gini rank equals the naive global-window spelling, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    // the r4 partition-less-window spelling, kept as the semantic oracle
    val perCust = orders.groupBy(col("o_custkey"))
      .agg((sum(col("o_totalprice").cast(DecimalType(28, 2))) * lit(100))
        .cast(DecimalType(38, 0)).cast("long").as("rev_cents"))
    val i = row_number().over(Window.orderBy(col("rev_cents"), col("o_custkey"))).cast("long")
    val naive = perCust.select(col("rev_cents"), (i * col("rev_cents")).as("w"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev_cents")).as("total_cents"),
        sum(col("w").cast(DecimalType(38, 0))).cast("double").as("wsum"))
      .select(col("n_customers"),
        (col("total_cents").cast("double") / lit(100.0)).as("total_revenue"),
        (lit(2.0) * col("wsum") /
          (col("n_customers").cast("double") * col("total_cents").cast("double")) -
          (col("n_customers").cast("double") + lit(1.0)) /
            col("n_customers").cast("double")).as("gini"))
    val expected = rows(naive)
    assert(rows(Aggs.statGiniRevenue(orders.coalesce(1))) == expected)
    assert(rows(Aggs.statGiniRevenue(orders.repartition(13))) == expected)
  }

  test("banded RFM quartiles equal the three-ntile-window spelling, any partitioning") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the r4 partition-less-ntile spelling, kept as the semantic oracle
    val perUser = events.groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("frequency"),
        graft.Det.dsum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("monetary"))
      .withColumn("recency_days",
        datediff(lit("2024-02-01").cast("date"), col("last_ts").cast("date")).cast("long"))
    val naive = perUser
      .withColumn("r_score", ntile(4).over(
        Window.orderBy(desc("recency_days"), col("user_id"))).cast("long"))
      .withColumn("f_score", ntile(4).over(
        Window.orderBy(col("frequency"), col("user_id"))).cast("long"))
      .withColumn("m_score", ntile(4).over(
        Window.orderBy(col("monetary"), col("user_id"))).cast("long"))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
      .orderBy("user_id")
    val expected = rows(naive)
    assert(rows(ext.Sessions.eventsRfmScores(events.coalesce(1))) == expected)
    assert(rows(ext.Sessions.eventsRfmScores(events.repartition(13))) == expected)
  }

  test("r6 operator batch is partitioning-invariant") {
    import graft.ops.Windows
    assert(rows(Windows.windowHampel(events.coalesce(1))) ==
      rows(Windows.windowHampel(events.repartition(13))))
    assert(rows(Windows.windowDrawdown(events.coalesce(1))) ==
      rows(Windows.windowDrawdown(events.repartition(13))))
    assert(rows(Aggs.statMomentsPerType(events.coalesce(1))) ==
      rows(Aggs.statMomentsPerType(events.repartition(13))))
    assert(rows(ext.Sessions.eventsRegularityScore(events.coalesce(1))) ==
      rows(ext.Sessions.eventsRegularityScore(events.repartition(13))))
    assert(rows(ext.Sessions.graphKcore(events.coalesce(1), k = 2)) ==
      rows(ext.Sessions.graphKcore(events.repartition(13), k = 2)))
    assert(rows(graft.ops.Joins.tsDownsampleLttb(events.coalesce(1))) ==
      rows(graft.ops.Joins.tsDownsampleLttb(events.repartition(13))))
    assert(rows(graft.ops.Joins.tsKalmanFilter(events.coalesce(1))) ==
      rows(graft.ops.Joins.tsKalmanFilter(events.repartition(13))))
    assert(rows(Aggs.statRunsTest(events.coalesce(1))) ==
      rows(Aggs.statRunsTest(events.repartition(13))))
    assert(rows(CorpusPrep.corpusQualityReport(docs.coalesce(1))) ==
      rows(CorpusPrep.corpusQualityReport(docs.repartition(13))))
    assert(rows(ext.Sessions.eventsInterarrivalHistogram(events.coalesce(1))) ==
      rows(ext.Sessions.eventsInterarrivalHistogram(events.repartition(13))))
    assert(rows(ext.Sessions.eventsParetoDeciles(events.coalesce(1))) ==
      rows(ext.Sessions.eventsParetoDeciles(events.repartition(13))))
    assert(rows(Aggs.statBrownForsythe(events.coalesce(1))) ==
      rows(Aggs.statBrownForsythe(events.repartition(13))))
    assert(rows(CorpusPrep.corpusLengthHistogram(docs.coalesce(1))) ==
      rows(CorpusPrep.corpusLengthHistogram(docs.repartition(13))))
    val embN = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(ext.Similarity.embNormStats(embN.coalesce(1))) ==
      rows(ext.Similarity.embNormStats(embN.repartition(13))))
  }

  test("r7 batch is partitioning-invariant") {
    assert(rows(Aggs.statAnovaF(events.coalesce(1))) ==
      rows(Aggs.statAnovaF(events.repartition(13))))
    assert(rows(Aggs.statHoltWinters(events.coalesce(1))) ==
      rows(Aggs.statHoltWinters(events.repartition(13))))
    assert(rows(Aggs.aggQuantilesSketch(events.coalesce(1))) ==
      rows(Aggs.aggQuantilesSketch(events.repartition(13))))
    assert(rows(Aggs.statWelchT(events.coalesce(1))) ==
      rows(Aggs.statWelchT(events.repartition(13))))
    assert(rows(ext.Sessions.graphDegreeAssortativity(events.coalesce(1))) ==
      rows(ext.Sessions.graphDegreeAssortativity(events.repartition(13))))
    assert(rows(ops.Windows.windowRollingMedian(events.coalesce(1))) ==
      rows(ops.Windows.windowRollingMedian(events.repartition(13))))
    assert(rows(ops.Windows.windowPeakDetect(events.coalesce(1))) ==
      rows(ops.Windows.windowPeakDetect(events.repartition(13))))
    assert(rows(Aggs.statCramersV(events.coalesce(1))) ==
      rows(Aggs.statCramersV(events.repartition(13))))
    assert(rows(Aggs.statPoissonDispersion(events.coalesce(1))) ==
      rows(Aggs.statPoissonDispersion(events.repartition(13))))
    assert(rows(Dedup.dedupCrossSource(docs.coalesce(1))) ==
      rows(Dedup.dedupCrossSource(docs.repartition(13))))
  }

  test("r7b batch is partitioning-invariant") {
    assert(rows(ops.RankStats.statKruskalWallis(events.coalesce(1))) ==
      rows(ops.RankStats.statKruskalWallis(events.repartition(13))))
    assert(rows(ops.RankStats.statMannWhitney(events.coalesce(1))) ==
      rows(ops.RankStats.statMannWhitney(events.repartition(13))))
    assert(rows(ops.RankStats.statSpearmanHourly(events.coalesce(1))) ==
      rows(ops.RankStats.statSpearmanHourly(events.repartition(13))))
    assert(rows(ops.Windows.tsSmaCrossover(events.coalesce(1))) ==
      rows(ops.Windows.tsSmaCrossover(events.repartition(13))))
    assert(rows(ops.Windows.windowBollinger(events.coalesce(1))) ==
      rows(ops.Windows.windowBollinger(events.repartition(13))))
    assert(rows(ops.Joins.joinBandNumeric(events.coalesce(1))) ==
      rows(ops.Joins.joinBandNumeric(events.repartition(13))))
    assert(rows(Dedup.dedupEditDistance(docs.coalesce(1))) ==
      rows(Dedup.dedupEditDistance(docs.repartition(13))))
    val embT = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(ext.Similarity.embTruncationRecall(embT.coalesce(1))) ==
      rows(ext.Similarity.embTruncationRecall(embT.repartition(13))))
    assert(rows(ops.Windows.windowRsi(events.coalesce(1))) ==
      rows(ops.Windows.windowRsi(events.repartition(13))))
    assert(rows(ext.Sessions.eventsCohortLtv(events.coalesce(1))) ==
      rows(ext.Sessions.eventsCohortLtv(events.repartition(13))))
    assert(rows(ext.Sessions.graphCcSizes(events.coalesce(1))) ==
      rows(ext.Sessions.graphCcSizes(events.repartition(13))))
    assert(rows(ext.Text.textLangConfusion(docs.coalesce(1))) ==
      rows(ext.Text.textLangConfusion(docs.repartition(13))))
    assert(rows(ops.RankStats.statMoodMedian(events.coalesce(1))) ==
      rows(ops.RankStats.statMoodMedian(events.repartition(13))))
    assert(rows(Aggs.tsSeasonalityStrength(events.coalesce(1))) ==
      rows(Aggs.tsSeasonalityStrength(events.repartition(13))))
    val embL = Tables.embeddings(spark, "/root/testdata/sf0.001")
    assert(rows(ext.Similarity.embPqCodesLloyd(embL.coalesce(1))) ==
      rows(ext.Similarity.embPqCodesLloyd(embL.repartition(13))))
    assert(rows(ext.Sessions.eventsGrowthAccounting(events.coalesce(1))) ==
      rows(ext.Sessions.eventsGrowthAccounting(events.repartition(13))))
    assert(rows(CorpusPrep.corpusDedupFunnel(docs.coalesce(1))) ==
      rows(CorpusPrep.corpusDedupFunnel(docs.repartition(13))))
    assert(rows(Sampling.samplePriorityWeighted(docs.coalesce(1))) ==
      rows(Sampling.samplePriorityWeighted(docs.repartition(13))))
    assert(rows(Aggs.statPageHinkley(events.coalesce(1))) ==
      rows(Aggs.statPageHinkley(events.repartition(13))))
    assert(rows(Aggs.tsSeasonalAnomaly(events.coalesce(1))) ==
      rows(Aggs.tsSeasonalAnomaly(events.repartition(13))))
    assert(rows(Sampling.sampleHamiltonAlloc(docs.coalesce(1))) ==
      rows(Sampling.sampleHamiltonAlloc(docs.repartition(13))))
  }

  test("gini and rfm plans have no partition-less window over a data-scaled frame") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    for (df <- Seq(Aggs.statGiniRevenue(orders), ext.Sessions.eventsRfmScores(events))) {
      val bare = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      // the only partition-less windows allowed are the exclusive prefix
      // sums over the per-range-partition totals frame (__pid-ordered,
      // <= shuffle-partitions rows) — never over the customer/user frame
      assert(bare.forall(_.orderSpec.exists(_.child.references.exists(_.name == "__pid"))),
        s"partition-less window over a data-scaled frame:\n${bare.mkString("\n")}")
    }
  }
}
