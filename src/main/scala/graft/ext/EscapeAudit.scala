package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r13 (VERDICT r12 #6, completing the §2.13 escape-cascade audit): the
  * DEGRADATION of every declared exact/escape pair measured as a
  * first-class, oracle-checked query — the `sim_search_ivf_recall` /
  * `sim_knn_lsh_recall` discipline extended from the embedding family to
  * the remaining rows of the audit table. The contract language in each
  * budget error says what the escape trades away (witness recall, pair
  * recall, location resolution, episode coverage, census density); these
  * queries make each trade a NUMBER a pipeline can read at its own data
  * before accepting a route, instead of a scaladoc sentence.
  *
  * Every query here COMPOSES two already-declared, already-hash-verified
  * forms (the exact member and its escape) and reduces them to one
  * summary row of integer counts plus at most one small-int-ratio divide
  * — so the whole report is engine-exact and each oracle is the two
  * existing SQL templates spliced as subqueries over the same corpus
  * (the IVF_RECALL_SQL technique). No new pipeline machinery: the
  * compositions ride the same memoized frames ([[graft.Memo]]) and
  * materializations their members already share, so the audit costs one
  * extra pass over small derived frames, not a rebuild.
  *
  * Scale posture: each composition inherits BOTH members' pre-flight
  * budgets unchanged (the exact member's guard fires before any work, as
  * it must — auditing an escape at a scale where the exact form cannot
  * run is exactly the regime where the answer is "run the audit at a
  * smaller, representative SF", which is how the committed probe records
  * use these queries). */
object EscapeAudit {

  /** Hodges–Lehmann exact (cent vocabulary) vs the decicent coarse
    * escape: the location-resolution cost of the quantization rung as
    * one row of exact integers. |err| is bounded by the unit by
    * construction (the coarse form selects over floor-divided buckets
    * and rescales), so the row doubles as a live check that the escape's
    * stated resolution holds on the caller's own value distribution. */
  def statHodgesLehmannErr(events: DataFrame, classA: String = "click",
      classB: String = "view", maxVocab: Long = 20000000L,
      unitCents: Long = 10L): DataFrame = {
    val ex = graft.ops.RankStats.statHodgesLehmann(events, classA, classB,
      maxVocab).select(col("hl_cents").as("hl_exact_cents"))
    val co = graft.ops.RankStats.statHodgesLehmann(events, classA, classB,
      maxVocab, unitCents).select(col("hl_cents").as("hl_coarse_cents"))
    ex.crossJoin(co).select(
      col("hl_exact_cents"), col("hl_coarse_cents"),
      (col("hl_coarse_cents") - col("hl_exact_cents")).as("err_cents"),
      abs(col("hl_coarse_cents") - col("hl_exact_cents")).as("abs_err_cents"),
      lit(unitCents).as("unit_cents"))
  }

  /** Link-prediction top-k under the exact wedge join vs the
    * maxWitnessDeg = 64 capped escape: how much of the exact top-k list
    * the cap keeps (set overlap on predicted pairs) and how many
    * common-witness counts the cap discards on the pairs both lists keep
    * (the integer witness deficit — capped witnesses are a subset, so the
    * per-pair difference is ≥ 0). One full-outer join of two ≤ k-row
    * frames; both members ride the memoized census degree frame. */
  def graphLinkJaccardRecall(events: DataFrame, k: Int = 20,
      maxWitnessDeg: Long = 64L): DataFrame = {
    val ex = Sessions.graphLinkJaccard(events, k)
      .select(col("a"), col("b"), col("common"), lit(1L).as("e"))
    val cp = Sessions.graphLinkJaccard(events, k, maxWitnessDeg = maxWitnessDeg)
      .select(col("a"), col("b"), col("common").as("common_capped"),
        lit(1L).as("x"))
    ex.join(cp, Seq("a", "b"), "full_outer")
      .agg(coalesce(sum(col("e")), lit(0L)).as("k_exact"),
        coalesce(sum(col("x")), lit(0L)).as("k_capped"),
        coalesce(sum(col("e") * col("x")), lit(0L)).as("n_overlap"),
        coalesce(sum(when(col("e") * col("x") === 1L,
          col("common") - col("common_capped"))), lit(0L))
          .as("witness_deficit"))
      .withColumn("topk_recall", when(col("k_exact") > 0L,
        col("n_overlap").cast("double") / col("k_exact").cast("double")))
  }

  /** The census family's density knob measured: the minute-bucket
    * (exact) and second-bucket (fine escape) co-activity censuses side
    * by side, with the wedge shed — the Σ deg(deg−1)/2 work the escape
    * removes — as an explicit integer column. One row; both censuses
    * ride their own memoized edge/degree frames, and each inherits its
    * own wedge-budget pre-flight unchanged. */
  def graphCensusBucketShift(events: DataFrame): DataFrame = {
    val m = Sessions.graphTriangles(events, "minute").select(
      col("n_edges").as("edges_minute"), col("n_triangles").as("tri_minute"),
      col("n_wedges").as("wedges_minute"),
      col("clustering_coeff").as("coeff_minute"))
    val s = Sessions.graphTriangles(events, "second").select(
      col("n_edges").as("edges_second"), col("n_triangles").as("tri_second"),
      col("n_wedges").as("wedges_second"),
      col("clustering_coeff").as("coeff_second"))
    m.crossJoin(s).select(
      col("edges_minute"), col("edges_second"),
      col("tri_minute"), col("tri_second"),
      col("wedges_minute"), col("wedges_second"),
      (col("wedges_minute") - col("wedges_second")).as("wedge_shed"),
      col("coeff_minute"), col("coeff_second"))
  }

  /** Interval-overlap exact sweep vs the ≥ 4 h sustained escape: how
    * many co-present user pairs (and underlying co-session episodes)
    * the duration floor sheds. ONE sessionize AND (r13 OPT, guide §2.4)
    * ONE sweep: the first cut swept the DISK_ONLY session-day frame
    * twice (once per rollup) for a 1-row report; both rollups are
    * derivable from one per-pair (episode count, sustained-episode
    * count) aggregate over a single episode pass — measured 5.2 → 2.9 s
    * at sf0.1, output hash-identical. Still pre-flighted against the
    * exact member's own day-pair budget — this audit RUNS the exact
    * sweep, so it must refuse exactly where the exact member refuses. */
  def joinIntervalOverlapShed(events: DataFrame, gapMinutes: Int = 360,
      pairBudget: Long = 20000000000L): DataFrame = {
    val sessDays = Sessions.sessionDays(events, gapMinutes)
    if (pairBudget > 0)
      Sessions.checkOverlapBudget(Sessions.dayPairBound(sessDays), pairBudget)
    val perPair = Sessions.sweptEpisodes(sessDays)
      .groupBy(col("user_a"), col("user_b"))
      .agg(count(lit(1)).as("ep"),
        sum(when(col("overlap_us") >= Sessions.SustainedOverlapUs, 1L)
          .otherwise(0L)).as("ep_s"))
    perPair.agg(
        count(lit(1)).as("n_pairs_exact"),
        coalesce(sum(when(col("ep_s") > 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_pairs_sustained"),
        coalesce(sum(col("ep")), lit(0L)).as("episodes_exact"),
        coalesce(sum(col("ep_s")), lit(0L)).as("episodes_sustained"))
      .select(
        col("n_pairs_exact"), col("n_pairs_sustained"),
        (col("n_pairs_exact") - col("n_pairs_sustained")).as("n_pairs_shed"),
        col("episodes_exact"), col("episodes_sustained"),
        when(col("n_pairs_exact") > 0L,
          col("n_pairs_sustained").cast("double") /
            col("n_pairs_exact").cast("double")).as("retained_frac"))
  }

  /** Shared one-row pair-set audit: exact pair set vs an approximate
    * pair set on (doc_a, doc_b), full-outer joined and reduced to
    * integer counts + one small-int-ratio recall divide. The
    * `approxOnly` column is the INVENTED-pair count — 0 certifies the
    * false-negative-only miss direction on the caller's corpus (the
    * embedding LSH recall query's device, proven by the oracle rather
    * than assumed). */
  private def pairSetAudit(exact: DataFrame, approx: DataFrame,
      approxCount: String, approxOnly: String): DataFrame = {
    val e = exact.select(col("doc_a"), col("doc_b"), lit(1L).as("e"))
    val x = approx.select(col("doc_a"), col("doc_b"), lit(1L).as("x"))
    e.join(x, Seq("doc_a", "doc_b"), "full_outer")
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("x")), lit(0L)).as(approxCount),
        coalesce(sum(col("e") * col("x")), lit(0L)).as("n_overlap"),
        coalesce(sum(when(col("e").isNull, col("x"))), lit(0L)).as(approxOnly))
      .withColumn("pair_recall", when(col("n_exact") > 0L,
        col("n_overlap").cast("double") / col("n_exact").cast("double")))
  }

  /** n-gram Jaccard exact (df ≤ 1000) vs the df ≤ 64 capped escape at
    * the shared threshold: pair recall of the cap. The capped jaccard
    * c_cap/(na+nb−c_cap) only ever shrinks (the cap removes shared
    * shingles from c while na/nb stay full set sizes), so capped pairs
    * are a subset of exact pairs — `n_capped_only` = 0 certifies that on
    * the caller's corpus. Both members ride their own memoized
    * pair-counts frames. */
  def dedupNgramCappedRecall(documents: DataFrame, threshold: Double = 0.3,
      cappedDf: Int = 64): DataFrame =
    pairSetAudit(
      Dedup.dedupNgramJaccard(documents, threshold),
      Dedup.dedupNgramJaccard(documents, threshold, maxDf = cappedDf),
      "n_capped", "n_capped_only")

  /** MinHash banded-LSH near-dup (the family's 100 TB workhorse) vs the
    * exact inverted-index jaccard at the shared threshold: banding keeps
    * a pair only when some band's 4 minhash slots all collide, so it
    * misses true pairs (band-boundary losses — THE minhash trade) and,
    * because its verify step is exact jaccard over FULL shingle sets
    * while the exact member's jaccard reads df ≤ 1000 capped counts, it
    * can also surface pairs the capped-exact form missed when the cap
    * bites (`n_minhash_only` measures exactly that seam; 0 on corpora
    * whose dfs stay under the cap). */
  def dedupMinhashRecall(documents: DataFrame,
      threshold: Double = 0.3): DataFrame =
    pairSetAudit(
      Dedup.dedupNgramJaccard(documents, threshold),
      Dedup.dedupNearMinhash(documents, threshold),
      "n_minhash", "n_minhash_only")
}
