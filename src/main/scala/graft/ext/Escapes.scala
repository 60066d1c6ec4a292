package graft.ext

import org.apache.spark.sql.DataFrame

/** r10 (VERDICT r9 #8): AUTO-DISPATCH over the declared exact/escape
  * pairs. The library's budget discipline gives every deliberately-
  * expensive exact form a pre-flight budget that fails LOUDLY naming a
  * declared, hash-gated escape (`graph_link_jaccard` → `_capped`,
  * `graph_triangles`/`graph_local_clustering` → `_fine`,
  * `stat_hodges_lehmann` → `_coarse`). That is the right default UX —
  * a 100 TB job should never silently degrade semantics — but an
  * unattended pipeline that PREFERS degraded-but-done gets the
  * self-routing form here: run the SAME pre-flight number the budget
  * checks, pick the exact form under budget and the declared escape
  * above it, loudly logging the routing decision. The escape keeps its
  * own (inner) budget, so a graph/vocabulary too dense even for the
  * escape still fails loudly — dispatch never cascades past the
  * declared pair into silence.
  *
  * Both members of every pair share one output schema and one oracle SQL
  * template (the shared-template discipline), so callers can route
  * without schema branches — `EscapesSpec` pins schema equality and the
  * under/over-budget routing on live data. */
object Escapes {

  /** The declared pairs this dispatcher knows, by exact-form query name. */
  val pairs: Map[String, String] = Map(
    "stat_hodges_lehmann"     -> "stat_hodges_lehmann_coarse",
    "graph_link_jaccard"      -> "graph_link_jaccard_capped",
    "graph_triangles"         -> "graph_triangles_fine",
    "graph_local_clustering"  -> "graph_local_clustering_fine",
    "join_interval_overlap"   -> "join_interval_overlap_min",
    "dedup_embedding_cosine"  -> "dedup_embedding_cosine_lsh",
    "sim_knn_join"            -> "sim_knn_join_lsh",
    "dedup_ngram_jaccard"     -> "dedup_ngram_jaccard_capped",
    "dedup_containment"       -> "dedup_containment_capped")

  private def log(query: String, metric: String, value: Any, budget: Long,
                  chose: String): Unit =
    // a routing decision is operational state — surfaced on the driver log
    // the way the budgets' own failures are
    System.err.println(
      s"[graft.Escapes] $query: $metric = $value vs budget $budget -> $chose")

  /** Hodges–Lehmann: exact cent vocabulary under budget, decicent
    * quantization above it. */
  def hodgesLehmann(events: DataFrame, classA: String = "click",
      classB: String = "view", maxVocab: Long = 20000000L): DataFrame = {
    val v = graft.ops.RankStats.hlVocabCount(events, classA, classB)
    if (v <= maxVocab) {
      log("stat_hodges_lehmann", "vocab", v, maxVocab, "exact")
      graft.ops.RankStats.statHodgesLehmann(events, classA, classB, maxVocab)
    } else {
      log("stat_hodges_lehmann", "vocab", v, maxVocab,
        "coarse (unitCents=10)")
      graft.ops.RankStats.statHodgesLehmann(events, classA, classB,
        maxVocab, unitCents = 10L)
    }
  }

  /** Link prediction: exact witnesses under the Σdeg² budget, deg ≤ 64
    * capped witnesses above it. */
  def linkJaccard(events: DataFrame, k: Int = 20,
      wedgeBudget: Long = 2000000000L): DataFrame = {
    val w = Sessions.jaccardWedges(events)
    if (w.compareTo(java.math.BigDecimal.valueOf(wedgeBudget)) <= 0) {
      log("graph_link_jaccard", "sum deg^2", w, wedgeBudget, "exact")
      Sessions.graphLinkJaccard(events, k, wedgeBudget = wedgeBudget)
    } else {
      log("graph_link_jaccard", "sum deg^2", w, wedgeBudget,
        "capped (maxWitnessDeg=64)")
      Sessions.graphLinkJaccard(events, k, maxWitnessDeg = 64L)
    }
  }

  /** Triangle census: minute buckets under the wedge budget, second
    * buckets (coincidence semantics) above it. */
  def triangles(events: DataFrame,
      wedgeBudget: Long = 2000000000L): DataFrame =
    censusRoute(events, wedgeBudget, "graph_triangles") { bucket =>
      Sessions.graphTriangles(events, bucket, wedgeBudget)
    }

  /** Local clustering: the same census routing for the per-node form. */
  def localClustering(events: DataFrame,
      wedgeBudget: Long = 2000000000L): DataFrame =
    censusRoute(events, wedgeBudget, "graph_local_clustering") { bucket =>
      Sessions.graphLocalClustering(events, bucket, wedgeBudget)
    }

  private def censusRoute(events: DataFrame, wedgeBudget: Long,
      query: String)(run: String => DataFrame): DataFrame = {
    val w = Sessions.censusWedges(events, "minute")
    if (w.compareTo(java.math.BigDecimal.valueOf(wedgeBudget)) <= 0) {
      log(query, "wedges", w, wedgeBudget, "exact (minute buckets)")
      run("minute")
    } else {
      log(query, "wedges", w, wedgeBudget, "fine (second buckets)")
      run("second")
    }
  }

  /** Interval overlap: exact Θ(pairs) emission under the session-day
    * pair bound, the ≥ 4 h sustained-co-presence form above it (the sf3
    * probe's measured calibration: sf1's bound 6.4·10⁹ runs, sf3's
    * 5.8·10¹⁰ fills a single node's spill disk).
    *
    * r12 (VERDICT r11 #2): ONE sessionize. The session-day frame is built
    * and materialized (DISK_ONLY — the exact form's own measured storage
    * decision) HERE, the routing bound is an action on it, and the chosen
    * sweep re-reads the same blocks via [[Sessions.overlapSweep]] — the
    * previous spelling sessionized the event table three times (router
    * bound + the inner pre-flight + the sweep), two extra linear passes
    * over the largest table at 100 TB. */
  def intervalOverlap(events: DataFrame, gapMinutes: Int = 360,
      pairBudget: Long = 20000000000L): DataFrame = {
    val sessDays = Sessions.sessionDays(events, gapMinutes)
    val b = Sessions.dayPairBound(sessDays)
    if (b.compareTo(java.math.BigDecimal.valueOf(pairBudget)) <= 0) {
      log("join_interval_overlap", "day-pair bound", b, pairBudget, "exact")
      Sessions.overlapSweep(sessDays, minOverlapUs = 0L)
    } else {
      log("join_interval_overlap", "day-pair bound", b, pairBudget,
        "min (sustained >= 240 min)")
      Sessions.overlapSweep(sessDays, Sessions.SustainedOverlapUs)
    }
  }

  /** r11 (VERDICT r10 #1): embedding near-dup — exact block-nested
    * all-pairs under the n(n−1)/2 pair budget, sign-bucket LSH
    * candidates + exact verify above it. The routing metric is the SAME
    * corpus count the exact form's pre-flight checks. */
  def embeddingCosine(embeddings: DataFrame,
      pairBudget: Long = 20000000000L): DataFrame = {
    val n = embeddings.count()
    val p = Similarity.exactPairs(n)
    if (p.compareTo(java.math.BigInteger.valueOf(pairBudget)) <= 0) {
      log("dedup_embedding_cosine", "pairs n(n-1)/2", p, pairBudget, "exact")
      Similarity.dedupEmbeddingCosine(embeddings, pairBudget = pairBudget)
    } else {
      log("dedup_embedding_cosine", "pairs n(n-1)/2", p, pairBudget,
        "lsh (sign buckets, exact verify)")
      // the router's count feeds the escape's bits derivation (no second
      // count). The router's pairBudget is the ROUTING trigger, not the
      // escape's work limit — the escape keeps its own default inner
      // budget (a lowered trigger must not strangle the route it forces).
      Similarity.dedupEmbeddingCosineLsh(embeddings, knownCount = n)
    }
  }

  /** r11: k-NN join — the same routing for the top-k-per-vector form. */
  def knnJoin(embeddings: DataFrame,
      pairBudget: Long = 20000000000L): DataFrame = {
    val n = embeddings.count()
    val p = Similarity.exactPairs(n)
    if (p.compareTo(java.math.BigInteger.valueOf(pairBudget)) <= 0) {
      log("sim_knn_join", "pairs n(n-1)/2", p, pairBudget, "exact")
      Similarity.simKnnJoin(embeddings, pairBudget = pairBudget)
    } else {
      log("sim_knn_join", "pairs n(n-1)/2", p, pairBudget,
        "lsh (sign buckets)")
      Similarity.simKnnJoinLsh(embeddings, knownCount = n)
    }
  }

  /** r11 (the sf3 shingle probe): n-gram Jaccard — full df cap (1000)
    * under the pair-expansion budget, df ≤ 64 capped postings above it.
    * The routing metric is the SAME Σ df(df−1)/2 the candidate
    * expansion's pre-flight checks. */
  def ngramJaccard(documents: DataFrame,
      pairBudget: Long = 20000000000L): DataFrame = {
    val b = Dedup.pairExpansionBound(documents)
    if (b.compareTo(java.math.BigDecimal.valueOf(pairBudget)) <= 0) {
      log("dedup_ngram_jaccard", "pair expansion", b, pairBudget, "exact")
      // forward pairBudget (r11 ADVICE): a caller who knowingly raised it
      // must not hit the inner pre-flight's DEFAULT budget
      Dedup.dedupNgramJaccard(documents, pairBudget = pairBudget)
    } else {
      log("dedup_ngram_jaccard", "pair expansion", b, pairBudget,
        "capped (maxDf=64)")
      // escape branch keeps its own default inner budget: the router's
      // pairBudget is the routing trigger, and a LOWERED trigger must not
      // strangle the very route it forces (the capped bound saturates at
      // 2016·vocab, far under the default)
      Dedup.dedupNgramJaccard(documents, maxDf = 64)
    }
  }

  /** r11: containment — the same routing for the asymmetric-overlap form. */
  def containment(documents: DataFrame,
      pairBudget: Long = 20000000000L): DataFrame = {
    val b = Dedup.pairExpansionBound(documents)
    if (b.compareTo(java.math.BigDecimal.valueOf(pairBudget)) <= 0) {
      log("dedup_containment", "pair expansion", b, pairBudget, "exact")
      Dedup.dedupContainment(documents, pairBudget = pairBudget)
    } else {
      log("dedup_containment", "pair expansion", b, pairBudget,
        "capped (maxDf=64)")
      Dedup.dedupContainment(documents, maxDf = 64)
    }
  }

  /** Generic entry: route a query with a declared escape by name. */
  def dispatch(query: String, df: DataFrame): DataFrame = query match {
    case "stat_hodges_lehmann"    => hodgesLehmann(df)
    case "graph_link_jaccard"     => linkJaccard(df)
    case "graph_triangles"        => triangles(df)
    case "graph_local_clustering" => localClustering(df)
    case "join_interval_overlap"  => intervalOverlap(df)
    case "dedup_embedding_cosine" => embeddingCosine(df)
    case "sim_knn_join"           => knnJoin(df)
    case "dedup_ngram_jaccard"    => ngramJaccard(df)
    case "dedup_containment"      => containment(df)
    case other => throw new IllegalArgumentException(
      s"$other has no declared exact/escape pair; known: ${pairs.keys.toSeq.sorted.mkString(", ")}")
  }
}
