package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Memo

/** Deduplication operators over the documents table (SURVEY.md §2.10 X1/X2
  * plus SimHash and n-gram-Jaccard from the training-pipeline north star).
  *
  * Scale design: the exact near-dup path (ngram Jaccard) uses an
  * inverted-index self-join on shingles — candidate pairs are generated by
  * shared shingles and Jaccard is computed from match COUNTS, never by
  * materializing pairwise array intersections. MinHash/SimHash add the
  * sub-linear candidate generation (band LSH / chunk pigeonhole) for the
  * 100 TB path.
  *
  * The tokenize/shingle scan is shared: all three near-dup operators read
  * the same memoized, persisted (doc_id, tokens)/(doc_id, shingles) frames,
  * so a session running the trio tokenizes the corpus once instead of three
  * times (and never leaves per-query orphaned caches behind — one frame per
  * source, reused by every consumer and every rerun).
  */
object Dedup {

  /** Releases every [[graft.Memo]] entry of `spark`. Kept because the
    * benchmark harness calls it (`e2ebench/src/BatchLoad.scala:80`,
    * `e2ebench/src/Harness.scala:47`). */
  def clearSharedCache(spark: SparkSession): Unit = Memo.releaseAll(spark)

  /** Shared tokenized corpus: (doc_id, t) with t = lowercased word tokens
    * (multiplicity preserved — SimHash weights votes by occurrence). */
  private def tokensOf(documents: DataFrame): DataFrame =
    Memo.frame(documents, "tokens")(
      documents.select(col("doc_id"), Text.tokens(col("text")).as("t")))

  /** Shared distinct trigram shingles per doc (docs shorter than 3 tokens
    * drop), derived from [[tokensOf]] so the tokenize runs once. Built in
    * a typed pass: the expression form (array_distinct over a transform)
    * evaluates the HOF interpreted per element — a corpus-sized CPU
    * multiplier on the one pass everything downstream shares. First-seen
    * order matches array_distinct; consumers are order-insensitive
    * anyway. */
  private def shingleSetsOf(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    Memo.frame(documents, "shingles")(
      tokensOf(documents).as[(Long, Seq[String])]
        .mapPartitions(_.flatMap { case (id, t) =>
          if (t.length < 3) Iterator.empty
          else {
            val seen = new java.util.LinkedHashSet[String]
            var i = 0
            while (i + 2 < t.length) {
              seen.add(t(i) + " " + t(i + 1) + " " + t(i + 2))
              i += 1
            }
            Iterator((id, seen.toArray(Array.empty[String])))
          }
        })
        .toDF("doc_id", "shingles"))
  }

  /** X1: exact dedup — group identical texts (via fingerprint), keep the
    * lowest doc_id as canonical (deterministic dropDuplicates). */
  def dedupExact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("n_copies"), col("text_md5"))
      .orderBy("keep_doc_id")

  /** Skew guard for [[dedupNgramJaccard]]: ultra-common shingles carry no
    * near-dup signal and would blow up the posting-pair expansion
    * quadratically. The oracle SQL carries the same HAVING cap, so
    * semantics stay identical. */
  val MaxShingleDf = 1000

  /** The exact n-gram Jaccard near-dup pair set (unordered output), via
    * inverted index: shingle postings → ordered-pair expansion → count
    * matches per pair → jaccard = c / (|A| + |B| - c). Linear in total
    * postings, not quadratic in docs. Memoized+persisted per
    * (corpus, threshold) — [[dedupNgramJaccard]] and [[dedupClusters]]
    * both consume it, so running both costs one pipeline pass. */
  private def jaccardPairsOf(documents: DataFrame, threshold: Double,
      maxDf: Int = MaxShingleDf,
      pairBudget: Long = 20000000000L): DataFrame =
    pairCountsOf(documents, maxDf, pairBudget)
      .withColumn("jaccard", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Posting-entry expansion (doc_id, set size, shingle) over the shared
    * shingle frame — each entry carries its doc's shingle-set size, so no
    * join back to a sizes table (which would re-run the shingling — Spark
    * has no cross-branch subplan reuse). The flatMap (not explode) is
    * deliberate: Generate re-evaluates an expression-valued generator
    * child in interpreted mode per OUTPUT row — ~10s at sf0.1 — while the
    * typed boundary materializes each shingle array once in the upstream
    * codegen stage and streams it out. */
  private def postingsOf(documents: DataFrame): DataFrame = {
    val sets = shingleSetsOf(documents)
    val spark = documents.sparkSession
    import spark.implicits._
    sets.as[(Long, Seq[String])]
      .flatMap { case (id, sh) => sh.iterator.map(s => (id, sh.length, s)) }
      .toDF("doc_id", "n", "sh")
  }

  /** r11 (the sf3 shingle probe): the inverted-index family's pre-flight
    * metric — Σ df(df−1)/2 over the kept (2 ≤ df ≤ maxDf) shingle
    * postings, the EXACT ordered-pair expansion count the candidate
    * flatMap will emit — together with the localCheckpoint'd kept-df
    * frame it was measured on (one postings scan feeds the metric and
    * the candidate join; the interval-overlap one-scan discipline). The
    * probe measured the growth regime the df cap allows: the synthetic
    * 31-word vocabulary saturates its 29 791 trigrams toward the cap, and
    * the bound went 1.3·10⁶ (sf0.1) → 1.2·10⁸ (sf1, 1.1 s) → 1.0·10⁹
    * (sf3, 9.6 s measured) — x^1.9 in docs until the cap ceiling
    * (vocab·cap²/2 ≈ 1.5·10¹⁰ here). Real Zipfian corpora keep dfs small,
    * but the budget makes the worst case loud instead of slow: ~1e8
    * pairs/s measured single-node, so the 2·10¹⁰ default (the shared
    * quadratic-budget figure) ≈ 3 min — past it the capped escape
    * (maxDf 64: bound saturates FLAT at 2016·vocab, 6·10⁷ here at every
    * SF) is the declared route. Memoized per (corpus, maxDf), so the
    * bound is computed once; budget comparisons run outside the memo on
    * every call ([[pairCountsOf]]), so a frame built under one budget never
    * skips a later caller's stricter guard. */
  private def keptDfsWithBound(documents: DataFrame,
      maxDf: Int): (DataFrame, java.math.BigDecimal) =
    Memo.value(documents, s"kept-dfs-$maxDf") {
      // The document-frequency cap is applied BEFORE posting-list
      // collection downstream: this count aggregate (map-side partial,
      // cheap) filters hot shingles so only surviving postings are ever
      // collected into a list buffer.
      val dfs = postingsOf(documents).groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, maxDf))
        .localCheckpoint() // vocab-bounded; one postings scan, two readers
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val bound = dfs.agg(coalesce(
        sum(call_function("div", col("df").cast(dec) * (col("df") - 1),
          lit(2L).cast(dec))),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("b"))
        .head().getDecimal(0)
      (dfs, bound)
    }

  private[graft] def pairExpansionBound(documents: DataFrame,
      maxDf: Int = MaxShingleDf): java.math.BigDecimal =
    keptDfsWithBound(documents, maxDf)._2

  /** Shared-shingle pair counts (doc_a < doc_b, na/nb set sizes, c
    * overlap) over the DF-capped trigram vocabulary — the common core of
    * [[dedupNgramJaccard]] and [[dedupContainment]] (thresholds differ,
    * counts don't, so both memoize ONE frame per maxDf). r11: past
    * `pairBudget` the expansion fails loudly naming the capped escapes
    * instead of grinding out Σdf² work. r12 (VERDICT r11 ADVICE): the
    * budget COMPARISON runs outside the memo on EVERY call — a frame
    * memoized under a loose budget no longer skips a later caller's
    * stricter guard — against the bound [[keptDfsWithBound]] computed
    * once at build. */
  private def pairCountsOf(documents: DataFrame, maxDf: Int = MaxShingleDf,
      pairBudget: Long = 20000000000L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (dfs, bound) = keptDfsWithBound(documents, maxDf)
    if (pairBudget > 0 &&
        bound.compareTo(java.math.BigDecimal.valueOf(pairBudget)) > 0)
      throw new IllegalStateException(
        s"shingle pair expansion: Σ df(df-1)/2 = $bound over the " +
          s"df ≤ $maxDf postings exceeds the $pairBudget budget — the " +
          "candidate flatMap emits exactly that many ordered pairs " +
          "(measured ~1e8 pairs/s single-node; the sf3 probe's growth " +
          "regime). Run the declared capped escapes " +
          "(dedup_ngram_jaccard_capped / dedup_containment_capped, " +
          "maxDf = 64 — bound saturates at 2016·vocab), provision a " +
          "cluster, or raise pairBudget knowingly.")
    val ex = postingsOf(documents)
    Memo.frame(documents, s"pair-counts-$maxDf") {
      // Posting lists per shingle, then map-side ordered-pair expansion.
      // Only cap-surviving postings are collected, so the collect_list
      // buffer is bounded by maxDf. Collecting first and filtering after
      // would buffer a degenerate shingle's entire posting list (unbounded
      // at corpus scale) in one aggregation buffer. The join and the final
      // groupBy share the shingle partitioning, so the cap costs one extra
      // shuffle of the postings, not two.
      val keep = dfs.select(col("sh"))
      ex.join(keep, "sh")
        .groupBy(col("sh"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ids"))
        .select(col("ids")).as[Seq[(Long, Int)]]
        .flatMap { ids =>
          for { j <- 1 until ids.length; i <- 0 until j }
            yield (ids(i)._1, ids(j)._1, ids(i)._2, ids(j)._2)
        }
        .toDF("doc_a", "doc_b", "na", "nb")
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("c"))
    }
  }

  def dedupNgramJaccard(documents: DataFrame, threshold: Double = 0.3,
      maxDf: Int = MaxShingleDf,
      pairBudget: Long = 20000000000L): DataFrame =
    jaccardPairsOf(documents, threshold, maxDf, pairBudget)
      .orderBy("doc_a", "doc_b")

  /** r12: per-document duplicated-ngram coverage — for each doc, the
    * fraction of its distinct trigram shingles that occur in at least one
    * OTHER doc (df ≥ 2 corpus-wide). The curation read the pair-level
    * dedup family doesn't give: a doc can evade every pairwise threshold
    * (its copies spread across MANY partners) while 90% of its text is
    * boilerplate — dup-ngram coverage is the standard corpus-quality
    * column for exactly that (rank by it, cut the top tail). UNCAPPED
    * df on purpose: ultra-hot shingles carry no near-dup PAIR signal
    * (why [[MaxShingleDf]] caps the pair expansion) but they are the
    * strongest duplication signal per doc. Plan: the memoized shingle
    * frame (sizes read map-side via `size()`, no agg), one vocab-bounded
    * df build (memoized), one semi-join of postings against the df ≥ 2
    * vocabulary, one doc-keyed count — linear in postings at any corpus
    * size, no pair expansion anywhere, so no budget needed. Docs shorter
    * than 3 tokens report 0 shingles and a NULL fraction. */
  def textDupNgramCoverage(documents: DataFrame): DataFrame = {
    val ex = postingsOf(documents)
    val dfs2 = Memo.frame(documents, "dfs-ge2")(
      ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2).select(col("sh")))
    val totals = shingleSetsOf(documents)
      .select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
    val shared = ex.join(dfs2, Seq("sh"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup_shingles"))
    documents.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup_shingles"), lit(0L)).as("n_dup_shingles"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0L,
          coalesce(col("n_dup_shingles"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("dup_fraction"))
      .orderBy("doc_id")
  }

  /** r12: the dedup-rate sensitivity curve — near-dup PAIR counts and
    * affected-doc counts at a fixed Jaccard threshold ladder, in one
    * pass over the memoized shared-shingle pair frame. The curve is what
    * a curation run reads BEFORE committing to a threshold (dedup rates
    * are threshold-cliffed; picking 0.8 vs 0.7 can halve a corpus), and
    * computing it costs one broadcast of the 8-row ladder against the
    * pair frame the dedup queries already built — not eight dedup runs.
    * Counts are integers; the ladder is dyadic-safe (k/10 spelled
    * identically in both engines from integer k). */
  def dedupThresholdCurve(documents: DataFrame,
      maxDf: Int = MaxShingleDf): DataFrame = {
    val spark = documents.sparkSession
    // Each pair's RUNG — the highest ladder step its jaccard clears — in
    // EXACT integer arithmetic: j ≥ k/10 ⇔ 10c ≥ k(na+nb−c), so
    // rung = ⌊10c/(na+nb−c)⌋ (floored long div, capped at the ladder top).
    // Rational, not double, so no representation-boundary surprises at
    // j = k/10 exactly, and trivially identical in DuckDB (`//`). One
    // rung per pair REPLACES the first cut's pair×ladder expansion + 8
    // count_distincts (22.6× on 10× data at sf1 — the pair frame times
    // ~avg-rung multiplicity crossed the wire); now the pair frame
    // collapses to two ≤9-row histograms (pairs per rung; docs per MAX
    // rung — a doc is droppable at k iff its best pair clears k, so the
    // per-doc max is the sufficient statistic) and the curve is a suffix
    // sum over each, joined to the broadcast ladder. Work: the memoized
    // pair frame + two keyed aggs, nothing pair×rung-shaped anywhere.
    val pairs = pairCountsOf(documents, maxDf)
      .withColumn("rung", least(call_function("div",
        lit(10L) * col("c"), col("na") + col("nb") - col("c")), lit(8L)))
    // r13: ONE scan of the pair frame, not two. The r12 spelling ran
    // pairHist and docHist as separate aggregations — two full reads of
    // the memoized (possibly disk-spilled) pair frame, and the sf3 probe
    // measured the curve at 2.2× its containment sibling on the SAME
    // frame (28.9 s vs 13.3 s). Both histograms are derivable from the
    // (doc_b, rung) contingency frame — ≤ 9·docs rows, map-side partials
    // shrink the shuffle to that — so build it once and aggregate twice
    // on the TINY frame instead of twice on the pair frame.
    val docRung = Memo.frame(documents, s"curve-doc-rung-$maxDf")(
      pairs.groupBy(col("doc_b"), col("rung"))
        .agg(count(lit(1)).as("cnt")))
    val pairHist = docRung.groupBy(col("rung")).agg(sum(col("cnt")).as("np"))
    val docHist = docRung.groupBy(col("doc_b")).agg(max(col("rung")).as("rung"))
      .groupBy(col("rung")).agg(count(lit(1)).as("nd"))
    val ladder = spark.range(1, 9)
      .select(col("id").as("k"), (col("id").cast("double") / 10.0).as("threshold"))
    val np = ladder.join(pairHist, col("rung") >= col("k"), "left")
      .groupBy(col("k"), col("threshold"))
      .agg(coalesce(sum(col("np")), lit(0L)).as("n_dup_pairs"))
    val nd = ladder.join(docHist, col("rung") >= col("k"), "left")
      .groupBy(col("k"))
      .agg(coalesce(sum(col("nd")), lit(0L)).as("n_docs_droppable"))
    np.join(nd, Seq("k"))
      .select(col("threshold"), col("n_dup_pairs"), col("n_docs_droppable"))
      .orderBy("threshold")
  }

  /** r4: containment near-dup detection — the ASYMMETRIC overlap Jaccard
    * is blind to: a short doc quoted wholesale inside a long one has
    * c/min(na,nb) ≈ 1 while its Jaccard c/(na+nb−c) stays low (the long
    * side's extra grams dilute it), so quote-inclusion and
    * page-inside-crawl dup structures only surface here. Same DF-capped
    * inverted-index candidates and exact integer counts as
    * [[dedupNgramJaccard]] ([[pairCountsOf]] — one memoized frame serves
    * both), one extra least()+divide per surviving pair. */
  def dedupContainment(documents: DataFrame, threshold: Double = 0.8,
      maxDf: Int = MaxShingleDf,
      pairBudget: Long = 20000000000L): DataFrame =
    pairCountsOf(documents, maxDf, pairBudget)
      .withColumn("containment",
        col("c").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"), col("c"),
        col("containment"))
      .orderBy("doc_a", "doc_b")

  /** X2: MinHash + LSH banding near-dup detection. 32 hash functions,
    * 8 bands × 4 rows (pair at jaccard 0.95 missed with p ≈ 1e-6); the
    * band-bucket join generates candidates sub-linearly, then exact
    * Jaccard confirms ≥ threshold.
    *
    * The hash family is engine-portable AND one-digest cheap: a shingle is
    * md5'd once (first 16 hex digits as u64), and hash j is the affine
    * permutation (u·a_j + b_j) mod 2⁶⁴ with a_j = (2j+1)·GOLD (odd ⇒ a
    * bijection) and b_j = j·SILVER. Band keys are the comma-joined
    * unsigned decimal spellings of the four minima — exactly what the
    * DuckDB oracle's string_agg over the same HUGEINT arithmetic produces
    * (64×64 multiply done hi/lo-split there to stay inside 128 bits). The
    * oracle recomputes the identical candidate set and verified pairs
    * from the raw table: a hard hash-match gate on the whole LSH
    * pipeline. The ScalaTest spec additionally asserts full recall of the
    * dedup_ngram_jaccard pairs at jaccard ≥ 0.95. */
  /** MinHash band keys per doc — 32 affine-permutation hashes over the
    * md5-u64 of each shingle, banded 8×4, each band key the comma-joined
    * unsigned-decimal minima (the exact spelling the DuckDB oracle's
    * string_agg produces). One typed pass; a band signature depends only
    * on the doc's own shingles, so computing it on a corpus SUBSET equals
    * computing on the full corpus and filtering — which is what lets
    * [[dedupIncremental]] band a new batch against a stored side. Shared
    * by [[dedupNearMinhash]] (self-join) and [[dedupIncremental]]
    * (new-vs-store join). */
  private def minhashBands(sets: DataFrame): DataFrame = {
    val nHashes = 32
    val bandSize = 4
    val spark = sets.sparkSession
    import spark.implicits._
    val Gold = 0x9E3779B97F4A7C15L
    val Silver = 0xC2B2AE3D27D4EB4FL
    sets.as[(Long, Seq[String])].flatMap { case (id, shingles) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val as = Array.tabulate(nHashes)(j => (2L * j + 1L) * Gold)
      val bs = Array.tabulate(nHashes)(j => j.toLong * Silver)
      val mh = Array.fill(nHashes)(-1L) // unsigned max
      shingles.foreach { s =>
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // first 8 md5 bytes big-endian = first 16 hex digits as u64
        var u = 0L
        var k = 0
        while (k < 8) { u = (u << 8) | (d(k) & 0xFFL); k += 1 }
        var j = 0
        while (j < nHashes) {
          val v = u * as(j) + bs(j) // wraps = mod 2^64
          if (java.lang.Long.compareUnsigned(v, mh(j)) < 0) mh(j) = v
          j += 1
        }
      }
      (0 until nHashes / bandSize).iterator.map { b =>
        val key = (b * bandSize until (b + 1) * bandSize)
          .map(i => java.lang.Long.toUnsignedString(mh(i))).mkString(",")
        (id, b, key)
      }
    }.toDF("doc_id", "band", "key")
  }

  def dedupNearMinhash(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    // The shared persisted shingle frame feeds all three consumer branches
    // below (typed-lambda subplans never canonicalize equal, so without the
    // persist each branch would re-run scan+tokenize+shingle).
    val sets = shingleSetsOf(documents)
    // signatures + band keys in one typed pass (HOF minhash expressions
    // evaluate interpreted per element — see dedupNgramJaccard).
    val bands = minhashBands(sets)
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact-verify candidates with true Jaccard on the shingle sets
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** r7: cross-source contamination report — [[dedupNearMinhash]]'s
    * verified near-dup pairs rolled up by SOURCE pair: how much of each
    * ingest feed is a rehash of another (the mirror/scrape detector), and
    * how much duplicates itself. This is the report that decides which
    * feed gets CUT from a training mix — pair lists answer "which docs",
    * this answers "which sources are the problem" (and a benchmark-vs-
    * train source pair here is a leakage audit, the
    * `text_decontaminate` story at source granularity). Plan: the same
    * banded-LSH candidate pipeline (never all-pairs), two broadcast-size
    * doc→source joins on the pair list, one tiny sources² agg; the
    * average verified Jaccard rides the decimal [[graft.Det.davg]]
    * contract. */
  def dedupCrossSource(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = dedupNearMinhash(documents, threshold)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("src_1")), Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("src_2")), Seq("doc_b"))
      .select(least(col("src_1"), col("src_2")).as("source_a"),
        greatest(col("src_1"), col("src_2")).as("source_b"), col("jaccard"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"),
        graft.Det.davg(col("jaccard")).as("jaccard_avg"))
      .withColumn("is_cross", col("source_a") =!= col("source_b"))
      .orderBy("source_a", "source_b")
  }

  /** r7: char-level edit-distance audit of the token-level near-dups —
    * for every verified LSH pair ([[dedupNearMinhash]]'s contract), the
    * Levenshtein distance between the lowercased first-512-char prefixes
    * and its length-normalized parts-per-billion form. Token Jaccard is
    * blind to WHICH edits differ (a swapped number, a changed name — the
    * edits that matter for "is this the same document or a templated
    * variant"); edit distance is the char-level second opinion dedup
    * pipelines use to split true mirrors (ppb ≈ 0) from boilerplate
    * reuse (high Jaccard, high edit ppb). The O(L²) DP is bounded by the
    * documented 512-char prefix cap; candidates come from the banded
    * LSH equi-join — never all-pairs — so the quadratic term is capped
    * on both axes. `levenshtein` is the textbook unit-cost DP in both
    * engines; the ppb normalization is one integral multiply-divide. */
  def dedupEditDistance(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("div", a, b)
    val pairs = dedupNearMinhash(documents, threshold)
    val txt = documents.select(col("doc_id"),
      lower(substring(col("text"), 1, 512)).as("tx"))
    pairs
      .join(txt.select(col("doc_id").as("doc_a"), col("tx").as("ta")), Seq("doc_a"))
      .join(txt.select(col("doc_id").as("doc_b"), col("tx").as("tb")), Seq("doc_b"))
      .withColumn("edit_dist", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("max_len",
        greatest(length(col("ta")), length(col("tb"))).cast("long"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("edit_dist"),
        when(col("max_len") > 0,
          idiv(col("edit_dist") * lit(1000000000L), col("max_len")))
          .otherwise(lit(0L)).as("edit_ppb"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator audit — for every LSH candidate pair, the sketch's
    * own Jaccard ESTIMATE (agreeing signature slots / 32) next to the
    * exact Jaccard and the signed error. This is the query that answers
    * "can we skip exact verification at 100 TB?" (dropping the
    * verify-join saves the shingle-set join entirely; the audit bounds
    * what that costs in precision) — run on a sample, it calibrates the
    * slot count the pipeline needs. The slot agreement is recovered from
    * the band keys themselves (each key is the comma-joined 4 minima):
    * split + zip_with element compares, summed over the 8 bands — all
    * integer; est = n_agree/32 is a divide by a power of two, so even
    * the estimate is bit-exact cross-engine. No new shuffle shape: the
    * candidate equi-join and two bounded band/set rejoins. */
  def dedupMinhashEst(documents: DataFrame): DataFrame = {
    val sets = shingleSetsOf(documents)
    val bands = minhashBands(sets)
    val candidates = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val agree = candidates
      .join(bands.select(col("doc_id").as("doc_a"), col("band"), col("key").as("ka")),
        Seq("doc_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("key").as("kb")),
        Seq("doc_b", "band"))
      .withColumn("band_agree",
        size(filter(zip_with(split(col("ka"), ","), split(col("kb"), ","),
          (x, y) => x === y), b => b)).cast("long"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("band_agree")).as("n_agree"))
    agree
      .join(sets.select(col("doc_id").as("doc_a"), col("shingles").as("sa")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shingles").as("sb")), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))))
      .select(col("doc_a"), col("doc_b"), col("n_agree"),
        (col("n_agree").cast("double") / 32.0).as("est_jaccard"),
        col("jaccard"),
        (col("n_agree").cast("double") / 32.0 - col("jaccard")).as("err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected-components clustering of the near-dup graph — the step a
    * real dedup pipeline runs AFTER pair detection: transitively merge
    * pairs into clusters and pick one canonical id per cluster (min
    * doc_id), so a~b and b~c land together even when a~c is below
    * threshold.
    *
    * Iterative min-label propagation: each round every node adopts the
    * smallest label among itself and its neighbors (one equi-join + one
    * partial-aggregated min), until the strictly-decreasing label sum
    * stops falling — convergence costs one tiny aggregate per round, no
    * join against the previous labels. O(cluster diameter) rounds;
    * near-dup clusters are shallow by construction (template families,
    * not long chains). Each round persists and materializes its labels to
    * cut lineage (the standard iterative-algorithm discipline on Spark);
    * the driver only ever sees a one-row sum, never data. The DuckDB
    * oracle computes the same fixpoint as a recursive-CTE transitive
    * closure + min. */
  /** The clustering core of [[dedupClusters]] over an arbitrary
    * (doc_a, doc_b) pair frame — exposed so other edge generators reuse
    * the same path-halving fixpoint (embedding-cosine pairs drive
    * SemDeDup-style clustering in `Similarity.dedupSemanticClusters`).
    * Hand in a persisted/memoized frame: every round re-reads it. */
  private[ext] def ccComponents(pairs: DataFrame): DataFrame = ccMinLabels(pairs)

  def dedupClusters(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    val labels = Memo.frame(documents, s"cc-labels:$threshold")(
      ccMinLabels(jaccardPairsOf(documents, threshold)))
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Per-round cap on [[ccMinLabels]]. With path-halving each round both
    * propagates neighbor minima AND contracts label chains (label ←
    * label[label]), so label depth shrinks geometrically: 64 rounds covers
    * any graph whose min-label chain depth is astronomically beyond real
    * near-dup corpora. Hitting the cap means the fixpoint was NOT reached
    * — the result would silently diverge from the transitive-closure
    * oracle, so the loop throws instead of returning partial labels. */
  val MaxCcRounds = 64

  /** Spark conf key (boolean) opting the CC fixpoint into RELIABLE
    * checkpoints: `localCheckpoint` stores round frames on executor
    * memory/disk only, so on a real cluster one executor loss mid-fixpoint
    * kills the job (r4 verdict caveat). With this set, each round writes
    * to the fault-tolerant `spark.sparkContext.setCheckpointDir` location
    * instead (HDFS/object storage on a cluster) and the fixpoint survives
    * executor churn at the cost of one distributed write per round.
    * Requires the checkpoint dir to be set, or
    * [[CcCheckpointDirConf]] to name one. */
  val CcReliableConf = "spark.graft.cc.reliableCheckpoint"

  /** Spark conf key naming the reliable checkpoint directory; applied to
    * the SparkContext on first use if none is set yet. */
  val CcCheckpointDirConf = "spark.graft.cc.checkpointDir"

  /** The per-round lineage cut: eager reliable `checkpoint()` when opted
    * in (see [[CcReliableConf]]), eager `localCheckpoint()` otherwise.
    * Both truncate the logical plan — the analysis-cost argument below
    * holds for either. */
  private def roundCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable = spark.conf.getOption(CcReliableConf).exists(_.toBoolean)
    if (reliable) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.conf.getOption(CcCheckpointDirConf) match {
          case Some(dir) => spark.sparkContext.setCheckpointDir(dir)
          case None => throw new IllegalStateException(
            s"$CcReliableConf=true but no checkpoint dir: call " +
              s"sparkContext.setCheckpointDir or set $CcCheckpointDirConf")
        }
      df.checkpoint()
    } else df.localCheckpoint(false)
    // lazy local checkpoint: the round's 1-row probe aggregate is then
    // the ONE action that computes the frame, caches its blocks, and
    // returns the probe — no separate materializing job (r7, the k-core
    // fold; the reliable arm stays eager because a lazy reliable
    // checkpoint recomputes the lineage to write files).
  }

  /** Distributed connected-components fixpoint, one Spark job per round:
    * label ← min(label, min over neighbors' labels, label[label]).
    * The label[label] term is path-halving — chains contract geometrically,
    * so rounds = O(log chain depth) instead of O(diameter). Convergence is
    * folded into the round's own materializing action: labels only ever
    * decrease, so the decimal-exact label sum is strictly monotone and the
    * fixpoint is "the sum stopped falling" — no separate init job, no join
    * against the previous labels, and the driver only ever sees a 1-row
    * aggregate. The returned frame is memoized (role `cc-labels:<t>`) so
    * repeated calls are free and [[graft.Memo.releaseAll]] reclaims it. */
  private def ccMinLabels(pairs: DataFrame): DataFrame = {
    // both directions in one pass over the memoized pair cache — cheap to
    // recompute per round, so no extra persist needed
    val edges = pairs.select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    // localCheckpoint (eager) rather than persist: it caches the rows AND
    // truncates the logical plan. With persist alone each round's plan
    // nests the whole history, so Catalyst analysis cost doubles per
    // round — invisible on graphs that converge in 1-2 rounds (jaccard
    // near-dups), minutes-per-round by round ~6 on long-chain graphs
    // (semantic-cosine components). Checkpointed blocks are reclaimed by
    // the ContextCleaner when the round's frame goes out of reference.
    var labels = roundCheckpoint(
      edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).collect()(0)
      Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    }
    val t0 = System.nanoTime()
    var prevSum: java.math.BigDecimal = null // unknown until round 1's action
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxCcRounds) {
      val prev = labels
      val nbrMin = edges
        .join(prev.select(col("id").as("dst"), col("label").as("dl")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dl")).as("nbr"))
      // path-halving lookup: the current label's own label
      val lofl = prev.select(col("id").as("l_id"), col("label").as("ll"))
      val stepped = prev.join(nbrMin, Seq("id"), "left_outer")
        .withColumn("l1", least(col("label"), coalesce(col("nbr"), col("label"))))
      // the label-sum probe IS the round's one materializing action: it
      // computes the lazily-checkpointed frame, caches its blocks, and
      // returns the 1-row aggregate in the same job
      val next = roundCheckpoint(stepped
        .join(lofl, stepped("label") === lofl("l_id"), "left_outer")
        .select(col("id"), least(col("l1"), coalesce(col("ll"), col("l1"))).as("label")))
      val s = labelSum(next)
      converged = prevSum != null && s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round $rounds sum=$s converged=$converged t=${(System.nanoTime() - t0) / 1e9}s")
    }
    if (!converged)
      throw new IllegalStateException(
        s"dedup_clusters: min-label propagation did not converge in $MaxCcRounds rounds — " +
          "labels are not the transitive-closure fixpoint; refusing to return partial clusters")
    labels
  }

  /** Degree statistics of the near-dup graph — the health check a dedup
    * pipeline runs before clustering (a heavy-tailed degree distribution
    * means a template family is about to collapse into one giant
    * cluster): per-doc partner counts from the verified Jaccard pairs,
    * aggregated into a degree histogram. Rides the memoized pair frame
    * ([[jaccardPairsOf]]), so after any jaccard-family query this is one
    * tiny explode + two aggregations. */
  def dedupGraphDegrees(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    val pairs = jaccardPairsOf(documents, threshold)
    pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** Incremental cross-snapshot dedup (VERDICT r3 #7) — the operation a
    * RECURRING crawl actually runs: dedup a NEW batch against an existing
    * corpus's fingerprint store, not the corpus against itself. The store
    * here is exactly what a production pipeline would persist between
    * crawls: (md5(text) → min doc_id) for exact matches, and the MinHash
    * band keys of [[minhashBands]] for near matches — both derived from
    * the "existing" half of the fixture (even doc_id; the odd half plays
    * the new batch), so the whole pipeline stays a hard DuckDB
    * hash-match gate.
    *
    * Per new doc: `exact_dup` (md5 hit in the store; dup_of = the stored
    * canonical id), else `near_dup` (band-key equi-join against the
    * store's band keys → exact-Jaccard verify ≥ threshold; dup_of = the
    * LOWEST verified store id, with its jaccard), else `new` — admit.
    * Scale shape: the store side is pre-computed once per crawl cycle and
    * only the NEW batch is tokenized/banded each run; every join is an
    * equi-join on md5 or (band, key), so incremental cost is O(batch),
    * not O(corpus) — the property that makes recrawl dedup feasible at
    * 100 TB corpus size. */
  def dedupIncremental(documents: DataFrame, threshold: Double = 0.3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val existing = documents.filter(pmod(col("doc_id"), lit(2)) === 0)
    val fresh = documents.filter(pmod(col("doc_id"), lit(2)) === 1)
    // exact fingerprint store: one row per distinct existing text
    val store = existing
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("exact_dup_of"))
    val exact = fresh
      .select(col("doc_id"), md5(col("text").cast("binary")).as("text_md5"))
      .join(store, Seq("text_md5"), "left_outer")
      .select(col("doc_id"), col("exact_dup_of"))
    // near store: band keys of the existing half; probe with the new half
    val setsEx = shingleSetsOf(existing)
    val setsNew = shingleSetsOf(fresh)
    val bandsEx = minhashBands(setsEx)
      .select(col("doc_id").as("store_id"), col("band"), col("key"))
    val cand = minhashBands(setsNew).join(bandsEx, Seq("band", "key"))
      .select(col("doc_id"), col("store_id")).distinct()
    val near = cand
      .join(setsNew.select(col("doc_id"), col("shingles").as("sn")), "doc_id")
      .join(setsEx.select(col("doc_id").as("store_id"), col("shingles").as("se")), "store_id")
      .withColumn("jaccard",
        size(array_intersect(col("sn"), col("se"))).cast("double") /
          size(array_union(col("sn"), col("se"))))
      .filter(col("jaccard") >= threshold)
      // deterministic best match: the lowest verified store id
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("store_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("store_id").as("near_dup_of"), col("jaccard"))
    exact
      .join(near, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_dup_of").isNotNull, lit("exact_dup"))
          .when(col("near_dup_of").isNotNull, lit("near_dup"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("exact_dup_of"), col("near_dup_of")).as("dup_of"),
        when(col("exact_dup_of").isNull, col("jaccard")).as("jaccard"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup detection: 64-bit signature = sign of per-bit
    * weighted votes of per-token hashes; candidates via 8-chunk pigeonhole
    * (hamming ≤ 7 guarantees one equal chunk), verified with
    * bit_count(xor).
    *
    * The token hash is the first 16 hex digits of md5(token): nibble p's
    * bit b votes for signature bit 4p+b. md5 is engine-portable, so the
    * DuckDB oracle recomputes the identical signatures from the raw table
    * (nibble-wise from the md5 hex string) and checks the full pair set —
    * a hard hash-match gate, not rows-only. */
  def dedupSimhash(documents: DataFrame, maxHamming: Int = 6): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // signature per doc in one typed pass: md5 + weighted per-bit vote in
    // the JVM (the expression form needed an explode + 64 agg columns over
    // an exploded token table — two shuffles and a wide agg for what is a
    // per-row kernel)
    val sig = tokensOf(documents)
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val votes = new Array[Long](64)
        toks.groupBy(identity).foreach { case (tok, occ) =>
          val h = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val w = occ.size.toLong
          var p = 0
          while (p < 16) {
            // hex digit p of the md5 string = high nibble of byte p/2 for
            // even p, low nibble for odd p (matches DuckDB's substr(md5,p+1,1))
            val d = if (p % 2 == 0) (h(p / 2) >> 4) & 0xF else h(p / 2) & 0xF
            var b = 0
            while (b < 4) {
              if (((d >> b) & 1) == 1) votes(p * 4 + b) += w
              else votes(p * 4 + b) -= w
              b += 1
            }
            p += 1
          }
        }
        var s = 0L
        var g = 0
        while (g < 64) { if (votes(g) > 0) s |= (1L << g); g += 1 }
        (id, s)
      }.toDF("doc_id", "simhash")
    // candidate pairs: share one of eight 8-bit chunks (pigeonhole for ham<=7)
    val chunks = sig.select(col("doc_id"), col("simhash"),
      explode(array((0 until 8).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 8).bitwiseAND(0xFF).as("key"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    chunks.as("a")
      .join(chunks.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sig_a"), col("b.simhash").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** r5c: normalization-equivalent dedup — the canonicalization step that
    * runs BEFORE [[dedupExact]] in every corpus pipeline: byte-identical
    * dedup misses "Hello,  World!" vs "hello world", which are the same
    * document to a tokenizer. Normal form: lowercase, control whitespace
    * → space, strip all non-[a-z0-9 ] bytes, collapse runs, trim — each
    * regex pass spelled with explicit character classes (no `\s`/POSIX
    * classes, whose members differ between Java regex and RE2) so both
    * engines compute identical strings, md5'd into the group key.
    * Map-side expression chain + ONE fingerprint hash agg — exactly
    * [[dedupExact]]'s plan with a richer key; output keeps winner,
    * multiplicity, and the fingerprint (the [[dedupExact]] contract). */
  def dedupNormalized(documents: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(regexp_replace(regexp_replace(
      lower(col("text")), "[\\t\\n\\r]", " "), "[^a-z0-9 ]", ""), "  *", " "))
    documents
      .groupBy(md5(norm.cast("binary")).as("norm_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_equivalent"))
      .select(col("keep_doc_id"), col("n_equivalent"), col("norm_md5"))
      .orderBy("keep_doc_id")
  }

  /** r9: WINNOWING fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
    * algorithm) — the guaranteed-density member of the fingerprinting
    * family: [[graft.ext.Text.textFingerprint]] keeps hashes ≡ 0 mod p
    * (expected density 1/p but an adversarial/unlucky document can go
    * unsampled for long stretches); winnowing selects the RIGHTMOST
    * MINIMAL k-gram hash in every w-gram window, which provably selects
    * at least one fingerprint per (w+k−1)-token stretch — so any shared
    * passage of that length between two documents is GUARANTEED to share
    * a fingerprint. Output: document pairs ranked by shared fingerprints
    * with a containment-style score (shared / smaller fingerprint set).
    *
    * EXACTNESS: k-gram hashes are md5 prefixes (integer, engine-
    * portable), the window pick is a SELECTION (struct min on (h, −pos):
    * minimal hash, ties to the rightmost — the paper's robust-winnowing
    * rule), and the score is one long/long divide. SCALE: the winnow
    * window rides the doc-keyed position frame (bounded by document
    * length, never corpus size); candidate pairs come from the
    * df-capped inverted index (2 ≤ df ≤ maxDf — the [[dedupNgramJaccard]]
    * hot-shingle discipline), so work is Σ_h df(h)², never docs². */
  def dedupWinnowing(documents: DataFrame, k: Int = 5, w: Int = 4,
                     maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= k + w - 1)
    val grams = toks
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(1, size(t) - ${k - 1}), i -> " +
          s"conv(substring(md5(cast(array_join(slice(t, i, $k), ' ') as binary)), 1, 15), 16, 10))")))
      .select(col("doc_id"), (col("pos") + 1).as("p"),
        col("col").cast("long").as("h"))
    val wWin = Window.partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(w - 1), Window.currentRow)
    // r13 OPT (guide §2.4 / §5 caching): the fingerprint set feeds FOUR
    // consumers below (posts.x, posts.y via the self-join, the df filter,
    // and the per-doc size frame) — without a materialization each
    // re-runs the tokenize → per-position md5 → winnow-window pass, the
    // single most expensive subtree in the query (measured 2.96 s at
    // sf0.1; memoized 1.9 s). Same Memo lifecycle as the shingle frames.
    val fpSet = Memo.frame(documents, s"winnow-fps-$k-$w")(grams
      .withColumn("nb", count(lit(1)).over(wWin))
      .withColumn("sel", min(struct(col("h"), (-col("p")).as("np"))).over(wWin))
      .filter(col("nb") === w)
      .select(col("doc_id"), col("sel.h").as("h"))
      .distinct())
    val perDoc = fpSet.groupBy(col("doc_id")).agg(count(lit(1)).as("nf"))
    val hot = fpSet.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
    val posts = fpSet.join(hot.select(col("h")), Seq("h"))
    posts.as("x").join(posts.as("y"),
        col("x.h") === col("y.h") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(perDoc.select(col("doc_id").as("doc_a"), col("nf").as("nf_a")),
        "doc_a")
      .join(perDoc.select(col("doc_id").as("doc_b"), col("nf").as("nf_b")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nf_a"),
        col("nf_b"),
        (col("n_shared").cast("double") /
          least(col("nf_a"), col("nf_b")).cast("double")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }
}
