package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorDot.vector_dot

/** Similarity search over the embeddings table (SURVEY.md §2.10 X3 plus the
  * LSH-bucketed scale path and embedding-based near-dup detection).
  *
  * Dot products go through the native [[graft.functions.VectorDot]]
  * expression (codegen'd tight loop, any dimension); summation is always
  * the same sequential left-associated order, so results are reproducible
  * bit-for-bit across engines and partitionings.
  */
object Similarity {

  /** Sequential-fold dot product of two double arrays — the pure-built-in
    * reference implementation (HOFs evaluate interpreted, so the hot paths
    * use [[graft.functions.VectorDot]]; the spec asserts both agree). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))

  /** X3: brute-force cosine top-k — queries (vec_id < nQueries) broadcast
    * against the full corpus; ranking ties broken by vec_id. The corpus
    * side stays partitioned; only the query side replicates, so this is
    * the correct baseline even on a large cluster. */
  def simSearchCosineTopk(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rn")
  }

  /** r12: RANGE similarity search — every corpus vector within cosine ≥
    * `minCosine` of each query (self excluded), the ε-neighborhood dual
    * of [[simSearchCosineTopk]]'s top-k: retrieval pipelines ask both
    * "the k best" (rerank feeds) and "everything this close" (dedup
    * sweeps, contamination lookups, cluster seeding), and a top-k API
    * silently truncates dense neighborhoods while range search returns
    * the honest set. Same 100 TB plan as the top-k baseline: queries
    * broadcast (bounded side), corpus stays partitioned, per-pair cosine
    * is the codegen'd [[graft.functions.VectorDot]] — no window at all
    * (the threshold filter replaces ranking), so the scan is one
    * codegen'd map+filter over the corpus. Output ordered (query_id,
    * cosine desc, vec_id) for a total order. */
  def simSearchRange(embeddings: DataFrame, nQueries: Int = 10,
                     minCosine: Double = 0.35): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .filter(col("cosine") >= minCosine)
      .select(col("query_id"), col("vec_id"), col("cosine"))
      .orderBy(col("query_id"), col("cosine").desc, col("vec_id"))
  }

  /** r8: recall@k of the IVF probe against the exact cosine top-k — the
    * accuracy side of the IVF speed claim, as ONE declared query (the
    * decision table a deployment reads before turning nProbe down:
    * `emb_truncation_recall`'s sibling for the cell-probe lever). Both
    * rankings are the library's own declared, hash-verified queries;
    * this composes them and counts the per-query overlap — integers,
    * plus one recall divide. */
  def simSearchIvfRecall(embeddings: DataFrame, nQueries: Int = 10,
                         k: Int = 10): DataFrame = {
    val exact = simSearchCosineTopk(embeddings, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val approx = simSearchIvf(embeddings, nQueries, k)
      .select(col("query_id"), col("vec_id"))
    val overlap = exact.join(approx, Seq("query_id", "vec_id"), "left_semi")
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    exact.groupBy(col("query_id")).agg(count(lit(1)).as("k_exact"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), col("k_exact"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("k_exact").cast("double")).as("recall"))
      .orderBy("query_id")
  }

  /** r12 (VERDICT r11 #3): data-derived sign-bucket width for the LSH
    * escapes — the smallest `bits` whose 2^bits buckets hold the corpus at
    * ~`targetBucket` vectors each, floored at 6 (the measured-good fixture
    * width) and capped at 24 (16.7 M buckets; past that more axis-aligned
    * planes stop splitting anything that survived the first 24). Integer
    * arithmetic only (ceil-log2 via the bit length of ⌈n/target⌉−1), so
    * the DuckDB oracle reproduces the SAME width with `length(bin(q-1))`
    * and the derived form stays hash-verifiable at every SF. A FIXED
    * `bits` is only a constant-factor dodge — candidate volume n²/2^bits
    * re-enters quadratic growth one decade past whatever SF it was tuned
    * at; deriving from n pins the expected bucket size (and so the
    * per-bucket quadratic term) FLAT, at a recall cost of ~proportionally
    * more hyperplane splits (each added bit halves the chance a true
    * near-dup pair shares the bucket — multiprobe buys it back at
    * (bits+1)× probes, [[simSearchLshMultiprobe]]).
    *
    * DIMS REQUIREMENT (r13, r12 ADVICE): [[signBucket]] reads the first
    * `bits` coordinates, so the returned width is only meaningful for
    * vectors with dims ≥ bits — out-of-range elements hash to '0' and the
    * extra planes split nothing, silently degrading the flat-bucket-size
    * claim while both engines still agree. The derived-bits entry points
    * ([[dedupEmbeddingCosineLsh]], [[simKnnJoinLsh]]) assert dims ≥ bits
    * and fail loudly rather than degrade. */
  private[graft] def lshBitsFor(n: Long, targetBucket: Long = 4096L): Int = {
    val n0 = math.max(1L, n)
    // overflow-safe ceil-div (n0 + t - 1 wraps near Long.MaxValue)
    val q = n0 / targetBucket + (if (n0 % targetBucket > 0L) 1L else 0L)
    val ceilLog2 = if (q <= 1L) 0
      else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.min(24, math.max(6, ceilLog2))
  }

  /** r12 (VERDICT r11 #3): the LSH escapes' OWN budget — Σ c(c−1)/2 over
    * sign-bucket occupancy, the exact pair count the bucket equi-join
    * emits (the shingle family's `pairCountsOf` discipline applied to the
    * escape the quadratic forms route INTO). One linear agg over the
    * bucketed frame; past the budget there is no still-cheaper declared
    * rung — a bucket that hot shares its first-`bits` signs, and more
    * planes past the cap stop splitting it — so the error says to
    * provision or change question, per the escape-cascade contract. */
  private def bucketPairBound(e: DataFrame): java.math.BigDecimal = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    e.groupBy(col("bucket")).agg(count(lit(1)).as("c"))
      .agg(coalesce(
        sum(call_function("div", col("c").cast(dec) * (col("c") - 1),
          lit(2L).cast(dec))),
        lit(java.math.BigDecimal.ZERO).cast(dec)).as("b"))
      .head().getDecimal(0)
  }

  /** (derived bits, Σ bucket-pair bound) for a corpus at `targetBucket` —
    * the LSH escapes' routing-side metrics, exposed for the growth spec
    * (the derived form must measure sub-quadratic where fixed bits would
    * re-quadratize). */
  private[graft] def lshCandidateBound(embeddings: DataFrame,
      targetBucket: Long = 4096L): (Int, java.math.BigDecimal) = {
    val b0 = lshBitsFor(embeddings.count(), targetBucket)
    val e = withNorm(embeddings).withColumn("bucket", signBucket(col("v"), b0))
    (b0, bucketPairBound(e))
  }

  private def lshBucketPreflight(e: DataFrame, bits: Int, pairBudget: Long,
      query: String): Unit = {
    if (pairBudget <= 0) return
    val bound = bucketPairBound(e)
    if (bound.compareTo(java.math.BigDecimal.valueOf(pairBudget)) > 0)
      throw new IllegalStateException(
        s"$query: sign-bucket pair bound Σ c(c-1)/2 = $bound over " +
          s"2^$bits buckets exceeds the $pairBudget budget — the bucket " +
          "equi-join emits exactly that many candidate pairs (measured " +
          "~1.8e9 pairs = 452 s single-node). No cheaper declared rung " +
          "exists for this shape: vectors sharing a bucket at bits = 24 " +
          "agree on their first 24 signs, and further axis-aligned planes " +
          "stop splitting them. Provision a cluster for ~40*bound bytes " +
          "of candidate shuffle, or change the question to bounded top-k " +
          "per query (the sim_search_ivf family).")
  }

  /** r13 (r12 ADVICE): the derived-bits forms fail loudly when the
    * embedding dimensionality cannot carry the derived sign-bucket width —
    * [[signBucket]] reads the first `bits` coordinates and dims < bits
    * makes the out-of-range planes hash '0' for every vector, silently
    * splitting nothing (both engines agree, so the oracle cannot catch
    * the degradation; only this assert can). One-row probe: a `limit(1)`
    * scan, the same cost class as the 1-row probes the bloom/centroid
    * paths already take. Empty corpus → nothing to assert. */
  private def assertDimsCarryBits(embeddings: DataFrame, bits: Int,
      query: String): Unit = {
    val d = embeddings.select(size(col("embedding")).as("d")).limit(1).collect()
    if (d.nonEmpty && !d(0).isNullAt(0) && d(0).getInt(0) < bits)
      throw new IllegalArgumentException(
        s"$query: derived sign-bucket width bits=$bits exceeds the " +
          s"embedding dimensionality ${d(0).getInt(0)} — signBucket reads " +
          "the first `bits` coordinates, so planes past dim d split " +
          "nothing and the flat-bucket-size scaling silently degrades. " +
          s"Supply vectors with >= $bits dims, or pin `bits` <= dims " +
          "explicitly (accepting the larger buckets).")
  }

  /** Sign-bucket key over the first `bits` dimensions — a deterministic
    * hyperplane-LSH stand-in (axis-aligned planes). */
  private def signBucket(v: Column, bits: Int): Column =
    concat((1 to bits).map(i =>
      when(element_at(v, i) > 0, lit("1")).otherwise(lit("0"))): _*)

  /** LSH-bucketed cosine search: candidates restricted to the query's sign
    * bucket, exact cosine inside the bucket, top-k per query. The bucket
    * equi-join replaces the cross join — the 100 TB path. */
  def simSearchLshBucketed(embeddings: DataFrame, nQueries: Int = 50,
                           k: Int = 5, bits: Int = 6): DataFrame = {
    val e = withNorm(embeddings).withColumn("bucket", signBucket(col("v"), bits))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("bucket"))
    val pairs = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rn")
  }

  /** Multiprobe LSH cosine search: each query probes its own sign bucket
    * PLUS the `bits` Hamming-1 neighbor buckets (one sign flipped), so
    * near-boundary neighbors lost by single-probe LSH are recovered —
    * recall rises from ~1/2^bits toward brute force at (bits+1)× probe
    * cost, still an equi-join (no cross join). A candidate's own bucket is
    * unique, so no candidate is generated twice. Deterministic end to end
    * — full DuckDB oracle. */
  def simSearchLshMultiprobe(embeddings: DataFrame, nQueries: Int = 50,
                             k: Int = 5, bits: Int = 6): DataFrame = {
    val e = withNorm(embeddings).withColumn("bucket", signBucket(col("v"), bits))
    val flips = (1 to bits).map { i =>
      concat(
        substring(col("bucket"), 1, i - 1),
        when(substring(col("bucket"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 1, bits - i))
    }
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(array(col("bucket") +: flips: _*)).as("bucket"))
    val pairs = e.join(broadcast(q), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"))
      .orderBy("query_id", "rn")
  }

  /** IVF (inverted-file) search: the corpus is partitioned into nCells
    * Voronoi cells around deterministic k-means centroids — the first
    * nCells vectors seed `lloydIters` fixed iterations of Lloyd's
    * algorithm — and each query probes its nProbe nearest cells, ranking
    * exactly within them. The cell equi-join bounds work to
    * ~nProbe/nCells of the corpus per query — the IVF scale path next to
    * [[simSearchLshBucketed]], and cell balance (what the 100 TB story
    * depends on) comes from the refinement, not from hoping the first
    * nCells vectors spread well.
    *
    * Determinism across engines: each Lloyd iteration assigns by exact
    * cosine (ties by centroid id) and recomputes every centroid as the
    * per-dimension DECIMAL(38,12)-summed mean — order-independent, so the
    * distributed Spark mean and DuckDB's single-threaded mean are the
    * same doubles and the whole pipeline stays a hard hash-match oracle
    * gate; an emptied cell keeps its previous centroid (COALESCE in the
    * oracle). Per iteration Spark runs ONE job collecting nCells×dim mean
    * rows (bounded, 1024 values here) — the corpus itself is never
    * collected. The spec additionally checks recall against the
    * brute-force baseline. */
  def simSearchIvf(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10,
                   nCells: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val (assigned, probes) = ivfParts(embeddings, nQueries, nCells, nProbe, lloydIters)
    val pairs = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cell"), col("cosine"))
      .orderBy("query_id", "rn")
  }

  /** The Lloyd-refined cell machinery behind [[simSearchIvf]] and
    * [[simSearchIvfAdc]]: corpus assignments `(vec_id, v, nrm, cell)` and
    * query probes `(query_id, qv, qn, cell)` (nProbe cells per query).
    * Bounded driver traffic: nCells seed rows + nCells×dim exact-decimal
    * means per iteration. */
  private def ivfParts(embeddings: DataFrame, nQueries: Int, nCells: Int,
                       nProbe: Int, lloydIters: Int): (DataFrame, DataFrame) = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    // r14 OPT (VERDICT r13 #2, guide §2/§5): the Lloyd fit is 1 + 2·iters
    // SEQUENTIAL bounded collect jobs — the dominant cost of every IVF
    // query at low core counts (sim_search_ivf_recall measured 12.0 s at
    // 8 cores) — and three declared queries (sim_search_ivf, _adc,
    // _recall) each re-fitted the identical index per invocation. The
    // fitted centroid array is nCells×dims doubles (bounded driver
    // metadata, the ≤nCells-centroid collect contract) — memoize it per
    // (corpus, nCells, lloydIters) under the shared-cache lifecycle.
    val centroids = graft.Memo.value(embeddings,
        s"ivf-centroids-$nCells-$lloydIters") {
      var cents = vecs.filter(_._1 < nCells).collect().sortBy(_._1)
        .map { case (id, v) => (id, v, math.sqrt(dotP(v, v))) }
      for (_ <- 1 to lloydIters) {
        val bcIter = spark.sparkContext.broadcast(cents)
        val assigned1 = vecs.mapPartitions { it =>
          val cs = bcIter.value
          it.map { case (_, v) => (nearestCells(cs, v, 1).head, v) }
        }.toDF("cell", "v")
        val means = assigned1
          .select(col("cell"), posexplode(col("v")).as(Seq("i", "x")))
          .groupBy(col("cell"), col("i"))
          .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
            .cast("double") / count(lit(1))).as("mx"))
          .collect()
        val byCell = means.groupBy(_.getAs[Long]("cell")).map { case (cell, rows) =>
          cell -> rows.sortBy(_.getAs[Int]("i")).map(_.getAs[Double]("mx"))
        }
        cents = cents.map { case (cid, cv, _) =>
          val nv = byCell.getOrElse(cid, cv)
          (cid, nv, math.sqrt(dotP(nv, nv)))
        }
      }
      cents
    }
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = vecs.mapPartitions { it =>
      val cents = bc.value
      it.map { case (id, v) =>
        (id, v, math.sqrt(dotP(v, v)), nearestCells(cents, v, 1).head)
      }
    }.toDF("vec_id", "v", "nrm", "cell")
    val probes = vecs.filter(_._1 < nQueries)
      .mapPartitions { it =>
        val cents = bc.value
        it.flatMap { case (id, v) =>
          val nv = math.sqrt(dotP(v, v))
          nearestCells(cents, v, nProbe).map(c => (id, v, nv, c))
        }
      }.toDF("query_id", "qv", "qn", "cell")
    (assigned, probes)
  }

  /** The nProbe cells whose centroids have highest cosine to v (ties by
    * centroid id). */
  private def nearestCells(cents: Array[(Long, Array[Double], Double)],
                           v: Array[Double], n: Int): Seq[Long] = {
    val nv = math.sqrt(dotP(v, v))
    cents.map { case (cid, cv, cn) => (cid, dotP(v, cv) / (nv * cn)) }
      .sortBy { case (cid, c) => (-c, cid) }.take(n).map(_._1).toSeq
  }

  /** Primitive sequential dot — the same left-to-right summation order as
    * [[dot]] and DuckDB's list_dot_product, so all paths produce
    * bit-identical doubles. */
  private def dotP(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Block count for the exact all-pairs join: enough blocks that no block
    * exceeds `rowsPerBlock` rows, floor 8 so small corpora still spread
    * across tasks. 64-dim double vectors ≈ 1 KB/row, so the default 65536
    * rows/block holds each task's two resident blocks under ~128 MB — FLAT
    * in corpus size; the O(n²) comparison work is absorbed by task COUNT
    * (nBlocks·(nBlocks+1)/2), which is the right axis to grow on a
    * cluster. */
  private[graft] def blocksFor(n: Long, rowsPerBlock: Long): Int =
    math.max(8L, (n + rowsPerBlock - 1) / rowsPerBlock).toInt

  /** n·(n−1)/2 as an overflow-proof BigInteger — the exact all-pairs
    * comparison count the budget below checks. */
  private[graft] def exactPairs(n: Long): java.math.BigInteger =
    java.math.BigInteger.valueOf(n)
      .multiply(java.math.BigInteger.valueOf(math.max(0L, n - 1)))
      .shiftRight(1)

  /** r11 (VERDICT r10 #1): pre-flight PAIR budget for the two
    * labeled-exact O(n²) embedding forms — the last quadratic family
    * without one. The block-nested join bounds per-TASK memory at any n,
    * but total comparison WORK (and, for k-NN, the pre-top-k candidate
    * stream) still grows n²; the sf3 probe measured the class's failure
    * mode on `join_interval_overlap` (spill disk filled, job died
    * mid-stage) and measured THIS family at 1.8·10⁹ pairs = 452 s
    * single-node (`sim_knn_join`, 6·10⁴ vectors) — one more decade of
    * vectors is 100× the work, unambiguously past single-node viability.
    * The 2·10¹⁰ default (~11× the measured-good point, the same figure
    * the interval-overlap budget uses) separates "slow but finishes"
    * from "provision a cluster or take the declared escape". Over budget
    * throws the actionable error naming the sub-quadratic escape, never
    * silently degrades. */
  private def exactPairPreflight(n: Long, pairBudget: Long, query: String,
      escape: String): Unit =
    if (pairBudget > 0 &&
        exactPairs(n).compareTo(java.math.BigInteger.valueOf(pairBudget)) > 0)
      throw new IllegalStateException(
        s"$query: exact all-pairs over n = $n vectors is ${exactPairs(n)} " +
          s"comparisons, past the $pairBudget pair budget — measured: " +
          "1.8e9 pairs = 452 s single-node (sf3), and the quadratic " +
          "family's spill-death is within one decade of that. Run the " +
          s"declared sub-quadratic escape `$escape` (sign-bucket LSH " +
          "candidates, exact cosine verify), provision a cluster and " +
          "raise pairBudget knowingly, or shrink the corpus.")

  /** Embedding-cosine near-dup pairs: all (a < b) with cosine ≥ threshold.
    *
    * Exact all-pairs via a distributed block-nested join: vectors hash into
    * nBlocks by vec_id; a tiny broadcast table of the (bi ≤ bj) block pairs
    * fans each block out to its partners, and the bj equi-join co-locates
    * every block pair in one task. Nothing is collected to the driver and
    * nothing unbounded is broadcast — each task holds two blocks of at most
    * `rowsPerBlock` rows each: nBlocks is DERIVED from a corpus count
    * (VERDICT r3 #3) via [[blocksFor]], so the documented
    * bounded-per-task-memory property holds at any corpus size instead of
    * only at fixture scale (pass `nBlocks > 0` to pin it explicitly). The
    * comparison work stays O(n²/2) spread over nBlocks·(nBlocks+1)/2
    * tasks. Per-pair cosine is the codegen'd
    * [[graft.functions.VectorDot]] (same left-fold order as DuckDB's
    * list_dot_product, so values are bit-identical). r11: the corpus
    * count the block derivation already takes now ALSO pre-flights the
    * n(n−1)/2 pair budget (see [[exactPairPreflight]]) — over budget the
    * exact form fails loudly naming `dedup_embedding_cosine_lsh`, the
    * declared sub-quadratic escape below; [[Escapes.embeddingCosine]]
    * self-routes the pair. */
  def dedupEmbeddingCosine(embeddings: DataFrame, threshold: Double = 0.35,
                           nBlocks: Int = 0, rowsPerBlock: Long = 65536,
                           pairBudget: Long = 20000000000L): DataFrame =
    embCosinePairs(embeddings, threshold, nBlocks, rowsPerBlock, pairBudget)
      .orderBy("vec_a", "vec_b")

  /** The memoized exact near-dup pair frame behind [[dedupEmbeddingCosine]]
    * (unsorted). r14 OPT (guide §2/§5): four declared consumers re-ran the
    * O(n²) block-nested pass per query on the clean r14 baseline —
    * dedup_embedding_cosine (1.71 s), auto_embedding_dedup's exact route
    * (1.56 s), dedup_embedding_lsh_recall's exact member (1.40 s) and
    * dedup_semantic_clusters' pair generation (3.79 s total, which
    * additionally persisted its own copy for the CC fixpoint). One memo
    * under the shared-cache lifecycle serves all four; the pair-budget
    * pre-flight still runs per call. */
  private def embCosinePairs(embeddings: DataFrame, threshold: Double,
                             nBlocks: Int = 0, rowsPerBlock: Long = 65536,
                             pairBudget: Long = 20000000000L): DataFrame = {
    val spark = embeddings.sparkSession
    val n = embeddings.count()
    exactPairPreflight(n, pairBudget, "dedup_embedding_cosine",
      "dedup_embedding_cosine_lsh")
    val blocks = if (nBlocks > 0) nBlocks else blocksFor(n, rowsPerBlock)
    graft.Memo.frame(embeddings, s"emb-cosine-pairs-$threshold-$blocks") {
      val e = withNorm(embeddings).withColumn("blk", pmod(col("vec_id"), lit(blocks)))
      val blockPairs = spark.range(blocks).select(col("id").as("bi"))
        .crossJoin(spark.range(blocks).select(col("id").as("bj")))
        .filter(col("bi") <= col("bj"))
      val a = e.select(col("vec_id").as("ida"), col("v").as("va"),
        col("nrm").as("na"), col("blk").as("blka"))
      val b = e.select(col("vec_id").as("idb"), col("v").as("vb"),
        col("nrm").as("nb"), col("blk").as("blkb"))
      // distinct blocks meet once as (bi, bj), bi < bj — every cross pair is
      // one unordered pair; within a block (bi = bj) the id order dedups.
      a.join(broadcast(blockPairs), col("blka") === col("bi"))
        .join(b, col("blkb") === col("bj") &&
          (col("bi") =!= col("bj") || col("ida") < col("idb")))
        .withColumn("cosine", vector_dot(col("va"), col("vb")) / (col("na") * col("nb")))
        .filter(col("cosine") >= threshold)
        .select(least(col("ida"), col("idb")).as("vec_a"),
          greatest(col("ida"), col("idb")).as("vec_b"), col("cosine"))
    }
  }

  /** r11 (VERDICT r10 #1): [[dedupEmbeddingCosine]]'s declared
    * sub-quadratic ESCAPE — sign-bucket LSH candidates, exact cosine
    * verify, same (vec_a, vec_b, cosine) schema (the shared-template
    * discipline, so [[Escapes.embeddingCosine]] routes without schema
    * branches). Candidates come from a bucket EQUI-JOIN (never
    * all-pairs): work drops n² → Σ(bucket size²) and the join shuffles
    * on the bucket key. r12 (VERDICT r11 #3): `bits` is DERIVED from the
    * corpus count by default ([[lshBitsFor]] — pass `bits > 0` to pin
    * it), so the expected bucket size stays ~`targetBucket` at any n
    * instead of the fixed-width form's n²/2^bits re-quadratization one
    * decade up; and the bucket-occupancy pair bound pre-flights against
    * `pairBudget` ([[lshBucketPreflight]]) so a skew-hot bucket fails
    * loudly instead of grinding. Approximate BY CONTRACT — a near-dup
    * pair split by a hyperplane is missed (the miss direction is stated:
    * false negatives only; every emitted cosine is exact). Deterministic
    * end to end (bits is a pure function of n), so full oracle. */
  def dedupEmbeddingCosineLsh(embeddings: DataFrame, threshold: Double = 0.35,
                              bits: Int = 0, targetBucket: Long = 4096L,
                              pairBudget: Long = 20000000000L,
                              knownCount: Long = -1L): DataFrame = {
    val b0 = if (bits > 0) bits else lshBitsFor(
      if (knownCount >= 0L) knownCount else embeddings.count(), targetBucket)
    if (bits <= 0) assertDimsCarryBits(embeddings, b0, "dedup_embedding_cosine_lsh")
    val e = withNorm(embeddings).withColumn("bucket", signBucket(col("v"), b0))
    lshBucketPreflight(e, b0, pairBudget, "dedup_embedding_cosine_lsh")
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"),
      col("nrm").as("nb"), col("bucket"))
    e.join(b, Seq("bucket"))
      .filter(col("vec_id") < col("idb"))
      .withColumn("cosine",
        vector_dot(col("v"), col("vb")) / (col("nrm") * col("nb")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_id").as("vec_a"), col("idb").as("vec_b"), col("cosine"))
      .orderBy("vec_a", "vec_b")
  }

  /** r13 (VERDICT r12 #3): pair recall of the LSH near-dup escape against
    * the exact form — the accuracy side of the derived-bits routing
    * decision, as ONE declared query (the [[simSearchIvfRecall]]
    * discipline applied to the form [[Escapes.embeddingCosine]] routes
    * INTO). Matters more now that `bits` GROWS with the corpus: each
    * added plane halves a true pair's chance of sharing a bucket, so the
    * recall-per-bit trade moves with n and should be a measured number in
    * a record, not a scaladoc sentence. Both inputs are the library's own
    * hash-verified queries; this composes them with one full-outer join
    * and counts — n_overlap should equal n_lsh (the escape misses pairs,
    * never invents them: every emitted cosine is exact and the threshold
    * filter is shared), so n_lsh < n_exact IS the miss count. One summary
    * row: (bits, n_exact, n_lsh, n_overlap, pair_recall). */
  def dedupEmbeddingLshRecall(embeddings: DataFrame, threshold: Double = 0.35,
                              targetBucket: Long = 4096L): DataFrame = {
    val n = embeddings.count()
    val bits = lshBitsFor(n, targetBucket)
    val exact = dedupEmbeddingCosine(embeddings, threshold)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("e"))
    val lsh = dedupEmbeddingCosineLsh(embeddings, threshold, knownCount = n)
      .select(col("vec_a"), col("vec_b"), lit(1L).as("l"))
    exact.join(lsh, Seq("vec_a", "vec_b"), "full_outer")
      .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("l")), lit(0L)).as("n_lsh"),
        coalesce(sum(col("e") * col("l")), lit(0L)).as("n_overlap"))
      .select(lit(bits.toLong).as("bits"), col("n_exact"), col("n_lsh"),
        col("n_overlap"),
        when(col("n_exact") > 0,
          col("n_overlap").cast("double") / col("n_exact").cast("double"))
          .as("pair_recall"))
  }

  /** k-NN JOIN — every vector's top-k cosine neighbors in one query, the
    * workhorse behind semantic clustering / SemDeDup-style pruning (one
    * query vector is [[simSearchCosineTopk]]; the JOIN form is what an
    * embedding-curation pipeline actually runs). Reuses
    * [[dedupEmbeddingCosine]]'s size-derived block-nested equi-join so
    * per-task memory stays bounded at any corpus size; each unordered
    * pair's dot product is computed ONCE and fanned out to both
    * directions map-side (explode of a 2-struct array — no second pass
    * over the join), then the bounded [[graft.functions.TopKBy]]
    * aggregate ranks per source (map-side partials cap the shuffle at k
    * rows per task — the candidate set never crosses the wire, which a
    * rank window cannot avoid). Dot products are
    * index-ordered folds, so dot(a,b) and the oracle's dot(b,a) are
    * bit-identical and the whole k-NN graph hash-matches. Labeled-exact
    * O(n²) path, same contract as dedupEmbeddingCosine — including, r11,
    * the same n(n−1)/2 pair-budget pre-flight naming [[simKnnJoinLsh]]
    * as the declared escape ([[Escapes.knnJoin]] self-routes). */
  def simKnnJoin(embeddings: DataFrame, k: Int = 5,
                 nBlocks: Int = 0, rowsPerBlock: Long = 65536,
                 pairBudget: Long = 20000000000L): DataFrame = {
    val spark = embeddings.sparkSession
    val n = embeddings.count()
    exactPairPreflight(n, pairBudget, "sim_knn_join", "sim_knn_join_lsh")
    val blocks = if (nBlocks > 0) nBlocks else blocksFor(n, rowsPerBlock)
    val e = withNorm(embeddings).withColumn("blk", pmod(col("vec_id"), lit(blocks)))
    val blockPairs = spark.range(blocks).select(col("id").as("bi"))
      .crossJoin(spark.range(blocks).select(col("id").as("bj")))
      .filter(col("bi") <= col("bj"))
    val a = e.select(col("vec_id").as("ida"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("blka"))
    val b = e.select(col("vec_id").as("idb"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("blkb"))
    // r14 OPT (guide §2 avoid recomputation / §5 cache reused+expensive):
    // the exact O(n²) pair pass + TopKBy ranking is re-paid by every
    // consumer — sim_knn_join itself (2.81 s on the clean r14 baseline),
    // auto_knn_join's exact route (2.70 s) and sim_knn_lsh_recall's exact
    // member (5.94 s total). Memoize the ranked n·k-row frame under the
    // shared-cache lifecycle; the pair-budget pre-flight above still runs
    // on every call. Output unchanged (the final orderBy stays outside).
    val ranked = graft.Memo.frame(embeddings, s"knn-exact-$k-$blocks") {
      val pairs = a.join(broadcast(blockPairs), col("blka") === col("bi"))
        .join(b, col("blkb") === col("bj") &&
          (col("bi") =!= col("bj") || col("ida") < col("idb")))
        .select(col("ida"), col("idb"),
          (vector_dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      val directed = pairs
        .select(explode(array(
          struct(col("ida").as("vec_id"), col("idb").as("neighbor_id"), col("cosine")),
          struct(col("idb").as("vec_id"), col("ida").as("neighbor_id"), col("cosine"))))
          .as("e"))
        .select(col("e.vec_id"), col("e.neighbor_id"), col("e.cosine"))
      topKPerKeyCore(directed, k)
    }
    ranked.orderBy("vec_id", "rn")
  }

  /** Shared bounded top-k ranking: [[graft.functions.TopKBy]] instead of
    * a rank window, so map-side partials cap the shuffle at k entries per
    * (key, task) — the candidate set itself never crosses the wire. The
    * sorted struct array unpacks to (rn, neighbor_id, cosine) rows with
    * one posexplode. */
  private def topKPerKey(directed: DataFrame, k: Int): DataFrame =
    topKPerKeyCore(directed, k).orderBy("vec_id", "rn")

  private def topKPerKeyCore(directed: DataFrame, k: Int): DataFrame =
    directed
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKBy.top_k_by(col("cosine"), col("neighbor_id"), k).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")).as(Seq("pos", "e")))
      .select(col("vec_id"), (col("pos") + 1).cast("long").as("rn"),
        col("e.id").as("neighbor_id"), col("e.score").as("cosine"))

  /** [[simKnnJoin]] at 100 TB: the same top-k-per-vector join with
    * candidates restricted to each vector's sign bucket — the LSH
    * equi-join replaces the block-nested all-pairs, so work drops from
    * n² to Σ(bucket size²) and the join shuffles on a key instead of
    * broadcasting block pairs. `bits` trades recall for bucket size; r12
    * (VERDICT r11 #3) it GROWS with the corpus by default ([[lshBitsFor]]
    * — pass `bits > 0` to pin it), holding the per-bucket quadratic term
    * at ~targetBucket²/2 per bucket at any n, and the bucket-occupancy
    * pair bound pre-flights against `pairBudget` so bucket skew fails
    * loudly; multiprobe (see [[simSearchLshMultiprobe]]) recovers
    * boundary neighbors at (bits+1)× probe cost. Deterministic end to
    * end (bits is a pure function of n) — full oracle. */
  def simKnnJoinLsh(embeddings: DataFrame, k: Int = 5, bits: Int = 0,
                    targetBucket: Long = 4096L,
                    pairBudget: Long = 20000000000L,
                    knownCount: Long = -1L): DataFrame = {
    val b0 = if (bits > 0) bits else lshBitsFor(
      if (knownCount >= 0L) knownCount else embeddings.count(), targetBucket)
    if (bits <= 0) assertDimsCarryBits(embeddings, b0, "sim_knn_join_lsh")
    val e = withNorm(embeddings).withColumn("bucket", signBucket(col("v"), b0))
    lshBucketPreflight(e, b0, pairBudget, "sim_knn_join_lsh")
    val b = e.select(col("vec_id").as("nid"), col("v").as("nv"),
      col("nrm").as("nn"), col("bucket"))
    val pairs = e.join(b, Seq("bucket")).filter(col("vec_id") =!= col("nid"))
      .withColumn("cosine", vector_dot(col("v"), col("nv")) / (col("nrm") * col("nn")))
    topKPerKey(pairs.select(col("vec_id"), col("nid").as("neighbor_id"), col("cosine")), k)
  }

  /** r13 (VERDICT r12 #3): recall@k of the LSH k-NN escape against the
    * exact k-NN join, per vector — [[simSearchIvfRecall]]'s pattern for
    * the join form the pair budget routes INTO ([[Escapes.knnJoin]]).
    * Both rankings are declared hash-verified queries; the overlap count
    * is a semi join on (vec_id, neighbor_id) and the recall divide is the
    * only non-integer. A vector alone in its sign bucket has NO lsh
    * neighbors at all — those rows surface as n_overlap = 0, which is the
    * honest answer (the escape returns nothing for them), not a missing
    * row. */
  def simKnnLshRecall(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val exact = simKnnJoin(embeddings, k)
      .select(col("vec_id"), col("neighbor_id"))
    val approx = simKnnJoinLsh(embeddings, k)
      .select(col("vec_id"), col("neighbor_id"))
    val overlap = exact.join(approx, Seq("vec_id", "neighbor_id"), "left_semi")
      .groupBy(col("vec_id")).agg(count(lit(1)).as("n_overlap"))
    exact.groupBy(col("vec_id")).agg(count(lit(1)).as("k_exact"))
      .join(overlap, Seq("vec_id"), "left")
      .select(col("vec_id"), col("k_exact"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") /
          col("k_exact").cast("double")).as("recall"))
      .orderBy("vec_id")
  }

  /** SemDeDup-style semantic clustering: connected components over the
    * exact cosine near-dup graph at `threshold` — groups of vectors
    * that are all transitively semantically close, the keep-one-per-
    * cluster primitive for embedding-level corpus pruning. Pair
    * generation is [[dedupEmbeddingCosine]] (bounded block equi-join);
    * clustering is the shared path-halving min-label fixpoint
    * (`Dedup.ccComponents` — O(log chain depth) rounds, 1-row driver
    * traffic per round). The pair frame is persisted because every
    * fixpoint round re-reads it. */
  def dedupSemanticClusters(embeddings: DataFrame, threshold: Double = 0.35): DataFrame = {
    // r14: ride the memoized (already persisted) pair frame instead of
    // persisting a private copy — the fixpoint's per-round re-reads hit
    // the shared materialization, and the orderBy the declared pair query
    // pays is skipped (CC is order-free; this query orders by vec_id).
    val pairs = embCosinePairs(embeddings, threshold)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    Dedup.ccComponents(pairs)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"))
      .orderBy("vec_id")
  }

  /** Per-label embedding centroids — the class-prototype aggregate
    * (labeled corpus → one mean vector per label; the building block of
    * nearest-class-mean labeling and of drift monitoring between corpus
    * snapshots). Shape is the IVF recipe without the iteration:
    * posexplode to (label, dim, x), ONE partial/final hash agg, then
    * labels×dims rows out — bounded by the label vocabulary, never by
    * corpus size. Exactness: elements are float32, so x·2^48 is an EXACT
    * integer for any |x| ≥ 2^-25 (exponent shift; the fixture's min
    * magnitude is ~2^-20) — summed as DECIMAL(38,0) the aggregation has
    * no rounding at all, unlike a DECIMAL(38,12) cast of the raw double
    * where Spark rounds HALF_UP but DuckDB truncates (IVF survives that
    * divergence because means only drive discrete cell assignment; here
    * the mean IS the output). The final /2^48 is an exact exponent
    * shift and /n the single correctly-rounded op, identical in both
    * engines. */
  def aggEmbeddingCentroid(embeddings: DataFrame): DataFrame =
    centroidCore(embeddings).orderBy("label", "dim")

  private def centroidCore(embeddings: DataFrame): DataFrame = {
    val scale = 281474976710656.0 // 2^48
    embeddings
      .select(col("label"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        (sum((col("x") * lit(scale)).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("double") / lit(scale) / count(lit(1))).as("centroid"),
        count(lit(1)).as("n"))
      .select(col("label"), col("dim").cast("long").as("dim"), col("centroid"), col("n"))
  }

  /** r11: top principal direction of the corpus Gram matrix by a
    * FIXED-ITERATION power method — the one-vector PCA screen an
    * embedding pipeline wants before whitening/quantization decisions:
    * the dominant direction's loadings plus its Rayleigh eigenvalue and
    * trace share ("is 40% of corpus energy one axis?" — anisotropy is
    * the known failure mode of raw transformer embeddings).
    *
    * Semantics: 8 power iterations seeded from the all-ones vector,
    * normalized each round by the SIGNED max-|·| entry (first index
    * kept under ties) — a declared fixed-iteration statistic, not an
    * until-convergence solver, so it is a pure function of the data.
    *
    * EXACTNESS: Gram entries G[i][j] = Σ xᵢxⱼ accumulate EXACTLY — each
    * FACTOR xᵢ·2⁴⁸ is an exact ≤16-digit integer (the centroid device;
    * Spark's double→decimal cast goes through `Double.toString`'s ~17
    * significant digits, so the 2⁹⁶-scaled PRODUCT cast directly would
    * silently truncate — the factors must be cast separately and
    * multiplied in DECIMAL, where the product is exact), the
    * DECIMAL(18,0)×DECIMAL(18,0) product and its sum have no rounding
    * (overflow bound ~3·10⁸ vectors, stated); one decimal→double
    * conversion per entry. The
    * iterations are index-ordered fold chains (j ascending per row,
    * division per element, selection-based normalizer) replayed
    * identically in DuckDB list comprehensions — bit-identical.
    *
    * SCALE: the dims²-bounded Gram is the ONLY driver collect (4096
    * rows at dims = 64 — the IVF-centroid bounded-collect contract).
    * The corpus-sized work is ONE typed mapPartitions pass with
    * per-task 128-bit accumulators: each element scales to the exact
    * long xᵢ·2⁴⁸ (< 2⁴⁹), each product is one multiplyHigh/low long
    * pair added exactly into a two-long accumulator per Gram cell, and
    * only tasks·dims² partial rows (as decimal strings) cross the wire
    * into the final decimal agg — the map-side combine a hash agg
    * cannot do at 2⁹⁶ width (the first cut, a posexplode self-join
    * into an 8.2M-row DECIMAL aggregate, measured 15.7 s at sf0.1; this
    * shape is 0.5 s). Exact-integer addition commutes, so the result is
    * partition-count-independent. The 64-dim iteration itself is driver
    * arithmetic on a constant-size matrix. */
  def embTopComponent(embeddings: DataFrame, dims: Int = 64,
                      iters: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val scale48 = 281474976710656.0   // 2^48
    val scale96 = math.pow(2.0, 96.0) // 2^48 squared, exact
    val dims2 = dims * dims
    val partials = embeddings.select(col("embedding").cast("array<double>"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        val accHi = new Array[Long](dims2)
        val accLo = new Array[Long](dims2)
        val w = new Array[Long](dims)
        var any = false
        it.foreach { v =>
          if (v != null && v.length >= dims) {
            any = true
            var i = 0
            // rint, not bare toLong (r11 ADVICE): the oracle's
            // CAST(x * 2^48 AS DECIMAL) rounds to nearest while toLong
            // truncates — for the float32 fixture both are exact (any
            // |x| ≥ 2^-25 scales to an exact integer), so rint closes the
            // truncate-vs-round gap for any input that is NOT an exact
            // .5 tie. r13 (r12 ADVICE): ties are still engine-divergent
            // for non-float32 inputs — rint rounds half-to-even while
            // DuckDB's decimal cast rounds ties away from zero; the
            // fixture is tie-free, and a corpus that isn't needs one
            // shared away-from-zero spelling on both sides.
            while (i < dims) { w(i) = math.rint(v(i) * scale48).toLong; i += 1 }
            i = 0
            while (i < dims) {
              var j = 0
              while (j < dims) {
                val lo = w(i) * w(j)
                val hi = Math.multiplyHigh(w(i), w(j))
                val k = i * dims + j
                val nl = accLo(k) + lo
                // unsigned-compare carry into the high word (two's-
                // complement 128-bit add: carry iff newLo wrapped below lo)
                val carry =
                  if (java.lang.Long.compareUnsigned(nl, lo) < 0) 1L else 0L
                accLo(k) = nl
                accHi(k) = accHi(k) + hi + carry
                j += 1
              }
              i += 1
            }
          }
        }
        if (!any) Iterator.empty
        else (0 until dims2).iterator.map { k =>
          val big = java.math.BigInteger.valueOf(accHi(k)).shiftLeft(64)
            .add(new java.math.BigInteger(java.lang.Long.toUnsignedString(accLo(k))))
          (k, big.toString)
        }
      }
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val gRows = partials.toDF("k", "s")
      .groupBy(col("k"))
      .agg((sum(col("s").cast(dec38)).cast("double") / lit(scale96)).as("g"))
      .collect() // BOUNDED: dims² rows (the IVF-centroid collect contract)
    val g = Array.ofDim[Double](dims, dims)
    gRows.foreach(r => g(r.getInt(0) / dims)(r.getInt(0) % dims) = r.getDouble(1))
    var v = Array.fill(dims)(1.0)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(dims) { i =>
        var acc = 0.0; var j = 0
        while (j < dims) { acc = acc + g(i)(j) * v(j); j += 1 }; acc
      }
      var m = w(0)
      var i = 1
      while (i < dims) { if (math.abs(w(i)) > math.abs(m)) m = w(i); i += 1 }
      v = w.map(_ / m)
    }
    val gv = Array.tabulate(dims) { i =>
      var acc = 0.0; var j = 0
      while (j < dims) { acc = acc + g(i)(j) * v(j); j += 1 }; acc
    }
    var num = 0.0; var den = 0.0; var tr = 0.0
    for (i <- 0 until dims) { num = num + v(i) * gv(i) }
    for (i <- 0 until dims) { den = den + v(i) * v(i) }
    for (i <- 0 until dims) { tr = tr + g(i)(i) }
    val lam = num / den
    (0 until dims).map(i => (i.toLong, v(i), lam, lam / tr))
      .toDF("dim", "loading", "eigenvalue", "trace_share")
      .orderBy("dim")
  }

  /** r4: cross-snapshot embedding drift — per-label Chebyshev distance
    * (max per-dimension shift) between the class centroids of an
    * existing corpus snapshot and a new batch (vec_id parity splits the
    * fixture, same convention as `dedup_incremental`) — the monitoring
    * query that says whether a crawl refresh moved a class's semantic
    * center. Exactness: centroids come from the exact-integer
    * [[aggEmbeddingCentroid]] sums, each per-dimension delta is ONE
    * correctly-rounded subtract, and the per-label reduce is max(abs(·))
    * — a SELECTION, never a sum of already-rounded doubles (a summed L2
    * would round engine-dependently; Chebyshev stays bit-exact). Plan:
    * two bounded centroid aggs (labels × dims rows) + one tiny join. */
  def embCentroidDrift(embeddings: DataFrame): DataFrame = {
    val store = centroidCore(embeddings.filter(col("vec_id") % 2 === 0))
    val fresh = centroidCore(embeddings.filter(col("vec_id") % 2 === 1))
    store.select(col("label"), col("dim"), col("centroid").as("c_store"))
      .join(fresh.select(col("label"), col("dim"), col("centroid").as("c_new")),
        Seq("label", "dim"))
      .withColumn("delta", abs(col("c_new") - col("c_store")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_dims"), max(col("delta")).as("max_abs_drift"))
      .orderBy("label")
  }

  /** r4: symmetric int8 quantization of the embedding column — the
    * compression pass a 100 TB ANN index wants before anything else (4×
    * smaller vectors ⇒ 4× more of the corpus resident per executor, and
    * integer dot products where SIMD is cheapest). Per vector:
    * `scale = max(|x|)/127`, `q_i = clamp(⌊x_i/scale + 0.5⌋, ±127)` —
    * max is a selection and the divide/round are single correctly-rounded
    * IEEE ops, so every q is bit-identical in any engine. The output is
    * the per-vector quality report (q range, exact integer ‖q‖², and the
    * decimal-exact L1 reconstruction error), i.e. the evidence that the
    * quantized index is usable. Plan: ONE shuffle on vec_id — the window
    * max and the final group share the hash partitioning, and each
    * vector's 64 dims sit in one partition by construction (no skew: all
    * groups are exactly dim-sized). */
  /** Per-dimension int8 codes: (vec_id, dim, x, scale, q) — the shared
    * quantization core of [[embQuantizeInt8]] and [[embPqCodes]]. One
    * vec_id window shuffle; every op a single correctly-rounded IEEE
    * step (see [[embQuantizeInt8]]). */
  private def quantizedDims(embeddings: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
    embeddings
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")).as(Seq("dim", "x")))
      .withColumn("scale", max(abs(col("x"))).over(w) / lit(127.0))
      .withColumn("q",
        when(col("scale") === 0.0, lit(0L)).otherwise(
          least(greatest(floor(col("x") / col("scale") + lit(0.5)), lit(-127.0)), lit(127.0))
            .cast("long")))
  }

  def embQuantizeInt8(embeddings: DataFrame): DataFrame = {
    quantizedDims(embeddings)
      .groupBy(col("vec_id"))
      .agg(
        max(col("scale")).as("scale"), // constant within the vector
        min(col("q")).as("q_min"),
        max(col("q")).as("q_max"),
        sum(col("q") * col("q")).as("q_norm2"),
        graft.Det.dsum(abs(col("q") * col("scale") - col("x"))).as("err_l1"))
      .orderBy("vec_id")
  }

  /** r4: product-quantization code assignment — THE standard 100 TB ANN
    * compression (each 64-dim vector becomes `nSub` 4-bit codes +
    * asymmetric-distance lookups against sub-codebooks instead of full
    * dot products). Runs over the int8-quantized dims
    * ([[quantizedDims]]) so every distance is pure INTEGER arithmetic —
    * argmin can never flip on a float ulp, which is what lets a learned
    * codebook assignment hash-match across engines at all. Codebook:
    * the first `nCents` vectors' sub-vectors (the same first-N seeding
    * as [[simSearchIvf]]; Lloyd refinement composes exactly as there —
    * per-(sub, code, dim) exact means — and is deliberately left out to
    * keep the assignment a one-join plan). Plan: dim fan-out map-side,
    * one broadcast join against the nCents·dim-row codebook, two hash
    * aggs keyed by vec_id — candidate work is rows × nCents, never
    * all-pairs, and the codebook broadcast is bounded by construction. */
  /** Sub-vector int8 dims `(vec_id, sub, k, q)` and the first-`nCents`
    * seeded codebook `(cid, sub, k, qc)` — shared by [[embPqCodes]] and
    * [[simSearchPqAdc]]. */
  private def pqParts(embeddings: DataFrame, nSub: Int,
                      nCents: Int): (DataFrame, DataFrame) = {
    val q = quantizedDims(embeddings)
      .select(col("vec_id"), expr(s"dim div ${64 / nSub}").as("sub"),
        expr(s"dim % ${64 / nSub}").as("k"), col("q"))
    val codebook = q.filter(col("vec_id") < nCents)
      .select(col("vec_id").as("cid"), col("sub"), col("k"), col("q").as("qc"))
    (q, codebook)
  }

  /** Integer L2² per (vec, sub, centroid) — rows × nCents candidates,
    * exact argmin material for both the assignment and the ADC tables. */
  private def pqDistances(q: DataFrame, codebook: DataFrame): DataFrame =
    q.join(broadcast(codebook), Seq("sub", "k"))
      .groupBy(col("vec_id"), col("sub"), col("cid"))
      .agg(sum((col("q") - col("qc")) * (col("q") - col("qc"))).as("dist2"))

  def embPqCodes(embeddings: DataFrame, nSub: Int = 8, nCents: Int = 16): DataFrame =
    pqCodesCore(embeddings, nSub, nCents).orderBy("vec_id", "sub")

  /** The (unsorted) PQ code assignment behind [[embPqCodes]]. The ADC
    * consumers read this core directly so they stop paying the
    * assignment's orderBy for an output their join immediately unorders.
    * NEGATIVE A/B (r14, recorded per guide §1): memoizing this frame
    * (Memo.frame role pq-codes-8-16) measured sim_search_pq_adc 0.97 →
    * 1.41 s WARM at sf0.1/32c — the cached InMemoryTableScan read plans
    * worse than the codegen'd inline recompute for the downstream
    * broadcast-ADC join — while emb_pq_codes only dropped 1.14 → 0.76.
    * Net ≈ 0 across the three consumers, so the memo was reverted. */
  private def pqCodesCore(embeddings: DataFrame, nSub: Int, nCents: Int): DataFrame = {
    val (q, codebook) = pqParts(embeddings, nSub, nCents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("sub")).orderBy(col("dist2"), col("cid"))
    pqDistances(q, codebook).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cid").as("code"), col("dist2"))
  }

  /** r7b: Lloyd-REFINED PQ codes — closes the documented gap in
    * [[embPqCodes]] (first-nCents-seeded sub-codebooks): one k-means
    * refinement per subspace on the round-0 assignment, with centroids
    * RE-QUANTIZED to integers (round-half-away-from-zero as one integral
    * (2S+m) div 2m per coordinate — the mean stays a rational of two
    * integer sums, so the refined codebook is engine-exact and the L2²
    * distances stay all-integer, the property the whole PQ/ADC stack's
    * hash-matching rests on). Empty cells inherit their seed row via one
    * left join (a seed vector always assigns to itself, so cells are
    * non-empty in practice). Same output shape as [[embPqCodes]] — drop
    * in wherever the codes feed [[simSearchPq]]'s ADC tables. Plan: two
    * broadcast-codebook distance rounds + one bounded
    * (nSub×nCents×dims) refine agg — still never all-pairs. */
  def embPqCodesLloyd(embeddings: DataFrame, nSub: Int = 8,
      nCents: Int = 16): DataFrame = {
    def intRound(s: Column, m: Column): Column = {
      def posr(a: Column) =
        call_function("div", a * 2 + m, m * 2)
      when(s < 0, -posr(-s)).otherwise(posr(s)).cast("long")
    }
    val (q, cb0) = pqParts(embeddings, nSub, nCents)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("sub")).orderBy(col("dist2"), col("cid"))
    val assign0 = pqDistances(q, cb0).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("vec_id"), col("sub"), col("cid"))
    val refined = q.join(assign0, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("cid"), col("k"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("m"))
      .select(col("sub"), col("cid"), col("k"),
        intRound(col("s"), col("m")).as("qc1"))
    val cb1 = cb0.join(refined, Seq("sub", "cid", "k"), "left")
      .select(col("cid"), col("sub"), col("k"),
        coalesce(col("qc1"), col("qc")).as("qc"))
    pqDistances(q, cb1).withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub").cast("long").as("sub"),
        col("cid").as("code"), col("dist2"))
      .orderBy("vec_id", "sub")
  }

  /** r4: asymmetric-distance (ADC) top-k search over the PQ codes — the
    * query side of the [[embPqCodes]] compression: each query
    * precomputes its nSub×nCents integer distance table once, and every
    * corpus vector is then scored with nSub table lookups + adds
    * instead of a 64-dim float dot — the lookup-table trick that makes
    * billion-vector scans affordable. The scored distance is
    * Σ_sub dt[query, sub, code(target, sub)] — all INTEGER, so ranking
    * (ties by vec_id) hash-matches exactly. Plan: the code table
    * (n×nSub rows) equi-joins the BROADCAST distance tables on
    * (sub, code) — per-query work linear in corpus size (that is ADC's
    * contract; the sub-linear escape is IVF cells in front, exactly as
    * [[simSearchIvf]] composes), shuffle keyed by (query, target) for
    * the sum, then the usual top-k window. */
  /** r4: the full production ANN stack — IVF cells in FRONT of ADC
    * scoring: candidates come from the query's nProbe Lloyd cells
    * ([[ivfParts]]), and only those vectors are ADC-scored against the
    * broadcast distance tables. Per-query work drops from linear in the
    * corpus ([[simSearchPqAdc]]'s contract) to linear in the probed
    * cells' population — the sub-linear form both operators' docs
    * promise composes exactly as claimed, and `ScaleLayoutSpec` PROVES it:
    * this ranking is bit-identical to brute ADC restricted to the same
    * probed (query, vector) candidate set. Declared query since r8
    * (`sim_search_ivf_adc`): the oracle SPLICES the two halves' own CTE
    * bodies (IVF through `probes`, PQ through `dt`) into one WITH — the
    * FUNNEL_NEAR_CTES technique — instead of unrolling pages of SQL. */
  def simSearchIvfAdc(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10,
                      nCells: Int = 16, nProbe: Int = 4,
                      nSub: Int = 8, nCents: Int = 16): DataFrame = {
    val (assigned, probes) = ivfParts(embeddings, nQueries, nCells, nProbe, 2)
    val cands = assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(probes.select(col("query_id"), col("cell"))), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
    val (q, codebook) = pqParts(embeddings, nSub, nCents)
    val codes = pqCodesCore(embeddings, nSub, nCents)
      .select(col("vec_id"), col("sub"), col("code"))
    val dt = pqDistances(q.filter(col("vec_id") < nQueries), codebook)
      .select(col("vec_id").as("query_id"), col("sub").cast("long").as("sub"),
        col("cid"), col("dist2").as("dt2"))
    val scored = cands
      .join(codes, Seq("vec_id"))
      .join(broadcast(dt), Seq("query_id", "sub"))
      .filter(col("code") === col("cid"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dt2")).as("adc_dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_dist2"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("adc_dist2"))
      .orderBy("query_id", "rn")
  }

  def simSearchPqAdc(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10,
                     nSub: Int = 8, nCents: Int = 16): DataFrame = {
    val (q, codebook) = pqParts(embeddings, nSub, nCents)
    val codes = pqCodesCore(embeddings, nSub, nCents)
      .select(col("vec_id"), col("sub"), col("code"))
    val dt = pqDistances(q.filter(col("vec_id") < nQueries), codebook)
      .select(col("vec_id").as("query_id"), col("sub").cast("long").as("sub"),
        col("cid"), col("dist2").as("dt2"))
    val scored = codes
      .join(broadcast(dt),
        codes("sub") === dt("sub") && codes("code") === dt("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("dt2")).as("adc_dist2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc_dist2"), col("vec_id"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("adc_dist2"))
      .orderBy("query_id", "rn")
  }

  /** Sign bits of all 64 dimensions packed into two positive int64 halves
    * (32 bits each — a single 64-bit pack would need the sign bit, whose
    * shift overflows DuckDB's checked `<<`). */
  private def signBits(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), col("label"),
      expr("aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        "acc + IF(element_at(embedding, i + 1) > 0.0D, shiftleft(1L, i), 0L))")
        .as("sig_lo"),
      expr("aggregate(sequence(0, 31), 0L, (acc, i) -> " +
        "acc + IF(element_at(embedding, i + 33) > 0.0D, shiftleft(1L, i), 0L))")
        .as("sig_hi"))

  /** r5c2: 1-bit (sign) embedding quantization — the last rung of the
    * compression ladder below [[embQuantizeInt8]] and [[embPqCodes]]:
    * 64 float dims → 64 bits (32× smaller than float32, 8× smaller than
    * int8), the representation binary-embedding search engines store.
    * Pure selections (x > 0) and integer packing ⇒ the signatures
    * themselves hash-match; n_pos is the popcount audit column. */
  def embBinarizeSign(embeddings: DataFrame): DataFrame =
    signBits(embeddings)
      .withColumn("n_pos",
        (bit_count(col("sig_lo")) + bit_count(col("sig_hi"))).cast("long"))
      .orderBy("vec_id")

  /** r5c2: Hamming top-k over the sign signatures — the search path that
    * pairs with [[embBinarizeSign]]: distance = popcount(xor), two
    * codegen'd integer ops per candidate against 16 bytes of signature
    * (vs 256 float multiplies for exact cosine) — the first-pass filter
    * binary-embedding deployments run before exact re-ranking. Same
    * query-broadcast + per-query rank shape as [[simSearchCosineTopk]]
    * (the probe side streams once, never shuffles); ties broken by
    * vec_id, all-integer output ⇒ hash-match. */
  def simSearchHammingTopk(embeddings: DataFrame, nQueries: Int = 10,
                           k: Int = 10): DataFrame = {
    val sig = signBits(embeddings)
    val q = sig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("sig_lo").as("qlo"),
        col("sig_hi").as("qhi"))
    val pairs = sig.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        (bit_count(col("sig_lo").bitwiseXOR(col("qlo"))) +
          bit_count(col("sig_hi").bitwiseXOR(col("qhi")))).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("hamming"), col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("hamming"))
      .orderBy("query_id", "rn")
  }

  /** r6: embedding-norm census per label — the first sanity table an
    * embedding pipeline prints: collapsed (near-zero) vectors, norm
    * range and mean per class (un-normalized embeddings silently break
    * cosine ANN; a label whose norms drifted is a re-embedding bug).
    * Norms ride the native [[graft.functions.VectorDot]] expression
    * (codegen'd index-ordered fold — the determinism the cosine family
    * already relies on) + correctly-rounded `sqrt`; the mean goes
    * through the decimal [[graft.Det.dsum]] path. One map-side
    * projection + one hash agg on the label key. */
  def embNormStats(embeddings: DataFrame, zeroEps: Double = 1e-6): DataFrame =
    embeddings
      .select(col("label"),
        sqrt(vector_dot(col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>"))).as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("norm_min"),
        graft.Det.davg(col("nrm")).as("norm_mean"),
        max(col("nrm")).as("norm_max"),
        sum(when(col("nrm") < zeroEps, 1L).otherwise(0L)).as("n_zero"))
      .orderBy("label")

  /** r7: truncation-recall audit — the measurement behind
    * Matryoshka-style dimension cuts ("can we search on the first 16 of
    * 64 dims and keep the neighbors?"): per query, the overlap between
    * the exact cosine top-k on FULL vectors and the top-k on the
    * truncated prefix, as a parts-per-billion recall. This is the
    * decision table for the cheapest ANN lever there is (truncation cuts
    * index bytes AND dot-product FLOPs linearly, with zero index
    * structure) — the audit [[embPqCodes]]/[[simSearchPq]] get from
    * their ADC siblings, here for plain prefix cuts. Both rankings ride
    * the proven deterministic cosine chain ([[graft.functions.VectorDot]]
    * sequential fold + one sqrt + one divide, ties on vec_id); the
    * overlap count and ppb are pure integers, so the whole report is
    * engine-exact. Plan: two broadcast-query scans (corpus side stays
    * partitioned), per-query top-k windows on the bounded candidate
    * frames, one k-row equi-join per query to intersect. */
  def embTruncationRecall(embeddings: DataFrame, nQueries: Int = 8,
      k: Int = 10, dims: Int = 16): DataFrame = {
    def idiv(a: Column, b: Column) = call_function("div", a, b)
    def topk(frame: DataFrame): DataFrame = {
      val q = frame.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
      frame.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cosine", vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("query_id"), col("vec_id"))
    }
    val full = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
    val trunc = embeddings
      .select(col("vec_id"),
        slice(col("embedding").cast("array<double>"), 1, dims).as("v"))
      .withColumn("nrm", sqrt(vector_dot(col("v"), col("v"))))
    val overlap = topk(full)
      .join(topk(trunc), Seq("query_id", "vec_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("n_overlap"))
    full.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"), lit(k.toLong).as("k"), lit(dims.toLong).as("dims"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        idiv(coalesce(col("n_overlap"), lit(0L)) * lit(1000000000L), lit(k.toLong))
          .as("recall_ppb"))
      .orderBy("query_id")
  }

  /** r9: two-stage coarse→exact RERANK — the retrieval composition every
    * production vector stack ends at ([[simSearchIvfAdc]] narrows WHERE
    * to look; rerank fixes WHAT to return): stage 1 scores candidates
    * with cheap compressed dot products (here the [[quantizedDims]] int8
    * codes — pure INTEGER multiply-adds, 8× less memory traffic than the
    * doubles) and keeps a margin of `c` = 3k candidates; stage 2
    * re-scores ONLY those c in full precision (the exact
    * [[simSearchCosineTopk]] cosine spelling) and emits the final top-k.
    * Both stage ranks ride along, so the output doubles as the
    * calibration table for the margin lever: a hit with coarse_rank
    * near c says the margin is too thin, all-top-k-inside-top-k says it
    * can shrink. The int8 full-scan coarse stage is the deliberately
    * simple baseline — swapping it for the ADC table scorer is the
    * [[simSearchIvfAdc]] composition and changes nothing downstream of
    * the candidate frame.
    *
    * EXACTNESS: stage 1 is all-integer (codes are engine-exact by the
    * [[embQuantizeInt8]] argument — floor(x/s + 0.5) on correctly-
    * rounded IEEE ops); stage 2 is the already-hash-matched fixed cosine
    * chain; both ranks tie-break by vec_id. SCALE: the coarse scan is
    * rows × dims × queries integer MACs with the tiny query-code frame
    * broadcast (corpus side never moves); stage 2 touches exactly
    * nQueries·c vectors — the expensive math runs on a candidate set
    * whose size the caller controls, not on the corpus. */
  def simSearchRerank(embeddings: DataFrame, nQueries: Int = 10,
                      k: Int = 10, c: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val qd = quantizedDims(embeddings)
      .select(col("vec_id"), col("dim"), col("q"))
    val qq = qd.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("dim"), col("q").as("wq"))
    val wC = w.partitionBy(col("query_id"))
      .orderBy(col("coarse_dot").desc, col("vec_id"))
    val cands = qd.join(broadcast(qq), Seq("dim"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("q") * col("wq")).as("coarse_dot"))
      .withColumn("coarse_rank", row_number().over(wC).cast("long"))
      .filter(col("coarse_rank") <= c)
    val e = withNorm(embeddings)
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val wK = w.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cands.join(e, "vec_id").join(broadcast(qv), "query_id")
      .withColumn("cosine",
        vector_dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .withColumn("rn", row_number().over(wK).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("rn"), col("vec_id"), col("cosine"),
        col("coarse_dot"), col("coarse_rank"))
      .orderBy("query_id", "rn")
  }

  /** r10b: maximum-inner-product top-k with the documented MIPS→cosine
    * reduction — the retrieval objective the whole cosine stack can't
    * serve directly: recommendation / reranking scores are raw inner
    * products where MAGNITUDE matters (a high-norm item legitimately
    * outranks a near-parallel low-norm one), and normalizing destroys
    * exactly that. The classic reduction (Bachrach et al. 2014): append
    * aug = √(M² − ‖x‖²) to each item (M = max corpus norm) and 0 to the
    * query — every augmented item then has norm exactly M, so augmented
    * COSINE order ≡ inner-product order and the library's entire cosine
    * ANN stack (sign-LSH buckets, IVF cells) serves MIPS unchanged. This
    * query is the exact baseline of that family: it RANKS BY THE RAW
    * DOT (the augmented-cosine order, by the identity above — ties and
    * all, since aug-cosine = dot/(‖q‖·M) is strictly monotone in dot)
    * and emits the aug coordinate as the reduction's witness (spec
    * asserts M² − ‖x‖² ≥ 0 and norm invariance). SCALE: the
    * [[simSearchCosineTopk]] posture — corpus stays partitioned, only
    * the ≤nQueries query side broadcasts; one fixed dot+divide chain. */
  def simSearchMips(embeddings: DataFrame, nQueries: Int = 10, k: Int = 10): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("n2", vector_dot(col("v"), col("v")))
    val m2 = e.agg(max(col("n2")).as("m2"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val pairs = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", vector_dot(col("qv"), col("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("dot").desc, col("vec_id"))
    pairs.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .crossJoin(broadcast(m2))
      .select(col("query_id"), col("rn"), col("vec_id"), col("dot"),
        sqrt(col("m2") - col("n2")).as("aug_coord"))
      .orderBy("query_id", "rn")
  }
}
