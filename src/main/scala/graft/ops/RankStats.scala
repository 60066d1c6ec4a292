package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Rank-based (non-parametric) statistics — the tests a data-quality
  * pipeline reaches for when values are heavy-tailed or ordinal and the
  * Gaussian machinery (`stat_anova_f`, `stat_welch_t`) is unjustified:
  * Kruskal–Wallis (k-sample ranks ANOVA), Mann–Whitney U (two-sample),
  * Spearman rank correlation. Reference anchor: the monitoring subsystem's
  * per-node threshold screens (reference `AIRWISEv0.py:73-103` — the
  * heartbeat checker's fixed-threshold comparisons, `AIRWISEv0.py:20,84`)
  * generalized to distribution-level tests.
  *
  * THE SCALE DESIGN: classic rank tests are "sort everything, rank each
  * row" — a global sort plus a partition-less window, exactly the shape
  * this library bans on data-scaled frames. The k-sample tests here never
  * rank a row at all. With values quantized to integer cents (the
  * `stat_moments_per_type` trick — both engines round double→DECIMAL(28,2)
  * identically), the tie-averaged rank of value v depends only on counts:
  *
  *   2·r̄(v) = 2·cntLess(v) + t(v) + 1
  *
  * (doubled to stay integral; t = tie count). So per-GROUP rank sums need
  * only the (value, group) contingency cells and an exclusive prefix sum
  * of t over DISTINCT values — frames bounded by the value vocabulary,
  * not the row count. The prefix sum runs the two-phase range pattern
  * (`corpus_pack_sequences`): coarse value buckets → one tiny-frame
  * cumsum → per-bucket local cumsum, never a partition-less window over
  * the distinct frame. Everything stays in DECIMAL(38,0)/HUGEINT through
  * the sums, crosses to double via [[graft.Det.decToDouble]]'s base-2^53
  * split, and finishes in a fixed IEEE chain (sqrt is correctly rounded
  * per IEEE-754, so it is cross-engine safe; ln/exp are not and are never
  * used). */
object RankStats {
  private val dec38 = DecimalType(38, 0)
  private def idiv(a: Column, b: Column) = call_function("div", a, b)
  private def cents(v: Column): Column =
    (v.cast(DecimalType(28, 2)) * 100).cast(dec38).cast("long")

  /** Per-distinct-value tie counts `tv` and exclusive prefix counts
    * `cnt_less` derived from the (value, group) contingency cells (so the
    * fact table is scanned exactly once, by the cells agg), distributed:
    * contiguous 4096-cent buckets (truncating div — bucket 0 spans
    * (−4096, 4096) but intervals stay contiguous and ordered, which is
    * all a prefix sum needs), per-bucket totals, exclusive cumsum over
    * the tiny bucket frame (≤ value-range/4096 rows), then a bucket-local
    * cumsum window (≤ 4096 distinct values per partition by
    * construction). */
  private def rankedValues(cells: DataFrame): DataFrame = {
    val perV = cells.groupBy(col("c")).agg(sum(col("mv")).as("tv"))
      .withColumn("bkt", idiv(col("c"), lit(4096L)))
    val bt = perV.groupBy(col("bkt")).agg(sum(col("tv")).as("btv"))
    val base = bt.withColumn("base", coalesce(
        sum(col("btv")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("base"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("c"))
    perV.join(broadcast(base), "bkt")
      .withColumn("cnt_less", col("base") + sum(col("tv")).over(w) - col("tv"))
      .select(col("c"), col("tv"), col("cnt_less"))
  }

  /** r14 OPT (guide §2 avoid recomputation / §5 cache reused+expensive):
    * the rank tier's (value-cents, class) contingency cells — the one
    * data-scaled scan+agg every rank test starts from — were rebuilt PER
    * QUERY (and, inside stat_mood_median, per CONSUMER: its cells subtree
    * evaluated 4×, a 42-exchange plan costing 1.95 s on the clean r14
    * baseline). Two memoized frames (all-class and two-class) plus their
    * [[rankedValues]] derivations serve the whole tier under the shared
    * cache lifecycle; every downstream frame stays vocab-bounded. */
  private def cellsAllMemo(events: DataFrame): DataFrame =
    graft.Memo.frame(events, "rank-cells-all") {
      events.filter(col("value").isNotNull)
        .select(col("event_type"), cents(col("value")).as("c"))
        .groupBy(col("c"), col("event_type")).agg(count(lit(1)).as("mv"))
    }

  private def cellsTwoMemo(events: DataFrame, classA: String,
      classB: String): DataFrame =
    graft.Memo.frame(events, s"rank-cells-$classA-$classB") {
      events
        .filter(col("value").isNotNull && col("event_type").isin(classA, classB))
        .select(col("event_type"), cents(col("value")).as("c"))
        .groupBy(col("c"), col("event_type")).agg(count(lit(1)).as("mv"))
    }

  /** Memoized [[rankedValues]] over a memoized cells frame; `role` names
    * the cells frame. */
  private def rankedValuesMemo(events: DataFrame, cells: DataFrame,
      role: String): DataFrame =
    graft.Memo.frame(events, s"rank-rv-$role")(rankedValues(cells))

  /** Kruskal–Wallis H across every event_type's value distribution, tie
    * corrected:
    *   H = 12/(N(N+1)) · Σᵢ Rᵢ²/nᵢ − 3(N+1),   H_c = H / C,
    *   C = 1 − Σ(t³−t)/(N³−N).
    * Group rank sums come from the contingency cells: 2Rᵢ = Σ_v m_{v,i} ·
    * (2·cntLess(v)+t(v)+1), an equi-join of the (value,type) cells with
    * [[rankedValues]] — no per-row ranks. Σᵢ Rᵢ²/nᵢ accumulates its k
    * per-group doubles through DECIMAL(38,6) (the `stat_anova_f` pattern)
    * so group order cannot matter. One row out. */
  def statKruskalWallis(events: DataFrame): DataFrame = {
    val cells = cellsAllMemo(events)
    val rv = rankedValuesMemo(events, cells, "all")
    val d2 = graft.Det.decToDouble _
    val perGroup = cells.join(rv, "c")
      .groupBy(col("event_type"))
      .agg(sum(col("mv")).as("ni"),
        sum(col("mv").cast(dec38) *
          (lit(2L) * col("cnt_less") + col("tv") + lit(1L))).as("r2i"))
      .withColumn("r2d", d2(col("r2i")))
      // Rᵢ²/nᵢ = (2Rᵢ)²/(4nᵢ), quantized to integer MICRO-units before
      // the cross-group sum: re-accumulating in DECIMAL(38,0) fixes group
      // order, and an integer-valued decimal is what the split cast can
      // carry to double drift-free (a (38,6) sum's unscaled int passes
      // 2^53 and DuckDB's bare decimal→double cast drifts 1 ulp there —
      // observed 3.6e-12 on sf0.01). The 0.5e-6 term rounding costs H
      // ≤ ~1e-6·12/(N(N+1)) — noise at any N, headroom to ~1e32 sums.
      .withColumn("term", (col("r2d") * col("r2d") /
        (lit(4.0) * col("ni").cast("double")) * lit(1000000.0))
        .cast(DecimalType(38, 0)))
    val ties = rv.agg(
      sum(col("tv").cast(dec38) * col("tv") * col("tv") - col("tv")).as("t3t"))
    perGroup
      .agg(count(lit(1)).as("k"), sum(col("ni")).as("n_total"),
        sum(col("term")).as("sri"))
      .withColumn("sr", d2(col("sri")) / lit(1000000.0))
      .crossJoin(broadcast(ties.select(d2(col("t3t")).as("td"))))
      .withColumn("nd", col("n_total").cast("double"))
      .withColumn("n3nd",
        col("nd") * col("nd") * col("nd") - col("nd"))
      .withColumn("h_stat",
        lit(12.0) / (col("nd") * (col("nd") + lit(1.0))) * col("sr") -
          lit(3.0) * (col("nd") + lit(1.0)))
      .withColumn("tie_c",
        when(col("n3nd") > 0, lit(1.0) - col("td") / col("n3nd")))
      .select(col("k"), col("n_total"), col("h_stat"),
        col("tie_c").as("tie_correction"),
        when(col("tie_c") > 0, col("h_stat") / col("tie_c")).as("h_corrected"))
  }

  /** Mann–Whitney U comparing two event types' value distributions
    * (tie-averaged ranks over the pooled sample, normal-approximation z
    * with tie-corrected variance, rank-biserial effect size):
    *   U = R_a − n_a(n_a+1)/2,  Var U = (n_a n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))),
    *   z = (U − n_a n_b/2)/√VarU,  r_rb = 1 − 2U/(n_a n_b).
    * Same contingency-cell machinery as [[statKruskalWallis]] — the pooled
    * two-class sample is never row-ranked. One row out. */
  /** r12: Conover's squared-ranks test for EQUALITY OF VARIANCES between
    * two event classes — the nonparametric scale test that (unlike
    * Ansari–Bradley / Mood scale, which require equal medians) centers
    * each sample on its own mean first: rank |x − x̄_own| over the
    * combined sample, T = Σ_A rank², z from the exact tie-respecting
    * moments. The practical Levene-alternative when normality is off the
    * table.
    *
    * Exactness discipline: the per-class mean is decToDouble(Σcents)/n
    * (one correctly-rounded divide from an exact decimal sum), and each
    * |c − mean| is a fixed per-row double chain — both engines perform
    * the IDENTICAL IEEE ops on identical inputs, so deviation ORDER and
    * TIES match bit-for-bit (no accumulation-order anywhere). Ranks come
    * from the [[rankedValues]] recipe re-keyed on the double deviation
    * (distinct-deviation cells, 4096-wide bucketed prefix sums — never a
    * single-partition window); average ranks stay integer in half-units
    * (2r = 2·cntLess + tv + 1), so T, Σr², Σr⁴ accumulate EXACTLY in
    * DECIMAL(38,0) quarter/sixteenth-units and cross to double once at
    * the end. Σtv·(2r)⁴ stays split-exact through sf3 (bound 4·10³¹,
    * hi < 2⁵³); far beyond that the 2-level base-2⁵³ split itself is the
    * documented ceiling. */
  def statConoverSquaredRanks(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    val d2 = graft.Det.decToDouble _
    // ONE events scan: (class, cents) contingency cells — every later
    // frame is vocab-bounded (the statMannWhitney discipline; the first
    // cut computed dv per RAW row and re-shuffled the full sample, 6.9×
    // on 10× data at sf1 — this is ≤2·vocab rows end to end after here)
    // NEGATIVE A/B (r14, guide §1): reading the shared memoized cells
    // frame here measured 1.37 -> 2.36 s warm in the full sweep (and
    // 2.0 -> 2.8+ isolated) — unlike the other eight rank consumers, this
    // query's whole downstream chain (stats broadcast + dv re-ranking)
    // hangs off the cells frame twice, and the cached columnar read
    // planned worse than the inline codegen recompute. Kept inline.
    val cells0 = events
      .filter(col("value").isNotNull && col("event_type").isin(classA, classB))
      .select(col("event_type"), cents(col("value")).as("c"))
      .groupBy(col("c"), col("event_type")).agg(count(lit(1)).as("mv"))
    val stats = cells0.agg(
      sum(when(col("event_type") === classA, col("mv")).otherwise(0L)).as("n_a"),
      d2(sum(when(col("event_type") === classA,
        col("mv").cast(dec38) * col("c")).otherwise(lit(0L).cast(dec38))))
        .as("sa"),
      sum(when(col("event_type") === classB, col("mv")).otherwise(0L)).as("n_b"),
      d2(sum(when(col("event_type") === classB,
        col("mv").cast(dec38) * col("c")).otherwise(lit(0L).cast(dec38))))
        .as("sb"))
    // the deviation is a function of (class, c) alone, so it attaches to
    // the CELLS; merging reflections (|c−mean| equal from both sides)
    // happens in the groupBy below
    val cells = cells0.crossJoin(broadcast(stats))
      .withColumn("mean_own", when(col("event_type") === classA,
          col("sa") / col("n_a").cast("double"))
        .otherwise(col("sb") / col("n_b").cast("double")))
      .withColumn("dv", abs(col("c").cast("double") - col("mean_own")))
      .groupBy(col("dv"), col("event_type")).agg(sum(col("mv")).as("mv"))
    // rankedValues on the double deviation key: per-distinct tie counts +
    // exclusive prefix via contiguous 4096-unit buckets (deviations are
    // cents-scale, so the bucket frame stays value-range-bounded)
    val perV = cells.groupBy(col("dv")).agg(sum(col("mv")).as("tv"))
      .withColumn("bkt", floor(col("dv") / lit(4096.0)).cast("long"))
    val bt = perV.groupBy(col("bkt")).agg(sum(col("tv")).as("btv"))
    val base = bt.withColumn("base", coalesce(
        sum(col("btv")).over(Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("base"))
    val w = Window.partitionBy(col("bkt")).orderBy(col("dv"))
    val rv = perV.join(broadcast(base), "bkt")
      .withColumn("cnt_less", col("base") + sum(col("tv")).over(w) - col("tv"))
      .select(col("dv"), col("tv"), col("cnt_less"))
    val joined = cells.join(rv, "dv")
      .withColumn("r2",
        (lit(2L) * col("cnt_less") + col("tv") + lit(1L)).cast(dec38))
    val sums = joined.agg(
      sum(when(col("event_type") === classA, col("mv")).otherwise(0L)
        .cast(dec38) * col("r2") * col("r2")).as("t4"),
      sum(col("mv").cast(dec38) * col("r2") * col("r2")).as("s2"),
      sum(col("mv").cast(dec38) * col("r2") * col("r2") * col("r2") * col("r2")).as("s4"))
    stats.crossJoin(broadcast(sums))
      .withColumn("nad", col("n_a").cast("double"))
      .withColumn("nbd", col("n_b").cast("double"))
      .withColumn("nd", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("t_stat", d2(col("t4")) / lit(4.0))
      .withColumn("mean_t", col("nad") * d2(col("s2")) / col("nd") / lit(4.0))
      .withColumn("var_t",
        (col("nad") * col("nbd") / (col("nd") * (col("nd") - lit(1.0)))) *
          (d2(col("s4")) - d2(col("s2")) * d2(col("s2")) / col("nd")) / lit(16.0))
      .select(col("n_a"), col("n_b"), col("t_stat"), col("mean_t"), col("var_t"),
        when(col("var_t") > 0,
          (col("t_stat") - col("mean_t")) / sqrt(col("var_t"))).as("z_score"))
  }

  def statMannWhitney(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    val cells = cellsTwoMemo(events, classA, classB)
    val rv = rankedValuesMemo(events, cells, s"$classA-$classB")
    val d2 = graft.Det.decToDouble _
    val perGroup = cells.join(rv, "c")
      .groupBy(col("event_type"))
      .agg(sum(col("mv")).as("ni"),
        sum(col("mv").cast(dec38) *
          (lit(2L) * col("cnt_less") + col("tv") + lit(1L))).as("r2i"))
    val ties = rv.agg(
      sum(col("tv").cast(dec38) * col("tv") * col("tv") - col("tv")).as("t3t"))
    perGroup
      .agg(max(when(col("event_type") === classA, col("ni"))).as("n_a"),
        max(when(col("event_type") === classB, col("ni"))).as("n_b"),
        max(when(col("event_type") === classA, col("r2i"))).as("r2a"))
      .crossJoin(broadcast(ties.select(d2(col("t3t")).as("td"))))
      // 2U = 2R_a − n_a(n_a+1), exact in decimal, then one split-cast
      .withColumn("u_stat",
        d2(col("r2a") - (col("n_a").cast(dec38) * (col("n_a") + lit(1L))))
          / lit(2.0))
      .withColumn("nad", col("n_a").cast("double"))
      .withColumn("nbd", col("n_b").cast("double"))
      .withColumn("nd", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("mean_u", col("nad") * col("nbd") / lit(2.0))
      .withColumn("var_u",
        (col("nad") * col("nbd") / lit(12.0)) *
          ((col("nd") + lit(1.0)) -
            col("td") / (col("nd") * (col("nd") - lit(1.0)))))
      .select(col("n_a"), col("n_b"), col("u_stat"), col("mean_u"),
        col("var_u"),
        when(col("var_u") > 0,
          (col("u_stat") - col("mean_u")) / sqrt(col("var_u"))).as("z_score"),
        (lit(1.0) - lit(2.0) * col("u_stat") / (col("nad") * col("nbd")))
          .as("rank_biserial"))
  }

  /** Mood's MEDIAN test across all event classes — the third leg of the
    * nonparametric family ([[statKruskalWallis]] = rank ANOVA,
    * [[statMannWhitney]] = two-sample): do the classes share a median?
    * Coarser than KW but robust to ANY shape difference other than
    * location — the screen to run when even rank magnitudes are suspect.
    * The GLOBAL median is the discrete lower order statistic (the
    * `agg_quantiles` contract — never an interpolated percentile), found
    * WITHOUT a global sort: smallest distinct cents value whose
    * cumulative count reaches ⌈N/2⌉, read off the same prefix-summed
    * distinct-value frame as the rank tests. Per-class above/≤ splits
    * come from the contingency cells; χ² = Σ(O−E)²/E over the k×2 table
    * accumulates its per-class terms in micro-unit DECIMAL(38,0) (group
    * order cannot matter) and finishes in a fixed chain. */
  def statMoodMedian(events: DataFrame): DataFrame = {
    val cells = cellsAllMemo(events)
    val rv = rankedValuesMemo(events, cells, "all")
    val d2 = graft.Det.decToDouble _
    // lower median: first value whose cumulative count ≥ ⌈N/2⌉
    val med = rv
      .crossJoin(broadcast(rv.agg(sum(col("tv")).as("n_total"))))
      .filter(col("cnt_less") + col("tv") >=
        idiv(col("n_total") + lit(1L), lit(2L))) // ⌈N/2⌉ = (N+1) div 2
      .agg(min(col("c")).as("med_c"))
    val perClass = cells
      .crossJoin(broadcast(med))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("mv")).as("ni"),
        sum(when(col("c") > col("med_c"), col("mv")).otherwise(lit(0L))).as("ai"))
    val totals = perClass.agg(sum(col("ni")).as("n"), sum(col("ai")).as("a"))
    perClass
      .crossJoin(broadcast(totals))
      .withColumn("e_above",
        col("ni").cast("double") * col("a").cast("double") / col("n").cast("double"))
      .withColumn("e_below",
        col("ni").cast("double") * (col("n") - col("a")).cast("double") /
          col("n").cast("double"))
      // per-class χ² term ×1e6 → DECIMAL(38,0): order-free re-accumulation
      // that the split cast carries drift-free (the KW micro-unit lesson).
      // r8 (ADVICE): the term itself is guarded — when every value ties on
      // one side of the grand median (n_above = 0 or = n_total) the
      // expected cells are 0.0, and an unguarded divide degrades
      // differently per engine (Spark null-on-zero-divide vs IEEE Inf/NaN
      // that DuckDB's DECIMAL cast then REJECTS — a query error, not a
      // null row). The output-level n_above guard still nulls chi2.
      .withColumn("term", when(col("e_above") > 0 && col("e_below") > 0,
        ((((col("ai").cast("double") - col("e_above")) *
          (col("ai").cast("double") - col("e_above")) / col("e_above")) +
        (((col("ni") - col("ai")).cast("double") - col("e_below")) *
          ((col("ni") - col("ai")).cast("double") - col("e_below")) /
          col("e_below"))) * lit(1000000.0)).cast(DecimalType(38, 0))))
      .agg(count(lit(1)).as("k"), max(col("n")).as("n_total"),
        max(col("a")).as("n_above"),
        d2(sum(col("term"))).as("chi2m"))
      .crossJoin(broadcast(med))
      .select(col("k"), col("n_total"), col("n_above"),
        (col("med_c").cast("double") / lit(100.0)).as("grand_median"),
        when(col("n_above") > 0 && col("n_above") < col("n_total"),
          col("chi2m") / lit(1000000.0)).as("chi2"))
  }

  /** Spearman rank correlation between the hourly click-count and
    * purchase-count series — `stat_corr_hourly`'s robust sibling (Pearson
    * answers "linear co-movement", Spearman "monotone co-movement", immune
    * to the burst outliers event streams always carry). Ranks are
    * row_number under the documented total order (count, hour) — a FIXED
    * tie convention both engines can spell — realized distributed by
    * [[graft.Dist.rankByRange]] (one range exchange per axis, no
    * partition-less window even though the hourly frame is time-bounded).
    * Sums of rank products stay in DECIMAL(38,0) (ranks ≤ n_hours, so
    * Σr² ≤ n³ — past 2^53 for decade-scale hourly history) and cross to
    * double via the split; ρ finishes in one fixed sqrt chain. */
  def statSpearmanHourly(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val rx = graft.Dist.rankByRange(hourly, "rx", col("x"), col("hour"))
    val rxy = graft.Dist.rankByRange(rx, "ry", col("y"), col("hour"))
    val d2 = graft.Det.decToDouble _
    val sums = rxy.agg(
      count(lit(1)).as("n_hours"),
      d2(sum(col("rx").cast(dec38))).as("sx"),
      d2(sum(col("ry").cast(dec38))).as("sy"),
      d2(sum(col("rx").cast(dec38) * col("ry"))).as("sxy"),
      d2(sum(col("rx").cast(dec38) * col("rx"))).as("sxx"),
      d2(sum(col("ry").cast(dec38) * col("ry"))).as("syy"))
    sums.select(col("n_hours"),
      ((col("n_hours") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n_hours") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n_hours") * col("syy") - col("sy") * col("sy"))))
        .as("spearman_rho"))
  }

  /** r8: Friedman test — the repeated-measures rank ANOVA the family still
    * lacked: blocks = hours, treatments = event classes, "do the classes
    * keep the same traffic ORDERING hour after hour?" (Kruskal–Wallis
    * pools all rows and a lively hour would drown a quiet one; Friedman
    * ranks WITHIN each hour, so every hour votes equally — the paired
    * design). The (class × hour) grid is DENSIFIED (a class silent in an
    * hour is rank-relevant zero traffic, exactly the `stat_ljung_box`
    * densification argument); ties take midranks, carried ×2 so every
    * rank is an exact INTEGER (r2 = 2·rank + ties − 1, a fixed
    * convention both engines spell with rank() + a tie count — no
    * fractional midrank ever materializes). Q = 3·ΣR₂ⱼ²/(n·k·(k+1)) −
    * 3·n·(k+1) after substituting Rⱼ = R₂ⱼ/2 into the classic statistic
    * (uncorrected for ties, stated as such — it is a screening
    * statistic, not a p-value). ΣR₂ⱼ² accumulates in DECIMAL(38,0).
    * Plan: one (class, hour) hash agg, the bounded classes×hours grid,
    * one per-hour rank window (hour-keyed — parallel by block), two tiny
    * aggs. Per-class rows carry the shared Q plus each class's mean
    * midrank — the effect direction. */
  /** The densified (class × hour) grid with doubled within-hour midranks
    * (r2 = 2·rank + ties − 1, every value an exact integer) — the blocked
    * rank design shared by [[statFriedman]] and
    * [[Association.statPageTrend]] (r10). Extracted verbatim from
    * statFriedman, so the Friedman plan shape is unchanged. */
  private[ops] def friedmanRankedGrid(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))
    val classes = hourly.select(col("event_type")).distinct()
    val hours = hourly.select(col("hr")).distinct()
    val grid = hours.crossJoin(broadcast(classes))
      .join(hourly, Seq("event_type", "hr"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val wRank = Window.partitionBy(col("hr")).orderBy(col("n"))
    val wTies = Window.partitionBy(col("hr"), col("n"))
    grid
      .withColumn("rk", rank().over(wRank).cast("long"))
      .withColumn("ties", count(lit(1)).over(wTies))
      .withColumn("r2", lit(2L) * col("rk") + col("ties") - 1)
  }

  def statFriedman(events: DataFrame): DataFrame = {
    val ranked = friedmanRankedGrid(events)
    val perClass = ranked.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("r2").cast(DecimalType(38, 0))).as("rs2"))
    val d2 = graft.Det.decToDouble _
    val totals = perClass.agg(count(lit(1)).as("k"),
      max(col("n_blocks")).as("nb"),
      d2(sum(col("rs2") * col("rs2"))).as("srr"))
    perClass.crossJoin(broadcast(totals))
      .withColumn("kd", col("k").cast("double"))
      .withColumn("nd", col("nb").cast("double"))
      .select(col("event_type"), col("n_blocks"), col("k"),
        col("rs2").cast("long").as("rank_sum_x2"),
        (d2(col("rs2")) / (lit(2.0) * col("nd"))).as("mean_midrank"),
        (lit(3.0) * col("srr") / (col("nd") * col("kd") * (col("kd") + lit(1.0))) -
          lit(3.0) * col("nd") * (col("kd") + lit(1.0))).as("q_stat"))
      .orderBy("event_type")
  }

  /** r9: Wilcoxon signed-rank test on the PAIRED hourly click/purchase
    * counts — the missing cell in the nonparametric grid:
    * [[statMannWhitney]] compares two INDEPENDENT samples,
    * `stat_sign_test` compares paired samples but throws away magnitude;
    * Wilcoxon keeps the pairing AND the magnitude ranks (the standard
    * pre/post or A/B-on-the-same-units test; reference anchor: the
    * per-branch message tallies compared across branches,
    * `AIRWISEv0v1comb.py:240-321`). Per hour d = clicks − purchases;
    * zero diffs drop (the classic Wilcoxon convention, shared with the
    * sign test); ranks are over |d| with tie averaging; normal
    * approximation with tie-corrected variance:
    *   W⁺ = Σ_{d>0} r̄(|d|),   E[W⁺] = n(n+1)/4,
    *   Var = n(n+1)(2n+1)/24 − Σ(t³−t)/48.
    * EXACTNESS: the pooled |d| sample is never row-ranked — the same
    * contingency-cell identity as the other rank tests (2r̄(v) =
    * 2·cntLess(v) + t(v) + 1 via [[rankedValues]]), so 2W⁺ is an exact
    * DECIMAL(38,0); 2·E = n(n+1)/2 and 48·Var = 2n(n+1)(2n+1) − Σ(t³−t)
    * are exact integers; one base-2^53 split each, then a single fixed
    * IEEE chain (sub, halve, divide-by-√). SCALE: the hourly frame is
    * bounded by the time span (not the row count) and the cells frame by
    * the |d| vocabulary; one fact-table scan, two tiny aggs, no windows
    * over data-scaled frames. One row out. */
  def statWilcoxonSignedRank(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
    val diffs = hourly.select((col("x") - col("y")).as("d"))
      .filter(col("d") =!= 0L)
      .select(abs(col("d")).as("c"), (col("d") > 0).as("pos"))
    val cells = diffs.groupBy(col("c"), col("pos")).agg(count(lit(1)).as("mv"))
    val rv = rankedValues(cells)
    val d2 = graft.Det.decToDouble _
    val wplus = cells.filter(col("pos")).join(rv, "c")
      .agg(coalesce(sum(col("mv").cast(dec38) *
        (lit(2L) * col("cnt_less") + col("tv") + lit(1L))), lit(0L).cast(dec38))
        .as("w2"))
    val totals = rv.agg(
      sum(col("tv")).as("n"),
      sum(col("tv").cast(dec38) * col("tv") * col("tv") - col("tv")).as("t3t"))
    totals.crossJoin(broadcast(wplus))
      // 2E[W⁺] = n(n+1)/2 and 48·Var = 2n(n+1)(2n+1) − Σ(t³−t), both
      // exact integers (n(n+1) is always even); one split cast each
      .withColumn("mean2",
        idiv(col("n").cast(dec38) * (col("n") + lit(1L)), lit(2L)))
      .withColumn("varnum",
        lit(2L) * col("n").cast(dec38) * (col("n") + lit(1L)) *
          (lit(2L) * col("n") + lit(1L)) - col("t3t"))
      .withColumn("wd", d2(col("w2")))
      .withColumn("md", d2(col("mean2")))
      .withColumn("vd", d2(col("varnum")) / lit(48.0))
      .select(col("n").as("n_pairs"),
        (col("wd") / lit(2.0)).as("w_plus"),
        (col("md") / lit(2.0)).as("mean_w"),
        col("vd").as("var_w"),
        when(col("vd") > 0,
          (col("wd") - col("md")) / lit(2.0) / sqrt(col("vd"))).as("z_score"))
  }
  /** Ansari–Bradley two-sample DISPERSION test on two event classes'
    * value distributions — the scale-shift partner of [[statMannWhitney]]
    * (MW detects a LOCATION shift and is blind to spread; AB scores each
    * pooled rank by its distance from the NEAREST END, a(r) = min(r,
    * N+1−r), so a sample concentrated mid-range scores high and a
    * spread-out one low — "did this class's variance change" with no
    * normality assumption, the screen for a sensor whose noise floor
    * moved even though its mean held).
    *
    * EXACTNESS: ties force AVERAGED scores, and because a(r) bends at the
    * midpoint, the average over a tie-range straddling it is NOT a(r̄) —
    * the range sum is computed in closed form instead: with the group at
    * pooled ranks [a, b] and c = ⌊(N+1)/2⌋, Σa(r) = Σr over [a, min(b,c)]
    * + Σ(N+1−r) over [max(a,c+1), b] — two triangular sums, exact
    * integers in DECIMAL(38,0). The per-value division by the tie count
    * (AB_A = Σ_v m_A(v)·S_v/t_v, Σt·ā² = Σ S_v²/t_v) is quantized ONCE to
    * integer MICRO-units via integral divide — deterministic in both
    * engines (the Kruskal–Wallis micro-unit lesson), costing ≤1e-6 per
    * distinct value; exact while max_v S_v² · 10⁶ < 10³⁸ (S_v < 10¹⁶ —
    * a pathological all-tied pool of ~2·10⁸ rows; decades of headroom).
    * Moments are the sampling-without-replacement pair E = n_a·ΣS/N,
    * Var = n_a·n_b/(N−1)·(Σtā²/N − (ΣS/N)²), finished in a fixed IEEE
    * chain (sqrt is correctly rounded — safe).
    *
    * SCALE: the [[statKruskalWallis]] posture — the fact table is scanned
    * once into (value, class) contingency cells; every frame after is
    * vocabulary-bounded; the 1-row totals broadcast-cross onto the value
    * frame is the documented allowed BNLJ class. One row out. */
  def statAnsariBradley(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    val cells = cellsTwoMemo(events, classA, classB)
    val rv = rankedValuesMemo(events, cells, s"$classA-$classB")
    val perA = cells.groupBy(col("c"))
      .agg(sum(when(col("event_type") === classA, col("mv"))
        .otherwise(lit(0L))).as("ma"))
    val totals = cells.agg(
      sum(when(col("event_type") === classA, col("mv"))).as("n_a"),
      sum(when(col("event_type") === classB, col("mv"))).as("n_b"))
    val d2 = graft.Det.decToDouble _
    val mic = lit(1000000L)
    val scored = rv.join(perA, "c")
      .crossJoin(broadcast(totals))
      .withColumn("nn", col("n_a") + col("n_b"))
      .withColumn("a0", col("cnt_less") + lit(1L))
      .withColumn("b0", col("cnt_less") + col("tv"))
      .withColumn("cm", idiv(col("nn") + lit(1L), lit(2L)))
      .withColumn("b1", least(col("b0"), col("cm")))
      .withColumn("a2", greatest(col("a0"), col("cm") + lit(1L)))
      .withColumn("t1", when(col("a0") <= col("b1"),
        idiv((col("a0") + col("b1")).cast(dec38) *
          (col("b1") - col("a0") + lit(1L)), lit(2L))).otherwise(lit(0L)))
      .withColumn("t2", when(col("a2") <= col("b0"),
        idiv((lit(2L) * (col("nn") + lit(1L)) - col("a2") - col("b0"))
          .cast(dec38) * (col("b0") - col("a2") + lit(1L)), lit(2L)))
        .otherwise(lit(0L)))
      .withColumn("sv", col("t1") + col("t2"))
      .withColumn("term_a", idiv(col("ma").cast(dec38) * col("sv") * mic,
        col("tv")))
      .withColumn("q2", idiv(col("sv").cast(dec38) * col("sv") * mic,
        col("tv")))
    scored
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(col("sv").cast(dec38)).as("s1"),
        sum(col("term_a").cast(dec38)).as("abm"),
        sum(col("q2").cast(dec38)).as("q2m"))
      .withColumn("nd", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("ab_stat", d2(col("abm")) / lit(1000000.0))
      .withColumn("s1d", d2(col("s1")))
      .withColumn("mean_ab",
        col("n_a").cast("double") * col("s1d") / col("nd"))
      .withColumn("var_ab", when(col("nd") > lit(1.0),
        col("n_a").cast("double") * col("n_b").cast("double") /
          (col("nd") - lit(1.0)) *
          (d2(col("q2m")) / lit(1000000.0) / col("nd") -
            (col("s1d") / col("nd")) * (col("s1d") / col("nd")))))
      .select(col("n_a"), col("n_b"), col("ab_stat"), col("mean_ab"),
        col("var_ab"),
        when(col("var_ab") > 0,
          (col("ab_stat") - col("mean_ab")) / sqrt(col("var_ab")))
          .as("z_score"))
  }

  /** Cramér–von Mises two-sample test on two event classes' value
    * distributions — the WHOLE-SHAPE member of the two-sample family
    * ([[statMannWhitney]] = location, [[statAnsariBradley]] = dispersion,
    * `stat_ks_drift` = the single worst CDF gap; CvM integrates the
    * SQUARED gap over the whole pooled sample, so many small distributed
    * differences — a shape change KS's single supremum misses — still
    * register). Statistic (Anderson 1962): T = U/(N·n·m) − (4nm−1)/(6N)
    * with U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)² over each sample's pooled ranks
    * r against its own order index i.
    *
    * EXACTNESS: with midranks a tie-group of class-count t at pooled
    * doubled-midrank R2 occupies consecutive within-class indices [a,b],
    * and 4·Σ(r−i)² = Σ(R2−2i)² has the closed form t·d² + 2d·t(t−1) +
    * (2(t−1)t(2t−1)) div 3 with d = R2−2b — exact integers end to end
    * (the div-3 is exact: t(t−1)(2t−1) ≡ 0 mod 6), so 4U is an exact
    * DECIMAL(38,0) and T's divides are one fixed chain. Within-class
    * index prefixes ride the same two-phase bucket pattern as the pooled
    * ranks — never a partition-less window.
    *
    * SCALE: one fact scan into cells; everything after is vocabulary-
    * bounded; 1-row totals broadcast-cross is the allowed BNLJ class. */
  def statCramerVonMises(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    val cells = cellsTwoMemo(events, classA, classB)
    val rv = rankedValuesMemo(events, cells, s"$classA-$classB")
    // within-class exclusive prefix of mv, two-phase (class, bucket) form
    val perCv = cells.withColumn("bkt", idiv(col("c"), lit(4096L)))
    val bt = perCv.groupBy(col("event_type"), col("bkt"))
      .agg(sum(col("mv")).as("btv"))
    val base = bt.withColumn("base", coalesce(
        sum(col("btv")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("bkt"), col("base"))
    val wcb = Window.partitionBy(col("event_type"), col("bkt"))
      .orderBy(col("c"))
    val withIdx = perCv.join(broadcast(base), Seq("event_type", "bkt"))
      .withColumn("cl", col("base") + sum(col("mv")).over(wcb) - col("mv"))
    val d2 = graft.Det.decToDouble _
    val contrib = withIdx.join(rv, "c")
      .withColumn("r2", lit(2L) * col("cnt_less") + col("tv") + lit(1L))
      .withColumn("t", col("mv").cast(dec38))
      .withColumn("d", col("r2").cast(dec38) -
        lit(2L) * (col("cl") + col("mv")).cast(dec38))
      .withColumn("sum4", col("t") * col("d") * col("d") +
        lit(2L) * col("d") * col("t") * (col("t") - lit(1L)) +
        idiv(lit(2L) * (col("t") - lit(1L)) * col("t") *
          (lit(2L) * col("t") - lit(1L)), lit(3L)))
    contrib
      .groupBy(col("event_type")).agg(sum(col("mv")).as("ni"),
        sum(col("sum4")).as("s4"))
      .agg(max(when(col("event_type") === classA, col("ni"))).as("n_a"),
        max(when(col("event_type") === classB, col("ni"))).as("n_b"),
        max(when(col("event_type") === classA, col("s4"))).as("s4a"),
        max(when(col("event_type") === classB, col("s4"))).as("s4b"))
      .withColumn("u4", col("n_a").cast(dec38) * col("s4a") +
        col("n_b").cast(dec38) * col("s4b"))
      .withColumn("nad", col("n_a").cast("double"))
      .withColumn("nbd", col("n_b").cast("double"))
      .withColumn("nd", (col("n_a") + col("n_b")).cast("double"))
      .withColumn("t_stat",
        d2(col("u4")) / lit(4.0) / (col("nd") * col("nad") * col("nbd")) -
          (lit(4.0) * col("nad") * col("nbd") - lit(1.0)) /
            (lit(6.0) * col("nd")))
      .withColumn("e_t", (lit(1.0) + lit(1.0) / col("nd")) / lit(6.0))
      .withColumn("var_t",
        (col("nd") + lit(1.0)) / (lit(45.0) * col("nd") * col("nd")) *
          (lit(4.0) * col("nad") * col("nbd") * col("nd") -
            lit(3.0) * (col("nad") * col("nad") + col("nbd") * col("nbd")) -
            lit(2.0) * col("nad") * col("nbd")) /
          (lit(4.0) * col("nad") * col("nbd")))
      .select(col("n_a"), col("n_b"), col("t_stat"), col("e_t"),
        col("var_t"),
        when(col("var_t") > 0,
          (col("t_stat") - col("e_t")) / sqrt(col("var_t"))).as("z_score"))
  }

  /** r9: Cucconi two-sample LOCATION-AND-SCALE test — the joint screen
    * the split pair cannot be: [[statMannWhitney]] reads location,
    * [[statAnsariBradley]] reads dispersion, and running both costs two
    * α's and misses alternatives where small shifts in EACH conspire.
    * Cucconi (1968) standardizes the squared ranks U (sensitive to
    * location+scale from the right) and squared CONTRA-ranks V (from
    * the left) of one sample and combines them through their known
    * correlation ρ: C = (U² + V² − 2ρUV)/(2(1−ρ²)). Modern power
    * studies put it at or above the better-known Lepage — one number,
    * "did this class's distribution move or reshape at all".
    *
    * EXACTNESS: with midranks from the contingency-cell identity
    * (2r̄ = 2·cntLess + t + 1, the [[statKruskalWallis]] recipe), the
    * squared-rank sums are exact integers once doubled through:
    * 4S₁ = Σ m_B·(2r̄)², 4S₂ = Σ m_B·(2(N+1) − 2r̄)² — DECIMAL(38,0),
    * no per-row ranking, no division before the final fixed chain
    * (U = (6S₁ − m(N+1)(2N+1))/√(mn(N+1)(2N+1)(8N+11)/5) spelled with
    * the ×4 cleared, ρ and C one chain each). The asymptotic p-value
    * needs exp (off the recipe) — C with its 5%/1% thresholds (≈ 3.0/
    * 4.6) is the deliverable, the `ts_rescaled_range` precedent.
    * SCALE: the [[statMannWhitney]] posture exactly — one fact scan to
    * cells, vocabulary-bounded frames, 1-row out. */
  def statCucconi(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    val cells = cellsTwoMemo(events, classA, classB)
    val rv = rankedValuesMemo(events, cells, s"$classA-$classB")
    val d2 = graft.Det.decToDouble _
    val perB = cells.filter(col("event_type") === classB)
      .join(rv, "c")
      .withColumn("r2", (lit(2L) * col("cnt_less") + col("tv") + lit(1L))
        .cast(dec38))
    val totals = cells.agg(
      sum(when(col("event_type") === classA, col("mv"))).as("n_a"),
      sum(when(col("event_type") === classB, col("mv"))).as("n_b"))
    val sums = perB
      .crossJoin(broadcast(totals))
      .withColumn("nn", col("n_a") + col("n_b"))
      .groupBy(col("n_a"), col("n_b"), col("nn"))
      .agg(sum(col("mv") * col("r2") * col("r2")).as("q1"),
        sum(col("mv") *
          (lit(2L) * (col("nn") + lit(1L)) - col("r2")) *
          (lit(2L) * (col("nn") + lit(1L)) - col("r2"))).as("q2"))
    sums
      .withColumn("nd", col("nn").cast("double"))
      .withColumn("mb", col("n_b").cast(dec38))
      // 6S − m(N+1)(2N+1), the ×4 doubling cleared: (6q − 4m(N+1)(2N+1))/4
      .withColumn("u_num", d2(lit(6L).cast(dec38) * col("q1") -
        lit(4L).cast(dec38) * col("mb") * (col("nn") + lit(1L)) *
          (lit(2L) * col("nn") + lit(1L))) / lit(4.0))
      .withColumn("v_num", d2(lit(6L).cast(dec38) * col("q2") -
        lit(4L).cast(dec38) * col("mb") * (col("nn") + lit(1L)) *
          (lit(2L) * col("nn") + lit(1L))) / lit(4.0))
      .withColumn("den", sqrt(d2(
        col("n_a").cast(dec38) * col("n_b") * (col("nn") + lit(1L)) *
          (lit(2L) * col("nn") + lit(1L)) *
          (lit(8L) * col("nn") + lit(11L))) / lit(5.0)))
      .withColumn("u", when(col("den") > 0, col("u_num") / col("den")))
      .withColumn("v", when(col("den") > 0, col("v_num") / col("den")))
      .withColumn("rho",
        lit(2.0) * (col("nd") * col("nd") - lit(4.0)) /
          ((lit(2.0) * col("nd") + lit(1.0)) *
            (lit(8.0) * col("nd") + lit(11.0))) - lit(1.0))
      .select(col("n_a"), col("n_b"),
        // the raw 4S₁/4S₂ integers stay internal: casting them to long
        // for display would overflow silently here and loudly in DuckDB
        // at decade scale (the stat_jarque_bera ADVICE class) — u/v
        // carry the same information standardized
        col("u"), col("v"), col("rho"),
        when(col("rho") * col("rho") < 1.0,
          (col("u") * col("u") + col("v") * col("v") -
            lit(2.0) * col("rho") * col("u") * col("v")) /
            (lit(2.0) * (lit(1.0) - col("rho") * col("rho")))).as("c_stat"))
  }

  /** Hodges–Lehmann two-sample SHIFT ESTIMATOR — the effect size that
    * belongs to [[statMannWhitney]] (MW answers "is class A shifted from
    * class B?"; HL answers BY HOW MUCH, in value units): the median of
    * all pairwise differences a − b, the estimator that inverts the MW
    * test and inherits its robustness — one wild outlier moves a mean
    * difference arbitrarily and moves HL not at all. The robust sibling
    * of [[graft.ops.Inference.statCohensD]]'s standardized d.
    *
    * EXACTNESS: everything is integer — pair weights m_a·m_b over the
    * (value, class) contingency cells, difference values in cents, and
    * the weighted LOWER median (the `agg_quantiles` discrete convention,
    * ⌈W/2⌉ = (W+1) div 2) found by SELECTION-BY-COUNTING. No float
    * exists until the final /100 rescale.
    *
    * SCALE (r10, VERDICT r9 #1): the r9 form materialized the V_a × V_b
    * distinct-difference frame via `crossJoin(broadcast)` — 39.9 s at
    * sf0.1 and a fail-fast at sf1 (21k × 21k pairs). This form never
    * builds a pair anything: it binary-searches the median difference
    * directly (Monahan's selection algorithm, CACM 1984 — public
    * literature), counting pairs `ca − cb ≤ t` per probe with a
    * two-pointer scan over ONE merged sorted weighted vocabulary frame
    * (SufB(ca − t) is monotone in ca, so the B-pointer only advances).
    * Cost: O(V log V) for the vocab sort + O(V · log range) for the
    * ~⌈log₂ 2·range⌉ probes, all inside one bounded task over the
    * range-bounded vocab frame — the [[graft.ops.Inference.statKendallTauMerge]]
    * bounded-kernel discipline (mapPartitions, documented sequential
    * class). Counts accumulate in BigInt (m_a·suf_b crosses 2^63 at
    * decade scale) with early exit at k. The budget is now linear —
    * DISTINCT VALUES, not pairs (default 2·10⁷ ≈ a $200k cent range;
    * kernel arrays at that cap ≈ 480 MB in one task) — and still fails
    * loudly naming the same escape: coarser value quantization
    * (decicents collapse the vocab 10×, [[statHodgesLehmann]] with
    * `unitCents = 10`). Identical output schema and values ⇒ the SAME
    * oracle SQL hash-matches; `RankDispersionSpec` pins the literal
    * all-pairs lower median. 1-row out. */
  /** The HL budget's own metric — distinct quantized values across both
    * classes — exposed for [[graft.ext.Escapes]]' pre-flight routing. */
  /** Per-value class weights (c, wa, wb) over quantized cents — the
    * vocab-bounded core [[statHodgesLehmann]] folds over, MEMOIZED per
    * (corpus, classes, unit) so the routing count ([[hlVocabCount]]), the
    * inner vocab guard, and the selection fold all read ONE events scan
    * (r12; previously the auto form paid three). Coarse mode
    * (unitCents > 1) FLOOR-divides cents into wider buckets — floor, not
    * truncating, division so negative values bucket consistently in both
    * engines: a − ((a % u + u) % u) is the exact lower multiple. */
  private def hlMerged(events: DataFrame, classA: String, classB: String,
      unitCents: Long): DataFrame = {
    val raw = cents(col("value"))
    val u = lit(unitCents)
    val cq = if (unitCents == 1L) raw
      else idiv(raw - (((raw % u) + u) % u), u)
    graft.Memo.frame(events, s"hl-merged-$classA-$classB-$unitCents") {
      events
        .filter(col("value").isNotNull && col("event_type").isin(classA, classB))
        .select(col("event_type"), cq.as("c"))
        .groupBy(col("c"))
        .agg(sum(when(col("event_type") === classA, 1L).otherwise(0L)).as("wa"),
          sum(when(col("event_type") === classB, 1L).otherwise(0L)).as("wb"))
    }
  }

  private[graft] def hlVocabCount(events: DataFrame, classA: String = "click",
      classB: String = "view", unitCents: Long = 1L): Long =
    hlMerged(events, classA, classB, unitCents)
      .agg(count(lit(1))).collect()(0).getLong(0)

  def statHodgesLehmann(events: DataFrame, classA: String = "click",
      classB: String = "view", maxVocab: Long = 20000000L,
      unitCents: Long = 1L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // coarse mode (unitCents > 1) is [[hlMerged]]'s FLOOR-divide into
    // wider buckets — the documented vocab escape; u rescales the
    // selected bucket back to cents at the end.
    val u = lit(unitCents)
    // r12 (the interval-overlap single-bound discipline): the merged
    // per-value weight frame is vocab-bounded (≤ maxVocab rows by the
    // guard below) and feeds THREE consumers — the inner vocab probe, the
    // selection fold, and [[Escapes.hodgesLehmann]]'s routing count via
    // [[hlVocabCount]] — so it is memoized per (corpus, classes, unit):
    // one events scan serves router + guard + fold instead of three.
    val merged = hlMerged(events, classA, classB, unitCents)
    // pre-flight vocab budget: LINEAR in distinct values (1-row probe),
    // loud failure naming the quantization escape
    val nv = merged.agg(count(lit(1)).as("nv")).collect()(0).getLong(0)
    require(nv <= maxVocab,
      s"stat_hodges_lehmann: $nv distinct values exceed the $maxVocab " +
        "vocab budget - quantize values coarser (decicents) first")
    val kRow = merged.repartition(1).sortWithinPartitions(col("c"))
      .mapPartitions { it =>
        val cB = Array.newBuilder[Long]
        val aB = Array.newBuilder[Long]
        val bB = Array.newBuilder[Long]
        it.foreach { r => cB += r.getLong(0); aB += r.getLong(1); bB += r.getLong(2) }
        val cs = cB.result(); val wa = aB.result(); val wb = bB.result()
        var totA = 0L; var totB = 0L
        var i = 0
        while (i < cs.length) { totA += wa(i); totB += wb(i); i += 1 }
        if (totA == 0L || totB == 0L) Iterator.empty
        else {
          val k = (BigInt(totA) * BigInt(totB) + 1) / 2
          // suffix weights of class B: sufB(j) = Σ_{j' ≥ j} wb(j')
          val sufB = new Array[Long](cs.length + 1)
          var j = cs.length - 1
          while (j >= 0) { sufB(j) = sufB(j + 1) + wb(j); j -= 1 }
          // P(t) ⇔ #pairs{ca − cb ≤ t} ≥ k; two-pointer O(V) per probe
          def atLeastK(t: Long): Boolean = {
            var cnt = BigInt(0)
            var ii = 0; var jj = 0
            while (ii < cs.length && cnt < k) {
              if (wa(ii) != 0L) {
                val x = cs(ii) - t // pairs need cb ≥ x
                while (jj < cs.length && cs(jj) < x) jj += 1
                if (sufB(jj) != 0L) cnt += BigInt(wa(ii)) * sufB(jj)
              }
              ii += 1
            }
            cnt >= k
          }
          // smallest t with P(t): the count step-function jumps exactly at
          // achievable differences, so lo lands on one — the same value the
          // r9 prefix-summed pair frame selected
          var lo = cs(0) - cs(cs.length - 1)
          var hi = cs(cs.length - 1) - cs(0)
          while (lo < hi) {
            val mid = lo + (hi - lo) / 2
            if (atLeastK(mid)) hi = mid else lo = mid + 1
          }
          Iterator.single((totA, totB, lo))
        }
      }.toDF("n_a", "n_b", "d")
    // global agg reproduces the r9 contract exactly: 1 row, nulls when a
    // class is empty; identical column names/types ⇒ identical oracle hash
    kRow.agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        (max(col("n_a")).cast(dec38) * max(col("n_b"))).cast("long")
          .as("n_pairs"),
        (min(col("d")) * u).as("hl_cents"))
      .withColumn("hl_shift", col("hl_cents").cast("double") / lit(100.0))
  }

  /** r10b: Fligner–Policello robust rank-order test per event class —
    * the Behrens–Fisher cell of the rank grid: Mann–Whitney's null
    * requires EQUAL SHAPES under H₀ (its variance is wrong when the two
    * samples disagree in spread); F–P studentizes the placement sums by
    * their own empirical variances, staying valid under unequal shapes —
    * the right two-sample location screen next to `stat_cliff_delta`'s
    * effect size, on the same weekday/weekend per-hour samples.
    *
    * NEVER pairwise: doubled placements p2(v) = 2·cumOther_lt(v) +
    * cntOther_eq(v) ride the per-class count vocabulary (two cumulative
    * windows, the `stat_cliff_delta` frames); the placement sums and the
    * n-scaled squared deviations Σ m·(m·p2 − Σm·p2)² are exact
    * DECIMAL(38,0) integers, and
    *   Û = (ΣP − ΣQ) / (2·√(V_P + V_Q + P̄·Q̄))
    * finishes in ONE fixed IEEE chain off five exact integers (each
    * V = A/(4m²) and each mean = S/(2m) inside the chain, mirrored
    * textually in the oracle). Ties get the standard ½ credit. */
  def statFlignerPolicello(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("we", (weekday(col("hour")) >= 5).cast("int"))
    val cnt = hourly.groupBy(col("event_type"), col("n").as("v"))
      .agg(
        sum(when(col("we") === 0, 1L).otherwise(0L)).as("c_wd"),
        sum(when(col("we") === 1, 1L).otherwise(0L)).as("c_we"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val scanned = cnt
      .withColumn("cum_wd_lt", coalesce(sum(col("c_wd")).over(w), lit(0L)))
      .withColumn("cum_we_lt", coalesce(sum(col("c_we")).over(w), lit(0L)))
      // doubled placement of a weekday value among weekend values, and
      // vice versa
      .withColumn("p2", lit(2L) * col("cum_we_lt") + col("c_we"))
      .withColumn("q2", lit(2L) * col("cum_wd_lt") + col("c_wd"))
    val sums = scanned.groupBy(col("event_type")).agg(
      sum(col("c_wd")).as("m"),
      sum(col("c_we")).as("nn"),
      sum(col("c_wd").cast(dec38) * col("p2")).as("sp2"),
      sum(col("c_we").cast(dec38) * col("q2")).as("sq2"))
    val withDev = scanned.join(broadcast(sums), Seq("event_type"))
      .withColumn("dp", col("m").cast(dec38) * col("p2") - col("sp2"))
      .withColumn("dq", col("nn").cast(dec38) * col("q2") - col("sq2"))
      .groupBy(col("event_type"))
      .agg(max(col("m")).as("m"), max(col("nn")).as("nn"),
        max(col("sp2")).as("sp2"), max(col("sq2")).as("sq2"),
        sum(col("c_wd") * col("dp") * col("dp")).as("ap"),
        sum(col("c_we") * col("dq") * col("dq")).as("aq"))
    val d2 = graft.Det.decToDouble _
    val md = col("m").cast("double")
    val nd = col("nn").cast("double")
    val vP = d2(col("ap")) / (lit(4.0) * md * md)
    val vQ = d2(col("aq")) / (lit(4.0) * nd * nd)
    val pBar = d2(col("sp2")) / (lit(2.0) * md)
    val qBar = d2(col("sq2")) / (lit(2.0) * nd)
    withDev
      .select(col("event_type"), col("m").as("n_weekday"),
        col("nn").as("n_weekend"),
        col("sp2").cast("long").as("placement_sum_wd_x2"),
        col("sq2").cast("long").as("placement_sum_we_x2"),
        when(col("m") > 1 && col("nn") > 1 &&
          vP + vQ + pBar * qBar > 0,
          (d2(col("sp2")) / 2.0 - d2(col("sq2")) / 2.0) /
            (lit(2.0) * sqrt(vP + vQ + pBar * qBar))).as("fp_u"))
      .orderBy("event_type")
  }

  /** r10b: Anderson–Darling two-sample test (Scholz–Stephens A²kN, the
    * DISCRETE right-continuous k=2 form — denominator B(N−B), last pooled
    * value excluded, NO midrank adjustment and no (N−1)/N factor; it will
    * not match midrank implementations such as scipy's anderson_ksamp,
    * which compute the tie-adjusted A²akN) on the click-vs-view value
    * samples — the
    * missing member of the EDF family: KS reads the single worst CDF gap,
    * CvM the average squared gap, AD the average squared gap WEIGHTED BY
    * 1/(F(1−F)) — maximum sensitivity in the TAILS, which is where sensor
    * distributions actually disagree (a KS-invisible tail inflation is an
    * AD rejection). Screening statistic: A² is emitted against its null
    * mean k−1 = 1; no p (the `stat_friedman` convention, stated — the
    * null variance needs harmonic double sums with no exact spelling).
    *
    * EXACTNESS: for k = 2 the two samples' deviation terms collapse to
    * one — N·M_Bj − n·B_j = −(N·M_Aj − m·B_j) — so
    *   A² = (1/N)(1/m + 1/n) Σ_j l_j·D_j²/(B_j(N−B_j)),  D = N·M_A − m·B
    * with every D an EXACT integer (< 2^53, so its double is exact); each
    * term is one fixed IEEE chain, and the terms are summed by a
    * value-SORTED fold replay (`sort_array` + `aggregate` ↔ ordered
    * `list()` + `list_reduce`) so the float sum has ONE defined order in
    * both engines — the `stat_mantel_haenszel` device at vocabulary
    * scale, span-guarded. SCALE: everything rides the pooled value
    * VOCABULARY (saturates toward the value range, never row count). */
  def statAdTwosample(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    // NEGATIVE A/B (r14, guide §1): pivoting off the shared memoized cells
    // frame measured SLOWER warm than this lean inline pivot (the
    // conover lesson: a cached read + extra agg stage loses to one
    // codegen'd scan+agg when the query needs nothing else) — kept inline.
    val cents = (c: Column) =>
      (c.cast(DecimalType(28, 2)) * 100).cast(dec38).cast("long")
    val cells = events
      .filter(col("value").isNotNull && col("event_type").isin(classA, classB))
      .select(col("event_type"), cents(col("value")).as("c"))
      .groupBy(col("c"))
      .agg(
        sum(when(col("event_type") === classA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === classB, 1L).otherwise(0L)).as("cb"))
      .withColumn("l", col("ca") + col("cb"))
    val wCum = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = cells
      .withColumn("ma", sum(col("ca")).over(wCum))
      .withColumn("b", sum(col("l")).over(wCum))
    val totals = cells.agg(
      sum(col("ca")).as("m"), sum(col("cb")).as("nn"),
      count(lit(1)).as("n_distinct"))
    val d2 = graft.Det.decToDouble _
    val terms = cum.crossJoin(broadcast(totals))
      .withColumn("nt", col("m") + col("nn"))
      .filter(col("b") < col("nt")) // the last pooled value: B = N, excluded
      .withColumn("dj",
        col("nt").cast(dec38) * col("ma") - col("m").cast(dec38) * col("b"))
      .withColumn("term",
        col("l").cast("double") * (d2(col("dj")) * d2(col("dj"))) /
          (col("b").cast("double") *
            (col("nt").cast("double") - col("b").cast("double"))))
    terms
      .groupBy(col("m"), col("nn"), col("n_distinct"))
      .agg(graft.ops.Guards.boundedSeries(
        sort_array(collect_list(struct(col("c"), col("term")))),
        "stat_ad_twosample").as("rs"))
      .withColumn("s",
        expr("aggregate(rs, 0.0d, (acc, r) -> acc + r.term)"))
      .select(col("m").as("n_a"), col("nn").as("n_b"), col("n_distinct"),
        when(col("m") > 0 && col("nn") > 0,
          (lit(1.0) / (col("m") + col("nn")).cast("double")) *
            (lit(1.0) / col("m").cast("double") +
              lit(1.0) / col("nn").cast("double")) * col("s")).as("a2_kn"))
  }

  /** r11: Mood scale test on the click-vs-view value samples — the
    * DISPERSION member of the rank family, with midranks: Ansari–Bradley
    * ranks inward from both ends (linear weights); Mood squares the
    * centered ranks, T = Σ_{i∈A}(rᵢ − (N+1)/2)², weighting the TAILS
    * quadratically — a variance-style read that stays rank-robust (the
    * `stat_ad_twosample` philosophy applied to scale instead of fit).
    * z is computed from the EXACT finite-population permutation moments
    * GIVEN the realized midranks (draw n_A of the N midrank scores
    * without replacement): E[T] = m·Ā, Var[T] = mn/(N−1)·(Σa²/N − Ā²)
    * — the tie correction is therefore built in, not bolted on (with no
    * ties these collapse to the textbook m(N²−1)/12 and
    * mn(N+1)(N²−4)/180).
    *
    * EXACTNESS: a tied group of l observations ending at pooled
    * cumulative count b has midrank (2b − l + 1)/2, so the centered rank
    * is u/2 with u = 2b − l − N an EXACT integer; all three fold terms
    * (c_A·u², l·u², l·u⁴ — the ×4/×4/×16 scalings cancel inside z) are
    * fixed IEEE chains per vocabulary cell, summed by the value-SORTED
    * fold replay (`sort_array` + `aggregate` ↔ ordered `list()` +
    * `list_reduce`), one defined float order in both engines; the final
    * z is one fixed chain. SCALE: rides the pooled value VOCABULARY,
    * like every member of the rank-test family. */
  def statMoodScale(events: DataFrame, classA: String = "click",
      classB: String = "view"): DataFrame = {
    // NEGATIVE A/B (r14): inline pivot kept — see statAdTwosample.
    val cents = (c: Column) =>
      (c.cast(DecimalType(28, 2)) * 100).cast(dec38).cast("long")
    val cells = events
      .filter(col("value").isNotNull && col("event_type").isin(classA, classB))
      .select(col("event_type"), cents(col("value")).as("c"))
      .groupBy(col("c"))
      .agg(
        sum(when(col("event_type") === classA, 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === classB, 1L).otherwise(0L)).as("cb"))
      .withColumn("l", col("ca") + col("cb"))
    val wCum = Window.orderBy(col("c"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = cells.withColumn("b", sum(col("l")).over(wCum))
    val totals = cells.agg(
      sum(col("ca")).as("m"), sum(col("cb")).as("nn"),
      count(lit(1)).as("n_vocab"))
    val terms = cum.crossJoin(broadcast(totals))
      .withColumn("u",
        (lit(2L) * col("b") - col("l") - (col("m") + col("nn"))).cast("double"))
      .withColumn("ta", col("ca").cast("double") * (col("u") * col("u")))
      .withColumn("t2", col("l").cast("double") * (col("u") * col("u")))
      .withColumn("t4", col("l").cast("double") *
        ((col("u") * col("u")) * (col("u") * col("u"))))
    terms
      .groupBy(col("m"), col("nn"), col("n_vocab"))
      .agg(graft.ops.Guards.boundedSeries(
        sort_array(collect_list(struct(col("c"), col("ta"), col("t2"),
          col("t4")))), "stat_mood_scale").as("rs"))
      .withColumn("f", expr(
        """aggregate(rs, array(0.0d, 0.0d, 0.0d),
             (acc, r) -> array(acc[0] + r.ta, acc[1] + r.t2, acc[2] + r.t4))"""))
      .select(col("m").as("n_a"), col("nn").as("n_b"), col("n_vocab"),
        col("f")(0).as("t4_stat"),
        when(col("m") > 0 && col("nn") > 0 && (col("m") + col("nn")) > 1, {
          val nD = (col("m") + col("nn")).cast("double")
          val e4 = col("m").cast("double") * col("f")(1) / nD
          val v16 = col("m").cast("double") * col("nn").cast("double") /
            (nD - lit(1.0)) *
            (col("f")(2) / nD - (col("f")(1) / nD) * (col("f")(1) / nD))
          when(v16 > 0.0, (col("f")(0) - e4) / sqrt(v16))
        }).as("z_mood"))
  }

  /** r10b: Cochran–Mantel–Haenszel test + the MH common odds ratio —
    * "is conversion associated with the weekend AFTER controlling for
    * the time of day?": the marginal 2×2 (weekend × purchase-vs-click)
    * is confounded by day-part (weekends have different hour mixes); CMH
    * stratifies over four 6-hour bands and pools the per-stratum
    * evidence — the Simpson's-paradox-proof reading, next to the
    * unstratified `stat_chi_square`.
    *
    * EXACTNESS — the fold-replay device, NOT row-parallel float sums:
    * the per-stratum cells are exact integers; the pooled terms
    * (a − E[a], Var, a·d/n, b·c/n) are rationals with per-stratum
    * denominators whose exact common denominator would overflow at
    * cluster scale (Πnᵢ), so each term is computed as ONE fixed IEEE
    * chain per stratum and summed by a 4-element `aggregate` fold over
    * the stratum-sorted struct array — the `list_reduce` replay pattern
    * (both engines fold in band order, so the float sum has ONE defined
    * order). χ²_CMH uses the standard ½ continuity correction. Strata
    * with n ≤ 1 are SKIPPED in both engines (their variance term divides
    * by n−1; a band holding a single event would otherwise NaN the whole
    * fold silently) — the standard sparse-stratum convention: a 1-row
    * stratum carries no within-stratum evidence anyway. */
  def statMantelHaenszel(events: DataFrame): DataFrame = {
    val cells = events
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(call_function("div", hour(col("ts")).cast("long"), lit(6L)).as("band"))
      .agg(
        sum(when(weekday(col("ts")) >= 5 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("a"),
        sum(when(weekday(col("ts")) >= 5 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("b"),
        sum(when(weekday(col("ts")) < 5 && col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("c"),
        sum(when(weekday(col("ts")) < 5 && col("event_type") === "click", 1L)
          .otherwise(0L)).as("d"))
    cells
      .filter(col("a") + col("b") + col("c") + col("d") > 1L)
      .agg(sort_array(collect_list(struct(col("band"), col("a"), col("b"),
        col("c"), col("d")))).as("rs"))
      .withColumn("f", expr(
        """aggregate(rs,
             array(0.0d, 0.0d, 0.0d, 0.0d, cast(0 as double)),
             (acc, s) -> array(
               acc[0] + (cast(s.a as double) -
                 cast(s.a + s.b as double) * cast(s.a + s.c as double) /
                   cast(s.a + s.b + s.c + s.d as double)),
               acc[1] + (cast(s.a + s.b as double) * cast(s.c + s.d as double) *
                 cast(s.a + s.c as double) * cast(s.b + s.d as double)) /
                 (cast(s.a + s.b + s.c + s.d as double) *
                  cast(s.a + s.b + s.c + s.d as double) *
                  cast(s.a + s.b + s.c + s.d - 1 as double)),
               acc[2] + cast(s.a as double) * cast(s.d as double) /
                 cast(s.a + s.b + s.c + s.d as double),
               acc[3] + cast(s.b as double) * cast(s.c as double) /
                 cast(s.a + s.b + s.c + s.d as double),
               acc[4] + s.a + s.b + s.c + s.d))"""))
      .select(
        col("f")(4).cast("long").as("n_total"),
        col("f")(0).as("sum_a_minus_e"),
        when(col("f")(1) > 0.0,
          (greatest(abs(col("f")(0)) - lit(0.5), lit(0.0)) *
            greatest(abs(col("f")(0)) - lit(0.5), lit(0.0))) / col("f")(1))
          .as("cmh_chi2_cc"),
        when(col("f")(3) > 0.0, col("f")(2) / col("f")(3)).as("mh_odds_ratio"))
  }
}
